"""SQL oracles for the NODE-state DPs on the main grid: ``viterbi_align``
(R7 over cand_node states, routing.viterbi_align) and ``greedy2_align``
(R8 routeGreedy2, routing.greedy2_align), plus two surfaces built on
the viterbi chain: ``flagship`` (entry()'s candidates -> Viterbi ->
tile cell chain) and ``trip_debug_align`` (the node-state -T debug
rows). All at full level-punish cost, bit-exact.

Exactness:

1. **Hop costs are EXACT dyadics.** The node graph's arc cost is
   ``length * LEVEL_PUNISH[level]`` (routing.node_csr, router.cpp:
   53-117) — length is the 2048 m grid spacing and every punish factor
   {1, 1.5, 2, 3, 4, 6, 8} is dyadic, so each arc cost and every
   shortest-path sum is an exact float64 integer below 2^53. Summation
   ORDER therefore cannot matter: a plain unrolled Bellman-Ford equals
   the engine's hop table (routing.hop_table) bit-for-bit, and the hop
   table depends only on the source node — computed ONCE per distinct
   candidate node and shared by every trip/layer (exactly like the
   engine's broadcast table, routing.hop_broadcast) and by BOTH oracles.

2. **DP float order replicated literally.** viterbi:
   ``total = (dp + hop) + emission`` (numpy broadcast order in
   routing.viterbi_batch); greedy2 (routing.greedy2_batch):
   ``score = emission + hop`` and ``acc = acc + score`` sequential
   (inf-latched). Emissions are
   ``dist * CAND_PEN_FAC`` floats, so these adds stay in engine order.

3. **Tie-breaks.** Layer rows are pre-sorted by edge_id and np.argmin
   takes the first minimum, so every argmin tie-break is "min row index
   = min edge_id" — a two-phase (value min, then row-index min) SQL
   aggregate, same pattern as gridviterbi (struct-MIN is ~1000x slower
   in DuckDB 1.0).

NODE_BF_ROUNDS: the BF fixpoint over ALL 1024 possible source nodes is
51 rounds (a universal bound for this graph, not just the observed
seeds); 56 adds margin, pytest-gated
(tests/test_nodedp.py::test_node_bf_rounds_universal).

Reference semantics: router.cpp:408-549 (layer DP), router.cpp:352-398
(greedy2), station_group.cpp:56-93 (A5 emission).
"""

from __future__ import annotations

from .. import constants as C
from .. import sqlgen
from . import candidates
from .gridviterbi import N_LAYERS

NODE_BF_ROUNDS = 56

# the trip whose every candidate state the -T surface lists
DEBUG_TRIP = "trip_3"

_INF = "CAST('infinity' AS DOUBLE)"


def _punish_case(col: str = "level") -> str:
    arms = " ".join(
        f"WHEN {col} = {i} THEN {f!r}" for i, f in enumerate(C.LEVEL_PUNISH)
    )
    return f"(CASE {arms} END)"


def _hop_ctes() -> str:
    """Shared node-graph hop table: ``nfin(src_node, node, total)`` —
    exact shortest-path cost from every distinct candidate node (only
    finite entries; unreachable pairs are absent = +inf)."""
    parts = [f""",
narc AS MATERIALIZED (
  SELECT src, dst, length * {_punish_case('level')} AS cost FROM edges
  UNION ALL
  SELECT dst, src, length * {_punish_case('level')} AS cost
  FROM edges WHERE NOT oneway
),
nb0 AS MATERIALIZED (
  SELECT DISTINCT cand_node AS src_node, cand_node AS node,
         CAST(0.0 AS DOUBLE) AS total
  FROM cand
)"""]
    for r in range(1, NODE_BF_ROUNDS + 1):
        parts.append(f""",
nb{r} AS MATERIALIZED (
  SELECT src_node, node, MIN(total) AS total FROM (
    SELECT src_node, node, total FROM nb{r - 1}
    UNION ALL
    SELECT b.src_node, a.dst, b.total + a.cost
    FROM nb{r - 1} b JOIN narc a ON a.src = b.node
  ) GROUP BY src_node, node
)""")
    parts.append(f""",
nfin AS MATERIALIZED (SELECT * FROM nb{NODE_BF_ROUNDS})""")
    return "".join(parts)


def _crow_cte() -> str:
    """Candidate rows with layer index (dense seq rank) and the engine's
    row order (sorted by edge_id within a layer)."""
    return f""",
nlyr AS (
  SELECT trip_id, seq,
         DENSE_RANK() OVER (PARTITION BY trip_id ORDER BY seq) - 1 AS li
  FROM (SELECT DISTINCT trip_id, seq FROM cand)
),
crow AS MATERIALIZED (
  SELECT c.trip_id, c.seq, l.li, c.image_id, c.edge_id, c.cand_node,
         c.dist * {C.CAND_PEN_FAC!r} AS emission,
         ROW_NUMBER() OVER (PARTITION BY c.trip_id, c.seq
                            ORDER BY c.edge_id) - 1 AS rix
  FROM cand c JOIN nlyr l ON l.trip_id = c.trip_id AND l.seq = c.seq
)"""


def viterbi_align_grid_sql(final_select: bool = True) -> str:
    """Oracle for ``viterbi_align``: the chosen candidate per (trip,
    seq) with the accumulated optimal cost — layered DP with
    ``total = (dp + hop) + emission`` and first-min (min edge_id)
    tie-breaks, backtracked from the last layer's argmin.

    With ``final_select=False`` the fragment ends in a ``valigned``
    CTE — the chosen node path as (trip_id, seq, x, y) vertices
    (node coords are the exact lattice integers col*spacing /
    row*spacing, datagen.nodes) — the polyline the eval-world oracles
    (operators/evalsql.py: segmentize, frechet_eval, df_histogram,
    eval_summary) cut and compare downstream."""
    parts = [candidates.candidates_cte_sql(), _hop_ctes(), _crow_cte()]
    parts.append(""",
dpv0 AS MATERIALIZED (
  SELECT trip_id, li, rix, cand_node, emission AS dp,
         CAST(-1 AS BIGINT) AS prev
  FROM crow WHERE li = 0
)""")
    for li in range(1, N_LAYERS):
        parts.append(f""",
dpv{li} AS MATERIALIZED (
  WITH u AS MATERIALIZED (
    SELECT c.trip_id, c.rix, c.cand_node,
           (p.dp + COALESCE(h.total, {_INF})) + c.emission AS tot,
           p.rix AS prix
    FROM crow c
    JOIN dpv{li - 1} p ON p.trip_id = c.trip_id
    LEFT JOIN nfin h ON h.src_node = p.cand_node AND h.node = c.cand_node
    WHERE c.li = {li}
  ),
  m AS (SELECT trip_id, rix, MIN(tot) AS tot FROM u GROUP BY trip_id, rix)
  SELECT u.trip_id, {li} AS li, u.rix, u.cand_node, m.tot AS dp,
         MIN(u.prix) AS prev
  FROM u JOIN m ON m.trip_id = u.trip_id AND m.rix = u.rix
             AND u.tot = m.tot
  GROUP BY u.trip_id, u.rix, u.cand_node, m.tot
)""")
    dp_union = "\n  UNION ALL\n".join(
        f"  SELECT * FROM dpv{li}" for li in range(N_LAYERS)
    )
    parts.append(f""",
dpall AS MATERIALIZED (
{dp_union}
),
vlast AS (SELECT trip_id, MAX(li) AS li FROM crow GROUP BY trip_id),
vback AS MATERIALIZED (
  WITH RECURSIVE vb(trip_id, li, rix) AS (
    SELECT trip_id, li, rix FROM (
      SELECT d.trip_id, d.li, d.rix,
             ROW_NUMBER() OVER (PARTITION BY d.trip_id
                                ORDER BY d.dp ASC, d.rix ASC) AS rk
      FROM dpall d JOIN vlast l ON l.trip_id = d.trip_id AND l.li = d.li
    ) WHERE rk = 1
    UNION ALL
    SELECT d.trip_id, d.li - 1, d.prev
    FROM vb b
    JOIN dpall d ON d.trip_id = b.trip_id AND d.li = b.li AND d.rix = b.rix
    WHERE d.li > 0
  )
  SELECT * FROM vb
)""")
    if final_select:
        parts.append("""
SELECT c.trip_id, c.seq, c.image_id, c.edge_id, c.cand_node, c.emission,
       d.dp AS acc_cost
FROM vback b
JOIN dpall d ON d.trip_id = b.trip_id AND d.li = b.li AND d.rix = b.rix
JOIN crow c ON c.trip_id = b.trip_id AND c.li = b.li AND c.rix = b.rix
""")
    else:
        parts.append(f""",
valigned AS MATERIALIZED (
  SELECT c.trip_id, c.seq,
         CAST((c.cand_node % {C.GRID_N}) * {C.GRID_SPACING!r} AS DOUBLE) AS x,
         CAST((c.cand_node // {C.GRID_N}) * {C.GRID_SPACING!r} AS DOUBLE) AS y
  FROM vback b
  JOIN crow c ON c.trip_id = b.trip_id AND c.li = b.li AND c.rix = b.rix
)""")
    return "".join(parts)


def flagship_grid_sql() -> str:
    """Oracle for ``entry()``'s chain (``flagship``): the
    ``viterbi_align`` oracle re-joined to its observations, plus the
    tile grid cell id (Grid.h:269-280)."""
    return f"""WITH vit AS (
{viterbi_align_grid_sql()}
),{sqlgen.points_cte()}
SELECT v.image_id, v.trip_id, v.seq, v.edge_id, v.cand_node,
       v.emission, v.acc_cost, p.x, p.y,
       {sqlgen.cell_id('p.x', 'p.y')} AS cell_id
FROM vit v JOIN points p USING (image_id)
"""


def trip_debug_align_grid_sql() -> str:
    """Oracle for ``trip_debug_align`` (``viterbi_align(debug=True)``):
    every DP state of ``DEBUG_TRIP`` with its layer cost, ``chosen`` =
    membership in the backtrack. The DP is per trip, so filtering the
    output equals filtering the candidates first."""
    return viterbi_align_grid_sql(final_select=False) + f"""
SELECT c.trip_id, c.seq, c.image_id, c.edge_id, c.cand_node, c.emission,
       d.dp AS acc_cost, (b.rix IS NOT NULL) AS chosen
FROM dpall d
JOIN crow c ON c.trip_id = d.trip_id AND c.li = d.li AND c.rix = d.rix
LEFT JOIN vback b ON b.trip_id = d.trip_id AND b.li = d.li AND b.rix = d.rix
WHERE d.trip_id = '{DEBUG_TRIP}'
"""


def greedy2_align_grid_sql() -> str:
    """Oracle for ``greedy2_align``: the sequential chain — layer 0
    takes min (emission, edge_id); layer i takes
    argmin(emission + hop(prev_choice, node)) with the inf-latched
    running ``acc = acc + score``."""
    parts = [candidates.candidates_cte_sql(), _hop_ctes(), _crow_cte()]
    parts.append(""",
g0 AS MATERIALIZED (
  WITH m AS (SELECT trip_id, MIN(emission) AS s FROM crow WHERE li = 0
             GROUP BY trip_id)
  SELECT c.trip_id, 0 AS li, MIN(c.rix) AS rix, m.s AS score, m.s AS acc
  FROM crow c JOIN m ON m.trip_id = c.trip_id AND c.emission = m.s
  WHERE c.li = 0
  GROUP BY c.trip_id, m.s
)""")
    for li in range(1, N_LAYERS):
        parts.append(f""",
g{li} AS MATERIALIZED (
  WITH u AS MATERIALIZED (
    SELECT c.trip_id, c.rix,
           c.emission + COALESCE(h.total, {_INF}) AS score, g.acc
    FROM g{li - 1} g
    JOIN crow gc ON gc.trip_id = g.trip_id AND gc.li = {li - 1}
                AND gc.rix = g.rix
    JOIN crow c ON c.trip_id = g.trip_id AND c.li = {li}
    LEFT JOIN nfin h ON h.src_node = gc.cand_node AND h.node = c.cand_node
  ),
  m AS (SELECT trip_id, MIN(score) AS s FROM u GROUP BY trip_id)
  SELECT u.trip_id, {li} AS li, MIN(u.rix) AS rix, m.s AS score,
         CASE WHEN ISFINITE(m.s) THEN ANY_VALUE(u.acc) + m.s
              ELSE {_INF} END AS acc
  FROM u JOIN m ON m.trip_id = u.trip_id AND u.score = m.s
  GROUP BY u.trip_id, m.s
)""")
    g_union = "\n  UNION ALL\n".join(
        f"  SELECT * FROM g{li}" for li in range(N_LAYERS)
    )
    parts.append(f""",
gall AS (
{g_union}
)
SELECT c.trip_id, c.seq, c.image_id, c.edge_id, c.cand_node, c.emission,
       g.acc AS acc_cost
FROM gall g
JOIN crow c ON c.trip_id = g.trip_id AND c.li = g.li AND c.rix = g.rix
""")
    return "".join(parts)
