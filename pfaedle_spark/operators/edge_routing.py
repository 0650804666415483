"""R2/R3/J4 — edge-based routing with turn costs and enforced
turn restrictions.

Reference semantics (re-expressed, not ported):

* R2 edge-based Dijkstra — the reference settles *edges*, not nodes,
  precisely so that turn costs and (via, from, to) restrictions can be
  applied per transition (``util/graph/EDijkstra.h:190-418``).
* R3 full cost vector — per-meter level punish x8, full-turn punish
  (angle test via ``angSmaller``/``innerProd``, ``Geo.h:797-817`` +
  ``router/misc.h:140-151``), oneway-violation meters, line-similarity
  meters, no-lines meters, pass-through-station punish; collapsed to a
  scalar with the config weights (``router/misc.h:75-137``; shipped
  defaults ``pfaedle.cfg:377-419``).
* J4 restriction enforcement — a restricted (via, from, to) transition
  is penalized like a wrong-way oneway traversal
  (``router/router.cpp:105-115``, ``trgraph/restrictor.cpp:11-58``):
  soft by default (data robustness), optionally hard (+inf/absent).

Driver-side design: the routing graph fits the driver (the router
collects the transitions and broadcasts them anyway), so the whole
cost model is ONE numpy kernel, :func:`transition_arrays`, over one
Arrow collect each of the edges, the nodes and the F10 restrictions:
a directed-edge self-join on the via node by argsort + searchsorted,
then every R3 term vectorized in the order its SQL twin evaluates it.
The DuckDB oracle (:func:`transitions_ctes`) builds the same table as
relational CTEs around ONE dialect-neutral cost string
(:func:`cost_expr`), so every term stays bit-identically checkable.
The edge-state Viterbi (:func:`state_viterbi_batch`) is the node-state
one's layered driver, ``routing.layered_viterbi``, with a step of one
banded ``routing.search`` per fingerprint and layer over a
``routing.build_csr`` of the transitions (states = directed edge ids).
It runs in ``routing.bucketed_apply``, the grouped runner, on runs of
fingerprints, over per-variant CSRs that the driver builds once per
call and broadcasts (:func:`_csr_broadcast`) — same axis the reference
parallelizes with OpenMP threads. Each fingerprint is solved once, by
:func:`viterbi_full`; :func:`shape_assembly` only walks its chosen
states. :func:`restricted_paths` gathers from ``routing.hop_table``
rows over the same CSR layout instead of searching per source.

At 100 TB the transitions table is graph-sized (scales with geography,
not with the observation/image table), so building and broadcasting it
on the driver follows the same budget argument as the node CSR in
``routing.py``.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import sqlgen
from ..functions import strings
from . import graph_ops, graph_passes, gtfs_ops
from .routing import (
    OPTS, _layer_grid, bucketed_apply, build_csr, heuristic, hop_costs, hop_lookup, index_of,
    layered_viterbi, on_grid, per_key, reachable, search, session_memo,
)

THIRD = 0.333333333  # routing_attributes.h:40-47 uses this literal
SIMI_EPS = 0.0001    # router.cpp:116 "cur < 0.0001 => perfect match"


def _D(x: float) -> str:
    """A bare decimal literal in dialect-neutral SQL: Spark parses it as
    DECIMAL (so downstream arithmetic and the driver's value hash come
    back as decimal.Decimal), DuckDB as DOUBLE. Emit an explicit DOUBLE
    cast so both engines agree on the type."""
    return f"CAST({x!r} AS DOUBLE)"

# route attributes of the synthetic query trip (routing_attributes:
# short_name / from / to); matches the synthetic line l10 and a subset
# of the from/to stop names so every simi component is exercised.
RATTRS = {"short_name": "l10", "from": "st 3", "to": "st 5"}

REV_OFF = 1 << 40  # reverse-copy edge-id offset (same stride as graph_ops)

EDGE_COLS = ("edge_id", "src", "dst", "x1", "y1", "x2", "y2", "level", "oneway", "length")
RESTR_COLS = ("via_node", "from_way", "to_way", "positive")
TRANS_SCHEMA = (
    "from_edge long, to_edge long, via_node long, cost double,"
    " fx double, fy double, tx double, ty double"
)

# restricted_paths query shape: sub-grid + source/target node sets
SUB_N = 8
SOURCE_NODES = [0, 33, 99, 132]   # includes restriction via nodes (s % 11 == 0)
TARGET_NODES = [231, 100, 66]
BF_ROUNDS = 170  # oracle Bellman-Ford unroll: provable upper bound on
                 # optimal path transitions in the 8x8 sub-grid — any
                 # optimum costs <= ~16 transitions x 21.5k (worst
                 # Manhattan route), every transition costs >= 2048, so
                 # >= 169 transitions can never be optimal


def _cos_full_turn(opts: dict) -> float:
    # theta < angle  <=>  cos(theta) > cos(angle)  for theta in [0, 180]:
    # lets the angle test run on dot products + sqrt only (bit-stable
    # across engines; acos is not).
    return math.cos(math.radians(opts["full_turn_angle"]))


# --------------------------------------------------------------------
# directed edge states
# --------------------------------------------------------------------

def directed_arrays(ed: dict) -> dict:
    """Directed edge states over collected edge columns: forward rows
    first, then a reverse copy of EVERY edge (``edge_id + REV_OFF``,
    endpoints swapped). Unlike graph_ops.write_odir_edges, which skips
    oneways, the reverse of a oneway is kept but flagged
    ``against_oneway`` and penalized — the reference models wrong-way
    travel as oneWay==2 with a per-meter punish, not as a missing edge
    (``edge_payload.h:47-139``, ``router.cpp:60``), for robustness
    against OSM data errors."""
    def both(a: str, b: str) -> np.ndarray:
        return np.concatenate([ed[a], ed[b]])

    return {
        "edge_id": np.concatenate([ed["edge_id"], ed["edge_id"] + REV_OFF]),
        "src": both("src", "dst"), "dst": both("dst", "src"),
        "x1": both("x1", "x2"), "y1": both("y1", "y2"),
        "x2": both("x2", "x1"), "y2": both("y2", "y1"),
        "level": both("level", "level"), "length": both("length", "length"),
        "against_oneway": np.concatenate(
            [np.zeros(len(ed["oneway"]), dtype=bool), ed["oneway"].astype(bool)]
        ),
    }


def _directed_full_cte(edge_src: str = "edges") -> str:
    return f"""
dedges AS (
  SELECT edge_id, src, dst, x1, y1, x2, y2, level, length,
         FALSE AS against_oneway
  FROM {edge_src}
  UNION ALL
  SELECT edge_id + {REV_OFF}, dst, src, x2, y2, x1, y1, level, length,
         oneway
  FROM {edge_src}
)"""


# --------------------------------------------------------------------
# transit-line match cost per edge (transitLineCmp, router.cpp:105-125)
# --------------------------------------------------------------------

def _line_cur_sql(rattrs: dict) -> str:
    """Per-line simi cost ``cur`` (routing_attributes.h:32-52): start at
    1, subtract 1/3 per matching component. Literal rattrs are folded at
    build time (empty component => unconditional subtract, as the
    reference short-circuits on ``short_name.empty()`` etc.)."""
    terms = []
    sn = rattrs["short_name"].replace("'", "''")
    if not rattrs["short_name"]:
        terms.append(_D(THIRD))
    else:
        simi = strings.line_simi_neutral_sql("line_name", f"'{sn}'")
        terms.append(f"CASE WHEN ({simi}) > 0.5 THEN {_D(THIRD)} ELSE 0.0 END")
    for attr, col in (("to", "to_stop"), ("from", "from_stop")):
        val = rattrs[attr].replace("'", "''")
        if not rattrs[attr]:
            terms.append(_D(THIRD))
        else:
            simi = strings.stat_simi_neutral_sql(col, f"'{val}'")
            terms.append(
                f"CASE WHEN LENGTH({col}) = 0 OR ({simi}) > 0.5"
                f" THEN {_D(THIRD)} ELSE 0.0 END"
            )
    return "CAST(1.0 AS DOUBLE) - " + " - ".join(terms)


def _line_cur(line_name: str, from_stop: str, to_stop: str, rattrs: dict) -> float:
    """Python twin of :func:`_line_cur_sql` for one line: the same three
    subtractions in the same order."""
    sn = rattrs["short_name"]
    cur = 1.0 - (THIRD if not sn or strings.line_simi_value(line_name, sn) > 0.5 else 0.0)
    for attr, val in (("to", to_stop), ("from", from_stop)):
        want = rattrs[attr]
        hit = not want or not val or strings.stat_simi_value(val, want) > 0.5
        cur = cur - (THIRD if hit else 0.0)
    return cur


_LINE_CMP_AGG = (
    f"CASE WHEN MIN(cur) < {_D(SIMI_EPS)} THEN 0.0 ELSE MIN(cur) END"
)  # == the reference's early-return-0 on a perfect line match


def edge_cmp(ed: dict, rattrs: dict = RATTRS) -> tuple[np.ndarray, np.ndarray]:
    """(edge ids, cmp) per *undirected* edge with lines, over collected
    edge columns: min over the edge's lines of the 3-component simi
    cost, clamped to 0 below SIMI_EPS. The lines are the synthetic
    ``gtfs_ops.edge_lines`` (level < 3 serves 'l<level*10>' from
    'st <src%9>' to 'st <dst%9>'); ``cur`` is evaluated once per
    distinct line triple, not once per edge."""
    served = ed["level"] < 3
    eid = ed["edge_id"][served].astype(np.int64)
    line = np.stack([
        ed["level"][served].astype(np.int64),
        np.fmod(ed["src"][served], 9),  # SQL %: sign of the dividend
        np.fmod(ed["dst"][served], 9),
    ], axis=1)
    uniq, inv = np.unique(line, axis=0, return_inverse=True)
    cur = np.array(
        [_line_cur(f"l{lv * 10}", f"st {s}", f"st {d}", rattrs) for lv, s, d in uniq.tolist()],
        dtype=np.float64,
    )[inv.reshape(-1)]
    ids, at = np.unique(eid, return_inverse=True)
    best = np.full(len(ids), np.inf)
    np.minimum.at(best, at.reshape(-1), cur)
    return ids, np.where(best < SIMI_EPS, 0.0, best)


def line_cmp(edges: DataFrame, rattrs: dict = RATTRS) -> DataFrame:
    """(edge_id, cmp) per *undirected* edge (:func:`edge_cmp` over one
    collect). Edges without lines are absent (the transition kernel
    reads them as 1.0 — the reference's ``best = 1`` initial)."""
    ids, cmp = edge_cmp(
        graph_ops.collect_columns(edges.select("edge_id", "src", "dst", "level")), rattrs
    )
    return graph_ops.columns_frame(
        edges.sparkSession, {"edge_id": ids, "cmp": cmp}, "edge_id long, cmp double"
    )


def _line_cmp_cte(rattrs: dict, edge_src: str = "edges", suffix: str = "") -> str:
    """SQL twin of :func:`line_cmp` (builds the synthetic edge_lines
    inline, mirroring gtfs_ops.edge_lines_sql). ``suffix`` namespaces
    the CTEs so several rattr variants can coexist in one statement."""
    return f"""
elines{suffix} AS (
  SELECT DISTINCT edge_id,
         'l' || CAST(level * 10 AS VARCHAR) AS line_name,
         'st ' || CAST(src % 9 AS VARCHAR)  AS from_stop,
         'st ' || CAST(dst % 9 AS VARCHAR)  AS to_stop
  FROM {edge_src} WHERE level < 3
),
ecmp{suffix} AS (
  SELECT edge_id, {_LINE_CMP_AGG} AS cmp
  FROM (SELECT edge_id, {_line_cur_sql(rattrs)} AS cur FROM elines{suffix})
  GROUP BY edge_id
)"""


# --------------------------------------------------------------------
# the transition table: numpy kernel + its SQL twin
# --------------------------------------------------------------------

def cost_expr(opts: dict = OPTS) -> str:
    """R3 collapsed cost of transition (a -> b) over via node a_dst, as
    ONE SQL string over the oracle's joined columns. Mirrors edge_cost's
    weighted collapse (misc.h:85-108) and CostFunc::operator() term
    construction (router.cpp:53-117):

    traverse(a): length x level punish, oneway/restriction meters,
    line-unmatched meters, no-lines meters (0 with route attributes);
    turn terms at the via node: full-turn punish (trivial reverse, or
    angle < fullTurnAngle at deg>2 intersections), pass-through-station
    punish. :func:`transition_arrays` adds the same terms in the same
    order.
    """
    lv = opts["level_punish"]
    lvl = ("CASE a_level " +
           " ".join(f"WHEN {i} THEN {_D(lv[i])}" for i in range(8)) +
           " ELSE 1.0 END")
    viol = "(a_ow OR rneg OR (rpos_to IS NOT NULL AND rpos_to <> b_orig))"
    # angle test (angSmaller, misc.h:140-151): vectors via->backHop(a),
    # via->frontHop(b); straight segments => backHop = a's start point,
    # frontHop = b's end point.
    dot = "((a_x1 - a_x2) * (b_x2 - b_x1) + (a_y1 - a_y2) * (b_y2 - b_y1))"
    l2a = "((a_x1 - a_x2) * (a_x1 - a_x2) + (a_y1 - a_y2) * (a_y1 - a_y2))"
    l2b = "((b_x2 - b_x1) * (b_x2 - b_x1) + (b_y2 - b_y1) * (b_y2 - b_y1))"
    full_turn = (
        "((a_src = b_dst AND a_dst = b_src) OR "
        f"(deg > 2 AND {dot} > {_D(_cos_full_turn(opts))} * SQRT({l2a}) * SQRT({l2b})))"
    )
    return (
        f"a_len * ({lvl})"
        f" + CASE WHEN {viol} THEN a_len * {_D(opts['oneway_punish_fac'])}"
        f" + {_D(opts['oneway_edge_punish'])} ELSE 0.0 END"
        f" + a_len * {_D(opts['line_unmatched_punish_fac'])} * a_cmp"
        " + 0.0"
        f" + CASE WHEN {full_turn} THEN {_D(opts['full_turn_punish'])} ELSE 0.0 END"
        f" + CASE WHEN via_station THEN {_D(opts['pass_thru_station_punish'])} ELSE 0.0 END"
    )


def _join_on_via(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Index pairs (a, b) with ``dst[a] == src[b]`` — the equi-join as
    argsort + searchsorted + repeat (a U-turn a -> rev(a) included)."""
    order = np.argsort(src, kind="stable")
    s = src[order]
    lo = np.searchsorted(s, dst, "left")
    cnt = np.searchsorted(s, dst, "right") - lo
    a = np.repeat(np.arange(len(dst)), cnt)
    b = order[np.repeat(lo - (np.cumsum(cnt) - cnt), cnt) + np.arange(len(a))]
    return a, b


def _row_index(keys: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Position of each row of ``q`` among the distinct rows ``keys``
    (int64, one column per key part); -1 where absent."""
    _, inv = np.unique(np.concatenate([keys, q]), axis=0, return_inverse=True)
    inv = inv.reshape(-1)
    pos = np.full(len(keys) + len(q), -1)
    pos[inv[: len(keys)]] = np.arange(len(keys))
    return pos[inv[len(keys):]]


def _restricted(rs: dict, via, a_orig, b_orig) -> np.ndarray:
    """Per transition: does it violate an F10 restriction? Either a
    distinct negative (via, from, to) row hits, or the positive rows of
    (via, from) mandate a different to-way (their min ``to_way``)."""
    out = np.zeros(len(via), dtype=bool)
    r = np.stack([np.asarray(rs[c], np.int64) for c in RESTR_COLS[:3]], axis=1)
    at = np.flatnonzero(np.isin(via, r[:, 0]))
    if not len(at):
        return out
    q = np.stack([via[at], a_orig[at], b_orig[at]], axis=1)
    pos = rs["positive"].astype(bool)
    rneg = _row_index(np.unique(r[~pos], axis=0), q) >= 0
    keys, inv = np.unique(r[pos, :2], axis=0, return_inverse=True)
    rpos_to = np.full(len(keys), np.iinfo(np.int64).max)
    np.minimum.at(rpos_to, inv.reshape(-1), r[pos, 2])
    hit = _row_index(keys, q[:, :2])
    found = hit >= 0
    out[at] = rneg
    out[at[found]] |= rpos_to[hit[found]] != q[found, 2]
    return out


def transition_arrays(
    edge_cols: dict,
    node_cols: dict,
    restr_cols: dict,
    rattrs: dict = RATTRS,
    opts: dict = OPTS,
) -> dict:
    """The edge-graph as driver-side columns: one row per directed-edge
    pair (a, b) sharing the via node ``a.dst == b.src``, with the full
    R3 transition cost.

    Inputs are collected columns: edges (:data:`EDGE_COLS`), nodes
    (``node_id``, ``is_station``; a via node missing from them is not a
    station) and F10 restrictions (:data:`RESTR_COLS`, the rows of
    ``gtfs_ops.read_restrictions``). Output columns: from_edge,
    to_edge, via_node, cost, plus the start-node coordinates of both
    states (fx, fy, tx, ty) for the A* heuristic — every transition
    cost >= a_len >= the displacement of the from-edge's start node,
    so straight-line-to-target-start is admissible and consistent.

    Bit-identical to :func:`transitions_ctes`: the terms of
    :func:`cost_expr` are added left to right, products associate as
    written there."""
    de = directed_arrays(edge_cols)
    a, b = _join_on_via(de["src"], de["dst"])
    eid = de["edge_id"]
    via = de["dst"][a]
    a_orig, b_orig = np.fmod(eid[a], REV_OFF), np.fmod(eid[b], REV_OFF)

    # degree: both ends of every undirected edge, parallel edges counted
    ends, _, counts = graph_passes.endpoint_degrees(edge_cols)
    deg = counts[np.searchsorted(ends, via)]
    order = np.argsort(node_cols["node_id"], kind="stable")
    pos, hit = graph_ops.lookup(node_cols["node_id"][order], via)
    via_station = np.zeros(len(via), dtype=bool)
    via_station[hit] = node_cols["is_station"][order][pos[hit]].astype(bool)
    ids, cmp = edge_cmp(edge_cols, rattrs)
    pos, hit = graph_ops.lookup(ids, a_orig)
    a_cmp = np.ones(len(via))
    a_cmp[hit] = cmp[pos[hit]]

    a_level, a_len = de["level"][a].astype(np.int64), de["length"][a]
    lvl = np.ones(len(via))
    in_table = (a_level >= 0) & (a_level < 8)
    lvl[in_table] = np.array([opts["level_punish"][i] for i in range(8)])[a_level[in_table]]
    viol = de["against_oneway"][a] | _restricted(restr_cols, via, a_orig, b_orig)
    ax1, ay1, ax2, ay2 = (de[c][a] for c in ("x1", "y1", "x2", "y2"))
    bx1, by1, bx2, by2 = (de[c][b] for c in ("x1", "y1", "x2", "y2"))
    dot = (ax1 - ax2) * (bx2 - bx1) + (ay1 - ay2) * (by2 - by1)
    l2a = (ax1 - ax2) * (ax1 - ax2) + (ay1 - ay2) * (ay1 - ay2)
    l2b = (bx2 - bx1) * (bx2 - bx1) + (by2 - by1) * (by2 - by1)
    # a_dst == b_src holds by the join, so the trivial reverse is a_src == b_dst
    full_turn = (de["src"][a] == de["dst"][b]) | (
        (deg > 2) & (dot > _cos_full_turn(opts) * np.sqrt(l2a) * np.sqrt(l2b))
    )
    cost = (
        a_len * lvl
        + np.where(viol, a_len * opts["oneway_punish_fac"] + opts["oneway_edge_punish"], 0.0)
        + a_len * opts["line_unmatched_punish_fac"] * a_cmp
        + 0.0  # no-lines term: 0 whenever route attributes are given
        + np.where(full_turn, opts["full_turn_punish"], 0.0)
        + np.where(via_station, opts["pass_thru_station_punish"], 0.0)
    )
    return {
        "from_edge": eid[a], "to_edge": eid[b], "via_node": via, "cost": cost,
        "fx": ax1, "fy": ay1, "tx": bx1, "ty": by1,
    }


def turn_transitions(
    edges: DataFrame,
    restrictions: DataFrame,
    nodes: DataFrame,
    rattrs: dict = RATTRS,
    opts: dict = OPTS,
) -> DataFrame:
    """The edge-graph as a DataFrame: one collect each of edges, nodes
    and restrictions, :func:`transition_arrays` on the driver, and the
    columns back as a local Arrow relation.

    Output: (from_edge, to_edge, via_node, cost, fx, fy, tx, ty)."""
    cols = transition_arrays(
        graph_ops.collect_columns(edges.select(*EDGE_COLS)),
        graph_ops.collect_columns(nodes.select("node_id", "is_station")),
        graph_ops.collect_columns(restrictions.select(*RESTR_COLS)),
        rattrs, opts,
    )
    return graph_ops.columns_frame(edges.sparkSession, cols, TRANS_SCHEMA)


def transitions_ctes(
    edge_filter: str | None = None,
    rattrs: dict = RATTRS,
    opts: dict = OPTS,
    head: str | None = None,
    edges_rel: str = "edges",
    nodes_rel: str = "nodes",
    suffix: str = "",
    emit_shared: bool = True,
) -> str:
    """DuckDB CTE chain ending in ``trans{suffix}(from_edge, to_edge,
    via_node, cost)`` — the bit-identical oracle twin of
    :func:`turn_transitions`. ``edge_filter`` restricts the edge set
    (sub-grid queries); ``head``/``edges_rel``/``nodes_rel`` let a
    different world (e.g. the corridor) supply its own relations while
    reusing the same cost SQL. ``suffix``/``emit_shared`` allow several
    rattr VARIANTS in one statement: the rattr-independent CTEs
    (dedges/deg/restr) are emitted once (emit_shared) and the
    rattr-folded ones (elines/ecmp/jt/trans) get per-variant names."""
    base = sqlgen.with_ctes("nodes", "edges") if head is None else head
    esrc = edges_rel
    shared = ""
    if edge_filter:
        shared += f""",
sub_edges AS (SELECT * FROM {edges_rel} WHERE {edge_filter})"""
        esrc = "sub_edges"
    if emit_shared:
        shared += f""",{_directed_full_cte(esrc)},
deg AS (
  SELECT node_id, COUNT(*) AS deg
  FROM (SELECT src AS node_id FROM {esrc} UNION ALL SELECT dst FROM {esrc})
  GROUP BY node_id
),
restr AS (
  SELECT src AS via_node, MIN(edge_id) AS from_way, MAX(edge_id) AS to_way,
         src % 22 = 0 AS positive
  FROM {esrc} WHERE src % 11 = 0
  GROUP BY src HAVING MIN(edge_id) <> MAX(edge_id)
)"""
    return f"""{base}{shared},{_line_cmp_cte(rattrs, esrc, suffix)},
jt{suffix} AS MATERIALIZED (
  SELECT a.edge_id AS a_edge, a.src AS a_src, a.dst AS a_dst,
         a.x1 AS a_x1, a.y1 AS a_y1, a.x2 AS a_x2, a.y2 AS a_y2,
         a.level AS a_level, a.length AS a_len, a.against_oneway AS a_ow,
         a.edge_id % {REV_OFF} AS a_orig,
         b.edge_id AS b_edge, b.src AS b_src, b.dst AS b_dst,
         b.x1 AS b_x1, b.y1 AS b_y1, b.x2 AS b_x2, b.y2 AS b_y2,
         b.edge_id % {REV_OFF} AS b_orig,
         d.deg AS deg,
         COALESCE(n.is_station, FALSE) AS via_station,
         (rn.via_node IS NOT NULL) AS rneg,
         rp.rpos_to AS rpos_to,
         COALESCE(c.cmp, 1.0) AS a_cmp
  FROM dedges a
  JOIN dedges b ON a.dst = b.src
  JOIN deg d ON d.node_id = a.dst
  LEFT JOIN {nodes_rel} n ON n.node_id = a.dst
  LEFT JOIN (SELECT DISTINCT via_node, from_way, to_way FROM restr WHERE NOT positive) rn
         ON rn.via_node = a.dst AND rn.from_way = a.edge_id % {REV_OFF}
        AND rn.to_way = b.edge_id % {REV_OFF}
  LEFT JOIN (SELECT via_node, from_way, MIN(to_way) AS rpos_to FROM restr
             WHERE positive GROUP BY via_node, from_way) rp
         ON rp.via_node = a.dst AND rp.from_way = a.edge_id % {REV_OFF}
  LEFT JOIN ecmp{suffix} c ON c.edge_id = a.edge_id % {REV_OFF}
),
trans{suffix} AS MATERIALIZED (
  SELECT a_edge AS from_edge, b_edge AS to_edge, a_dst AS via_node,
         {cost_expr(opts)} AS cost
  FROM jt{suffix}
)"""


def turn_transitions_sql() -> str:
    return transitions_ctes() + """
SELECT from_edge, to_edge, via_node, cost FROM trans
"""


# --------------------------------------------------------------------
# R2 — Dijkstra over edge states
# --------------------------------------------------------------------

def transition_csr(trans_pdf: pd.DataFrame) -> dict:
    """CSR over directed-edge states from a transitions table. State ids
    are the (sparse, offset-bearing) edge ids; the per-state start-node
    coords (turn_transitions fx/fy/tx/ty) feed the A* heuristic. The
    weak-component labels matter here: without the R6 shortcut ONE
    cross-component target in a Viterbi layer makes the A* exhaust the
    whole reachable graph before concluding "unreachable"."""
    ends = None
    if {"fx", "fy", "tx", "ty"} <= set(trans_pdf.columns):
        ends = [trans_pdf[c].to_numpy(np.float64) for c in ("fx", "fy", "tx", "ty")]
    return build_csr(
        trans_pdf["from_edge"].to_numpy(np.int64),
        trans_pdf["to_edge"].to_numpy(np.int64),
        trans_pdf["cost"].to_numpy(np.float64),
        ends,
    )


def _csr_broadcast(spark: SparkSession, transitions_by_variant: dict):
    """``{variant: transition_csr(table)}``, built once on the driver
    (which already holds the tables) and broadcast: workers index
    ``bc.value[variant]`` and build nothing, so two transition dicts
    never share worker-side state."""
    return spark.sparkContext.broadcast(
        {v: transition_csr(t) for v, t in transitions_by_variant.items()}
    )


def state_search(
    csr: dict, seeds: list[tuple[int, float]], targets: list[int], band: bool = False
) -> tuple[dict[int, float], dict[int, int]]:
    """:func:`routing.search` in raw edge-state ids: ONE multi-source A*
    for a whole Viterbi layer transition.

    ``seeds`` are (state edge id, accumulated DP cost), so a settled
    target t carries min_i(dp_i + dist(i -> t)) without ever
    materializing the |prev| x |cur| matrix or running |prev| separate
    searches (the reference pays the full N x M hop matrix per layer,
    router.cpp:626-688; the combined frontier explores each region
    once). ``band`` applies the R5 hop band.

    Returns ({target edge id: min total cost}, {target edge id: seed
    ORDINAL that won}). Deterministic: heap ties break on (cost, state
    edge id, seed ordinal)."""
    si = index_of(csr, [s for s, _ in seeds]).tolist()
    iseeds = [(i, float(c)) for i, (_, c) in zip(si, seeds)]
    ti = index_of(csr, targets).tolist()
    tg = reachable(csr, iseeds, ti)
    dist, origin = search(csr, iseeds, tg, heuristic(csr, tg), band=band)
    hits = [(t, i) for t, i in zip(targets, ti) if i in dist]
    return {t: dist[i] for t, i in hits}, {t: origin[i] for t, i in hits}


def state_path(csr: dict, source_edge: int, target_edge: int) -> list[int] | None:
    """1x1 edge-state A* with predecessor capture: the state sequence
    source..target, or None if unreachable (R10 needs the actual walked
    edges — reference ``EDijkstra`` per-target path capture,
    ``EDijkstra.h:190-418``). On equal-cost routes the walk takes the
    smallest predecessor state."""
    si, ti = index_of(csr, [source_edge, target_edge]).tolist()
    seeds = [(si, 0.0)]
    tg = reachable(csr, seeds, [ti])
    if not tg:
        return None
    dist, pred = search(csr, seeds, tg, heuristic(csr, tg), preds=True)
    if ti not in dist:
        return None
    walk = [ti]
    while pred[walk[-1]] >= 0:
        walk.append(pred[walk[-1]])
    return csr["states"][walk[::-1]].tolist()


def shape_assembly(
    aligned: DataFrame,
    cand: DataFrame,
    transitions_by_variant: dict[int, pd.DataFrame],
    dedges_pdf: pd.DataFrame,
) -> DataFrame:
    """R10 + W2: assemble the aligned trip polyline from the walked
    directed edges and emit cumulative distance along it.

    Reference ``get_shape_line`` (shape_builder.cpp:80-119): walk the
    hop edge lists of the SOLVED route, orient each edge geometry by
    node identity ⊕ reversed flag, concatenate; then the W2 running
    distance (:380-526). ``aligned`` is :func:`viterbi_full`'s output
    over the same ``cand`` — the DP does not run again here. Per
    fingerprint representative, consecutive chosen states are joined by
    a 1x1 :func:`state_path` (the reference's per-target path capture).
    Directed states already carry oriented coordinates
    (:func:`directed_arrays`), so orientation is one gather by state id
    into ``dedges_pdf``.

    Output: (trip_id, pt_seq, x, y, cum_dist, hop_seq, edge_state).
    """
    spark = cand.sparkSession
    # the candidate join feeds the fingerprint and stop-coordinate
    # branches — materialize it once
    cand = cand.localCheckpoint(eager=False)
    fingerprints = trip_fingerprints(cand)
    bc = _csr_broadcast(spark, transitions_by_variant)
    de = dedges_pdf.sort_values("edge_id")
    bc_geo = spark.sparkContext.broadcast(
        {c: de[c].to_numpy() for c in ("edge_id", "x1", "y1", "x2", "y2", "length")}
    )
    # the cluster representative's chosen states and stop coords stand
    # in for every member, exactly as the reference copies the rep's
    # shape to the cluster (shape_builder.cpp:219)
    reps = (
        fingerprints.filter(F.col("trip_id") == F.col("rep_trip"))
        .join(aligned.select("trip_id", "seq", "state_edge"), "trip_id")
        .join(cand.select("trip_id", "seq", "x", "y").distinct(), ["trip_id", "seq"])
        .select("fingerprint", "variant", "seq", "state_edge", "x", "y")
    )

    cols = ["fingerprint", "pt_seq", "x", "y", "cum_dist", "hop_seq", "edge_state"]

    def walk_one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("seq", kind="stable").drop_duplicates("seq")
        fpr = pdf["fingerprint"].iloc[0]
        csr = bc.value[int(pdf["variant"].iloc[0])]
        states = pdf["state_edge"].tolist()
        walk: list[int] = []
        for s, t in zip(states[:-1], states[1:]):
            p = state_path(csr, s, t)
            if p is not None:
                walk.extend(p[:-1])  # target re-enters as next hop's source
        walk.append(states[-1])
        geo = bc_geo.value
        at = np.searchsorted(geo["edge_id"], walk)
        sx, sy, ex, ey, ln = (geo[c][at].tolist() for c in ("x1", "y1", "x2", "y2", "length"))

        def proj_t(px: float, py: float, k: int) -> float:
            """Clamped projection parameter of the stop onto walked
            state k's oriented segment (Geo.h projectOn:1113-1146)."""
            len2 = (ex[k] - sx[k]) * (ex[k] - sx[k]) + (ey[k] - sy[k]) * (ey[k] - sy[k])
            if len2 <= 0.0:
                return 0.0
            t = ((px - sx[k]) * (ex[k] - sx[k]) + (py - sy[k]) * (ey[k] - sy[k])) / len2
            return min(1.0, max(0.0, t))

        # R10 endpoint clipping (get_gtfs_shape, shape_builder.cpp:
        # 404-518): the shape starts at the FIRST stop's projection onto
        # the first chosen edge and ends at the LAST stop's projection
        # onto the last chosen edge — not at the raw edge endpoints.
        x, y = pdf["x"].tolist(), pdf["y"].tolist()
        last = len(walk) - 1
        t0, tL = proj_t(x[0], y[0], 0), proj_t(x[-1], y[-1], last)
        if last == 0 and tL < t0:
            tL = t0  # degenerate single-edge trip: monotone along travel
        rows = []
        cum = 0.0
        for k, st in enumerate(walk):
            px, py = ex[k], ey[k]
            frac = 1.0
            if k == 0:
                # clip the head: start at the projection point
                rows.append((fpr, 0, sx[k] + t0 * (ex[k] - sx[k]),
                             sy[k] + t0 * (ey[k] - sy[k]), 0.0, -1, st))
                frac -= t0
            if k == last:
                # clip the tail: end at the projection point
                px = sx[k] + tL * (ex[k] - sx[k])
                py = sy[k] + tL * (ey[k] - sy[k])
                frac -= 1.0 - tL
            cum += ln[k] * max(frac, 0.0)
            rows.append((fpr, len(rows), px, py, cum, k, st))
        return pd.DataFrame(rows, columns=cols)

    solved = bucketed_apply(
        reps, "fingerprint", per_key(walk_one, "fingerprint"),
        "fingerprint string, pt_seq long, x double, y double, "
        "cum_dist double, hop_seq long, edge_state long",
    )
    trips = fingerprints.select("trip_id", "fingerprint").distinct()
    return trips.join(solved, "fingerprint").select(
        "trip_id", "pt_seq", "x", "y", "cum_dist", "hop_seq", "edge_state"
    )


# --------------------------------------------------------------------
# restricted_paths — the oracled query
# --------------------------------------------------------------------

SUB_FILTER = (
    f"src % 32 < {SUB_N} AND src // 32 < {SUB_N} "
    f"AND dst % 32 < {SUB_N} AND dst // 32 < {SUB_N}"
)


def _sub_edges(spark: SparkSession) -> DataFrame:
    from .. import datagen

    g = 32
    return datagen.edges(spark).filter(
        (F.col("src") % g < SUB_N)
        & (F.floor(F.col("src") / g) < SUB_N)
        & (F.col("dst") % g < SUB_N)
        & (F.floor(F.col("dst") / g) < SUB_N)
    )


def restricted_paths(spark: SparkSession) -> DataFrame:
    """Shortest restricted-path cost between every (source-state,
    target-state) pair on the 8x8 sub-grid, under the full R3 cost
    model with restrictions enforced.

    Source states: directed edges leaving SOURCE_NODES; target states:
    directed edges entering TARGET_NODES. Unreachable => NULL.

    Distribution: the transition CSR is built on the driver from one
    collect each of the edges, nodes and restrictions
    (:func:`transition_arrays`) and broadcast (graph-sized — see module
    docstring); source states run in ``routing.bucketed_apply``, and
    each run gathers its pairs from the ``routing.hop_table`` rows of
    its sources.
    """
    from .. import datagen

    edges = _sub_edges(spark)
    ed = graph_ops.collect_columns(edges.select(*EDGE_COLS))
    trans = transition_arrays(
        ed,
        graph_ops.collect_columns(datagen.nodes(spark).select("node_id", "is_station")),
        graph_ops.collect_columns(
            gtfs_ops.read_restrictions(gtfs_ops.restriction_members(spark, edges))
            .select(*RESTR_COLS)
        ),
    )
    bc = spark.sparkContext.broadcast(
        build_csr(trans["from_edge"], trans["to_edge"], trans["cost"])
    )
    de = directed_arrays(ed)
    src = np.isin(de["src"], SOURCE_NODES)
    sources = graph_ops.columns_frame(
        spark, {"from_edge": de["edge_id"][src], "src_node": de["src"][src]},
        "from_edge long, src_node long",
    )
    tgt = np.isin(de["dst"], TARGET_NODES)
    tgt_states, tgt_nodes = de["edge_id"][tgt], de["dst"][tgt]

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        fe = pdf["from_edge"].to_numpy(np.int64)
        nf, nt = len(fe), len(tgt_states)
        frm, to = np.repeat(fe, nt), np.tile(tgt_states, nf)
        cost = hop_costs(hop_lookup(bc.value, fe), frm, to)
        return pd.DataFrame({
            "from_edge": frm, "src_node": np.repeat(pdf["src_node"].to_numpy(np.int64), nt),
            "to_edge": to, "dst_node": np.tile(tgt_nodes, nf),
            "path_cost": np.where(np.isinf(cost), np.nan, cost),
        })

    return bucketed_apply(
        sources, "from_edge", solve,
        "from_edge long, src_node long, to_edge long, dst_node long, path_cost double",
    )


# --------------------------------------------------------------------
# A1 trip clustering + R7 full-cost Viterbi over edge states
# --------------------------------------------------------------------

N_RATTR_VARIANTS = 3  # per-trip route attrs: short_name = 'l' + (trip%3)*10


def rattrs_for_variant(v: int) -> dict:
    return {"short_name": f"l{v * 10}", "from": "st 3", "to": "st 5"}


_DOCNUM = "CAST(REGEXP_EXTRACT(image_id, '([0-9]+)', 1) AS BIGINT)"
_TRIPNUM = "CAST(REGEXP_EXTRACT(trip_id, '([0-9]+)', 1) AS BIGINT)"

# A5 emission — station_group::get_penalty (station_group.cpp:56-93):
# pen = dist * distPenFac + trackPen (0 on platform/track match) +
# nonOsmPen (0 for OSM-sourced nodes). Track-match / osm flags derive
# deterministically from the candidate row (same parity derivations as
# stations.candidate_penalties).
_EMISSION = (
    "dist * {fac!r}"
    " + CASE WHEN {doc} % 3 = 1 THEN {track!r} ELSE 0.0 END"
    " + CASE WHEN cand_node % 2 = 1 THEN {nonosm!r} ELSE 0.0 END"
)


def emission_expr() -> str:
    from . import stations
    from .. import constants as C

    return _EMISSION.format(
        fac=C.CAND_PEN_FAC, doc=_DOCNUM,
        track=stations.TRACK_PEN, nonosm=stations.NON_OSM_PEN,
    )


def echo_candidates(cand: DataFrame) -> DataFrame:
    """Candidates ∪ an echoed copy of every trip ('e' id prefix) — the
    duplicate-trip workload that makes A1 clustering measurable: the
    echoed trip is routing-equal to the original, so the cluster solves
    once (reference ``shape_builder::cluster_trips``,
    ``shape_builder.cpp:676-722``)."""
    echo = cand.withColumn("image_id", F.concat(F.lit("e"), F.col("image_id"))).withColumn(
        "trip_id", F.concat(F.lit("e"), F.col("trip_id"))
    )
    return cand.unionByName(echo)


_FPR_STRUCT = (
    "CAST(seq AS STRING) || ':' || CAST(rank AS STRING) || ':' || "
    "CAST(edge_id AS STRING) || ':' || CAST(cand_node AS STRING) || ':' || "
    "CAST(CAST(FLOOR(emission * 1024 + 0.5) AS BIGINT) AS STRING)"
)


def trip_fingerprints(cand: DataFrame) -> DataFrame:
    """(trip_id, fingerprint, rep_trip): the A1 cluster key.

    The fingerprint hashes EVERYTHING the per-trip solve depends on —
    route-attr variant plus the ordered (seq, rank, edge, node,
    quantized emission) candidate structure (the reference refines its
    (first, last)-stop grouping with ``routingEqual``,
    ``shape_builder.cpp:724-767``; an exact groupBy on the full
    structure hash achieves the same partition without the O(n^2)
    scan). rep = min trip_id per fingerprint."""
    rows = cand.withColumn("emission", F.expr(emission_expr())).select(
        "trip_id",
        "seq",
        "rank",
        F.expr(f"{_TRIPNUM} % {N_RATTR_VARIANTS}").alias("variant"),
        F.expr(f"({_FPR_STRUCT})").alias("s"),
    )
    per_trip = rows.groupBy("trip_id", "variant").agg(
        F.md5(
            F.concat(
                F.col("variant").cast("string"),
                F.lit("#"),
                F.array_join(
                    F.transform(
                        F.sort_array(F.collect_list(F.struct("seq", "rank", "s"))),
                        lambda x: x["s"],
                    ),
                    "|",
                ),
            )
        ).alias("fingerprint"),
    )
    reps = per_trip.groupBy("fingerprint").agg(F.min("trip_id").alias("rep_trip"))
    return per_trip.join(reps, "fingerprint").select(
        "trip_id", "fingerprint", "rep_trip", "variant"
    )


def trip_clusters_sql() -> str:
    from . import candidates as cand_ops

    emis = emission_expr()
    return (
        cand_ops.candidates_cte_sql()
        + f""",
cand_all AS (
  SELECT * FROM cand
  UNION ALL
  SELECT 'e' || image_id, 'e' || trip_id, seq, x, y, edge_id, src, dst,
         level, oneway, cand_node, dist, rank
  FROM cand
),
rows_e AS (
  SELECT trip_id, seq, rank,
         {_TRIPNUM} % {N_RATTR_VARIANTS} AS variant,
         {_FPR_STRUCT.replace('emission', f'({emis})')} AS s
  FROM cand_all
),
per_trip AS (
  SELECT trip_id,
         MD5(CAST(variant AS VARCHAR) || '#' ||
             STRING_AGG(s, '|' ORDER BY seq, rank)) AS fingerprint
  FROM rows_e GROUP BY trip_id, variant
)
SELECT trip_id, fingerprint,
       MIN(trip_id) OVER (PARTITION BY fingerprint) AS rep_trip
FROM per_trip
"""
    )


def state_viterbi_batch(pdf: pd.DataFrame, csrs: dict, debug: bool = False) -> pd.DataFrame:
    """R7 over directed-edge states for every fingerprint of ``pdf`` at
    once, through ``routing.layered_viterbi``. After the (seq, edge_id,
    emission) dedup, each candidate row is a forward state and a reverse
    state (``edge_id + REV_OFF``); ties break toward the smaller state
    id. The step runs, per active fingerprint, ONE banded
    :func:`state_search` over ``csrs[variant]`` (:func:`_csr_broadcast`)
    from the previous layer's states seeded with their DP costs: the
    value is the search total plus emission, ``back`` the winning seed
    ordinal (0 where a target is unreached). With ``debug``, emits every
    candidate state per layer (DP cost + chosen flag) instead of the
    winners only."""
    rows = pdf.drop_duplicates(["fingerprint", "seq", "edge_id", "emission"])
    rows = pd.concat(
        [rows.assign(state_edge=rows["edge_id"]),
         rows.assign(state_edge=rows["edge_id"] + REV_OFF)],
        ignore_index=True,
    )
    g = _layer_grid(rows, "fingerprint", "state_edge", rows["emission"].to_numpy(np.float64))
    em, width = g["em"], g["width"]
    st = on_grid(g, g["rows"]["state_edge"].to_numpy(np.int64), -1)
    variant = g["rows"]["variant"].to_numpy(np.int64)[g["lay_start"]].tolist()

    def step(g, dp, prev, cur):
        val = np.full((len(cur), em.shape[1]), np.inf)
        back = np.zeros(val.shape, dtype=np.int64)
        for r, (p, c) in enumerate(zip(prev.tolist(), cur.tolist())):
            seeds = list(zip(st[p, :width[p]].tolist(), dp[p, :width[p]].tolist()))
            targets = st[c, :width[c]].tolist()
            d, o = state_search(csrs[variant[p]], seeds, targets, band=True)
            val[r, :width[c]] = np.array([d.get(t, np.inf) for t in targets]) + em[c, :width[c]]
            back[r, :width[c]] = [o.get(t, 0) for t in targets]
        return val, back

    return layered_viterbi(g, step, ["fingerprint", "seq", "state_edge", "edge_id"], debug)


def _solve_fingerprints(
    cand: DataFrame, transitions_by_variant: dict, debug: bool = False
) -> tuple[DataFrame, DataFrame]:
    """(keyed, solved): every candidate row with its A5 emission and A1
    fingerprint, and :func:`state_viterbi_batch` over the cluster
    representatives' rows, runs of fingerprints in the grouped runner
    with the per-variant CSRs broadcast once."""
    # candidate join feeds both the fingerprint and emission branches —
    # materialize once
    cand = cand.localCheckpoint(eager=False)
    fingerprints = trip_fingerprints(cand)
    keyed = cand.withColumn("emission", F.expr(emission_expr())).join(
        fingerprints.select("trip_id", "fingerprint", "rep_trip", "variant"), "trip_id"
    )
    # both the reps (DP input) and members (join-back) branches read
    # `keyed`; without materialization each branch re-runs the whole
    # candidate spatial join — at any scale that is the dominant cost
    keyed = keyed.localCheckpoint(eager=False)
    reps = keyed.filter(F.col("trip_id") == F.col("rep_trip")).select(
        "fingerprint", "variant", "seq", "edge_id", "cand_node", "emission", "rank"
    )
    bc = _csr_broadcast(cand.sparkSession, transitions_by_variant)
    return keyed, bucketed_apply(
        reps, "fingerprint", lambda pdf: state_viterbi_batch(pdf, bc.value, debug),
        "fingerprint string, seq long, state_edge long, edge_id long, emission double, "
        "acc_cost double" + (", chosen boolean" if debug else ""),
    )


def viterbi_full(
    cand: DataFrame, transitions_by_variant: dict[int, pd.DataFrame]
) -> DataFrame:
    """R7 with the COMPLETE model: candidate states are *directed edges*
    (router/misc.h:23-33 edge_candidate), emission = A5 penalty
    (dist-fac + track + nonOsm), transition = edge-based Dijkstra under
    the full R3 cost (turn restrictions enforced) with the trip's route
    attrs selecting the line-match costs.

    A1 clustering: only cluster representatives are solved; results
    broadcast-join back to members via the fingerprint. Output one row
    per (trip, seq): chosen directed edge state + costs.
    """
    keyed, solved = _solve_fingerprints(cand, transitions_by_variant)
    members = keyed.select("trip_id", "fingerprint", "seq", "image_id").distinct()
    return members.join(solved, ["fingerprint", "seq"]).select(
        "trip_id", "seq", "image_id", "state_edge", "edge_id", "emission", "acc_cost"
    )


def viterbi_trip_debug(
    cand: DataFrame,
    transitions_by_variant: dict[int, pd.DataFrame],
    trip_id: str,
) -> DataFrame:
    """The ``pfaedle -T <trip>`` debug surface (app.cpp:206-224 +
    shape_builder.cpp:136-144): ONE trip's complete candidate layers —
    every directed-edge state per observation with its emission, the
    layer's DP cost through the full R3 transition model, and whether
    the backtrack chose it. Rows with chosen=true reproduce
    :func:`viterbi_full` for the trip exactly (asserted in
    tests/test_edge_routing.py); the GeoJSON dump goes through
    sources.osm.geojson_sink."""
    one = cand.filter(F.col("trip_id") == trip_id)
    return _solve_fingerprints(one, transitions_by_variant, debug=True)[1]


def _edge_columns(spark: SparkSession, edges: DataFrame) -> dict:
    """The edge collect (graph-sized, static across queries) in the
    ``routing.session_memo``, keyed per (session, edge plan): the
    transitions build and :func:`directed_full_pdf` share ONE collect —
    same Amdahl argument as routing.hop_broadcast: re-collecting per
    invocation is serial driver time that does not shrink with cluster
    size."""
    return session_memo(
        spark, ("edge_columns", edges.semanticHash()),
        lambda: graph_ops.collect_columns(edges.select(*EDGE_COLS)),
    )


def directed_full_pdf(spark: SparkSession, edges: DataFrame) -> pd.DataFrame:
    """:func:`directed_arrays` as a frame: the directed edge states of
    the memoized edge collect, so a query that also builds transitions
    over ``edges`` issues no second collect."""
    return pd.DataFrame(directed_arrays(_edge_columns(spark, edges)))


def build_variant_transitions(
    spark: SparkSession, edges: DataFrame, nodes: DataFrame | None = None
) -> dict[int, pd.DataFrame]:
    """One transition table per route-attr variant (the reference keys
    its route cache by rAttrs the same way, router.cpp:626-688).

    The edges, nodes and F10 restrictions are collected once each;
    :func:`transition_arrays` then runs once per variant on the driver,
    where the CSRs are built anyway (:func:`_csr_broadcast`). Memoized
    (``routing.session_memo``) per (session, edge plan, node plan): the
    tables are deterministic functions of the graph, and the composed
    lifecycle passes a DIFFERENT edge set than the standalone queries,
    so the key carries the plan hashes."""
    from .. import datagen

    def build():
        ed = _edge_columns(spark, edges)
        nd = graph_ops.collect_columns(
            (nodes if nodes is not None else datagen.nodes(spark)).select("node_id", "is_station")
        )
        rs = graph_ops.collect_columns(
            gtfs_ops.read_restrictions(gtfs_ops.restriction_members(spark, edges))
            .select(*RESTR_COLS)
        )
        return {
            v: pd.DataFrame(transition_arrays(ed, nd, rs, rattrs_for_variant(v)))
            for v in range(N_RATTR_VARIANTS)
        }

    key = ("variant_transitions", edges.semanticHash(),
           nodes.semanticHash() if nodes is not None else None)
    return session_memo(spark, key, build)


def restricted_paths_sql() -> str:
    """Oracle: unrolled Bellman-Ford over the transitions CTE.

    Left-to-right accumulation (d_prev + cost) matches the Dijkstra's
    float addition order exactly, so costs are bit-identical. BF_ROUNDS
    bounds optimal-path transitions: any optimum is cheaper than the
    worst Manhattan route (<= 15 transitions x max-cost ~21.5k) and
    every transition costs >= 2048, so > ~160 transitions can never be
    optimal."""
    in_src = ",".join(str(s) for s in SOURCE_NODES)
    in_tgt = ",".join(str(t) for t in TARGET_NODES)
    parts = [transitions_ctes(edge_filter=SUB_FILTER)]
    parts.append(f""",
sources AS (SELECT edge_id AS from_edge, src AS src_node FROM dedges WHERE src IN ({in_src})),
targets AS (SELECT edge_id AS to_edge, dst AS dst_node FROM dedges WHERE dst IN ({in_tgt})),
d0 AS MATERIALIZED (SELECT from_edge AS src_e, from_edge AS state, 0.0 AS cost FROM sources)""")
    for i in range(1, BF_ROUNDS + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (
  SELECT src_e, state, MIN(cost) AS cost FROM (
    SELECT src_e, state, cost FROM d{i - 1}
    UNION ALL
    SELECT d.src_e, t.to_edge, d.cost + t.cost
    FROM d{i - 1} d JOIN trans t ON t.from_edge = d.state
  ) GROUP BY src_e, state
)""")
    parts.append(f"""
SELECT s.from_edge, s.src_node, t.to_edge, t.dst_node, d.cost AS path_cost
FROM sources s
CROSS JOIN targets t
LEFT JOIN d{BF_ROUNDS} d ON d.src_e = s.from_edge AND d.state = t.to_edge
""")
    return "".join(parts)
