"""Graph passes (reference trgraph/graph.cpp) as driver-side numpy
kernels over flat edge columns.

* G4 delete_orphan_edges (``graph.cpp:335-363``): exactly 3 rounds of
  dangling-spur removal (degree-1 non-station endpoint) — round count
  mirrors the reference's fixed ``for (int i = 0; i < 3; ++i)``.
* G2 fix_gaps (``graph.cpp:212-268``): degree-1 node pairs within
  1 m merge (non-stations) — cell pairing + threshold.
* G5 collapse_edges (``graph.cpp:105-148``): contract degree-2
  non-station nodes whose two edges are mergeable (same oneway/level),
  looped to fixpoint with a bounded round count; geometries
  concatenate per the reference's 4 orientation cases.
* G6 simplify_geometries (``graph.cpp:149-158``): Douglas-Peucker at
  0.5 m per edge polyline via an Arrow-batched UDF over vertex arrays.

The road graph fits the driver (the router collects it anyway), so
G2/G4/G5 are sequences of rounds over numpy arrays — an edge table is
a dict of equal-length columns (``xs``/``ys`` polylines as object
arrays). Each round keeps the algebra of the round-unrolled SQL
mirrors below: same degree rule, same (mid, edge_id) pairing, same
race guard, same merged-length addition order. The DataFrame entry
points are collect -> kernel -> local-frame wrappers over them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import douglas_peucker
from . import cells
from .graph_ops import collect_columns, columns_frame, lookup

ORPHAN_ROUNDS = 3
COLLAPSE_MAX_ROUNDS = 8
GAP_DIST = 1.0
SIMPLIFY_EPS = 0.5
COLLAPSE_COLS = ("edge_id", "src", "dst", "level", "oneway", "length", "xs", "ys")


def take(t: dict, sel) -> dict:
    return {k: v[sel] for k, v in t.items()}


def concat(*ts: dict) -> dict:
    return {k: np.concatenate([t[k] for t in ts]) for k in ts[0]}


def first_rows(*keys: np.ndarray) -> np.ndarray:
    """Rows that come first in their group when sorted by ``keys``
    (``np.lexsort`` order: the last key is the group) — the
    ``ROW_NUMBER() ... = 1`` argmin."""
    order = np.lexsort(keys)
    g = keys[-1][order]
    return order[np.r_[True, g[1:] != g[:-1]]] if len(g) else order


def endpoint_degrees(e: dict) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(node ids, inverse of concat(src, dst) into them, degrees)."""
    return np.unique(np.concatenate([e["src"], e["dst"]]),
                     return_inverse=True, return_counts=True)


def delete_orphan_arrays(e: dict, station_ids: np.ndarray, rounds: int = ORPHAN_ROUNDS) -> dict:
    """G4 kernel: `rounds` rounds of dropping every edge with a degree-1
    non-station endpoint (a round with nothing to drop ends the pass)."""
    for _ in range(rounds):
        ids, _, deg = endpoint_degrees(e)
        hang = np.setdiff1d(ids[deg == 1], station_ids)
        if not len(hang):
            break
        e = take(e, ~(np.isin(e["src"], hang) | np.isin(e["dst"], hang)))
    return e


def fix_gaps_arrays(nodes: dict, e: dict, max_dist: float = GAP_DIST) -> dict:
    """G2 kernel: rewrite each non-station degree-1 node onto the
    smallest-id such node within `max_dist`. Pairs come from the padded
    cell pairing (the J5/J6 pattern), so only same/adjacent-cell pairs
    are ever compared."""
    ids, _, deg = endpoint_degrees(e)
    d1 = np.isin(nodes["node_id"], ids[deg == 1]) & ~nodes["is_station"].astype(bool)
    nid, x, y = nodes["node_id"][d1], nodes["x"][d1], nodes["y"][d1]
    ia, ib = cells.cell_pairs(cells.box_cells(x, y, x, y, max_dist), cells.box_cells(x, y, x, y))
    close = (nid[ia] < nid[ib]) & (
        (x[ia] - x[ib]) * (x[ia] - x[ib]) + (y[ia] - y[ib]) * (y[ia] - y[ib])
        <= max_dist * max_dist
    )
    frm, to = nid[ib][close], nid[ia][close]
    first = first_rows(to, frm)  # min to_id per from_id, sorted by from_id
    frm, to = frm[first], to[first]
    out = dict(e)
    for col in ("src", "dst"):
        pos, hit = lookup(frm, e[col])
        out[col] = e[col].copy()
        out[col][hit] = to[pos[hit]]
    return out


def collapse_arrays(e: dict, station_ids: np.ndarray) -> dict:
    """G5 kernel: per round, pair the two incident edges of every
    degree-2 non-station node (side a = smaller edge_id), keep mergeable
    pairs (same level/oneway, no self-loop creation) whose neighbours
    are not smaller-id mergeable nodes (one contraction per disjoint
    pair per round), and replace each pair with edge_id = a's id,
    endpoints a.other -> b.other and length a + b. Loops to fixpoint or
    COLLAPSE_MAX_ROUNDS.

    With ``xs``/``ys`` polylines (oriented src->dst) the merged edge
    concatenates them (graph.cpp:290-334): side a is reversed iff it
    starts at the contraction node, side b iff it does not, and b's
    shared via point is dropped. Other columns (coordinates) are dropped."""
    e = {k: v for k, v in e.items() if k in COLLAPSE_COLS}
    for _ in range(COLLAPSE_MAX_ROUNDS):
        eid, src, dst = e["edge_id"], e["src"], e["dst"]
        ids, inv, deg = endpoint_degrees(e)
        is_mid = (deg == 2) & ~np.isin(ids, station_ids)
        # the two incidences of each mid sorted by (mid, edge_id): a self-
        # loop at mid yields the same edge twice and fails a != b below
        row = np.tile(np.arange(len(eid)), 2)
        inc = np.flatnonzero(is_mid[inv])
        inc = inc[np.lexsort((eid[row[inc]], inv[inc]))]
        mid = ids[inv[inc[0::2]]]
        a, b = row[inc[0::2]], row[inc[1::2]]
        oa = np.where(src[a] == mid, dst[a], src[a])
        ob = np.where(src[b] == mid, dst[b], src[b])
        merg = (
            (eid[a] != eid[b]) & (e["level"][a] == e["level"][b])
            & (e["oneway"][a] == e["oneway"][b]) & (oa != ob)
        )
        # race guard: skip a mid whose neighbour is a smaller mergeable mid
        mm = mid[merg]
        safe = merg & ~((np.isin(oa, mm) & (oa < mid)) | (np.isin(ob, mm) & (ob < mid)))
        if not safe.any():
            break
        a, b, m = a[safe], b[safe], mid[safe]
        merged = {
            "edge_id": eid[a], "src": oa[safe], "dst": ob[safe],
            "level": e["level"][a], "oneway": e["oneway"][a],
            "length": e["length"][a] + e["length"][b],
        }
        for col in ("xs", "ys"):
            if col in e:
                merged[col] = np.empty(len(a), dtype=object)
                merged[col][:] = [
                    np.concatenate([p if fa else p[::-1], (q if fb else q[::-1])[1:]])
                    for p, q, fa, fb in zip(e[col][a], e[col][b], src[a] != m, src[b] == m)
                ]
        e = concat(take(e, ~np.isin(np.arange(len(eid)), np.r_[a, b])), {k: merged[k] for k in e})
    return e


def _ids(df: DataFrame) -> np.ndarray:
    return collect_columns(df.select("node_id"))["node_id"]


def delete_orphan_edges(
    edges: DataFrame, station_node_ids: DataFrame, rounds: int = ORPHAN_ROUNDS
) -> DataFrame:
    """Drop spur edges whose degree-1 endpoint is not a station;
    repeat `rounds` times (reference fixed 3)."""
    out = delete_orphan_arrays(collect_columns(edges), _ids(station_node_ids), rounds)
    return columns_frame(edges.sparkSession, out, edges.schema)


def fix_gaps(nodes: DataFrame, edges: DataFrame, max_dist: float = GAP_DIST) -> DataFrame:
    """G2: merge non-station degree-1 nodes within `max_dist`: rewrite
    the higher node id onto the lower in the edge list (returned with
    the input's columns)."""
    nd = collect_columns(nodes.select("node_id", "x", "y", "is_station"))
    out = fix_gaps_arrays(nd, collect_columns(edges), max_dist)
    return columns_frame(edges.sparkSession, out, edges.schema)


def collapse_edges(
    edges: DataFrame,
    station_node_ids: DataFrame,
    geoms: DataFrame | None = None,
) -> DataFrame:
    """G5 (see :func:`collapse_arrays`); with ``geoms`` (edge_id, xs, ys
    polylines oriented src->dst) merged edges carry the concatenated
    polylines."""
    cur = edges.select(*COLLAPSE_COLS[:6])
    if geoms is not None:
        cur = cur.join(geoms, "edge_id")
    out = collapse_arrays(collect_columns(cur), _ids(station_node_ids))
    return columns_frame(edges.sparkSession, out, cur.schema)


def delete_orphan_edges_sql(
    edges_cte: str,
    rounds: int = ORPHAN_ROUNDS,
    src_table: str = "edges",
    station_src: str = "(SELECT node_id FROM nodes WHERE is_station)",
    final_select: bool = True,
) -> str:
    """Unrolled SQL mirror: `rounds` rounds of deg/spur CTEs, ending in
    ``e<rounds>`` (composable with ``final_select=False``)."""
    sql = edges_cte + f",\ne0 AS (SELECT * FROM {src_table})"
    for r in range(rounds):
        sql += f""",
deg{r} AS (
  SELECT node_id, COUNT(*) AS deg FROM (
    SELECT src AS node_id FROM e{r} UNION ALL SELECT dst FROM e{r}
  ) GROUP BY node_id
),
hang{r} AS (
  SELECT d.node_id FROM deg{r} d
  LEFT JOIN {station_src} s USING (node_id)
  WHERE d.deg = 1 AND s.node_id IS NULL
),
e{r + 1} AS MATERIALIZED (
  SELECT e.* FROM e{r} e
  WHERE e.src NOT IN (SELECT node_id FROM hang{r})
    AND e.dst NOT IN (SELECT node_id FROM hang{r})
)"""
    if not final_select:
        return sql
    return sql + f"\nSELECT edge_id, src, dst, level, oneway, length FROM e{rounds}\n"


def simplify_geometries(edge_geoms: DataFrame, eps: float = SIMPLIFY_EPS) -> DataFrame:
    """G6: Douglas-Peucker(0.5 m) per edge polyline.

    Input: (edge_id, xs: array<double>, ys: array<double>); output adds
    simplified arrays + point counts. Arrow-batched; per-edge numpy."""

    def gen(batches):
        for pdf in batches:
            out_xs, out_ys = [], []
            for xs, ys in zip(pdf["xs"], pdf["ys"]):
                xs = np.asarray(xs, dtype=float)
                ys = np.asarray(ys, dtype=float)
                keep = douglas_peucker(xs, ys, eps)
                out_xs.append(xs[keep].tolist())
                out_ys.append(ys[keep].tolist())
            yield pd.DataFrame(
                {
                    "edge_id": pdf["edge_id"],
                    "n_in": [len(x) for x in pdf["xs"]],
                    "xs": out_xs,
                    "ys": out_ys,
                    "n_out": [len(x) for x in out_xs],
                }
            )

    return edge_geoms.mapInPandas(
        gen,
        schema="edge_id long, n_in int, xs array<double>, ys array<double>, n_out int",
    )


def zigzag_geoms(edges: DataFrame, step: float = 256.0) -> DataFrame:
    """Deterministic dense polylines for the simplify pass: each edge
    densified every `step` m with a small deterministic perpendicular
    zigzag (sub-eps, so DP must remove exactly the interior points
    whose offset < eps and keep the larger kinks)."""
    n_seg = F.greatest((F.col("length") / step).cast("int"), F.lit(1))
    idx = F.sequence(F.lit(0), n_seg)
    t = F.transform(idx, lambda i: i.cast("double") / n_seg.cast("double"))
    # offset pattern: ((edge_id + i) % 5 - 2) * 0.3  -> within +-0.6 m
    off = F.transform(idx, lambda i: ((F.col("edge_id") + i) % 5 - 2).cast("double") * 0.3)
    dx = F.col("x2") - F.col("x1")
    dy = F.col("y2") - F.col("y1")
    ln = F.sqrt(dx * dx + dy * dy)
    return edges.select(
        "edge_id",
        F.zip_with(
            t, off, lambda ti, oi: F.col("x1") + ti * dx - oi * dy / ln
        ).alias("xs"),
        F.zip_with(
            t, off, lambda ti, oi: F.col("y1") + ti * dy + oi * dx / ln
        ).alias("ys"),
    )


def collapse_edges_sql(
    edges_cte: str,
    src_table: str = "edges",
    orphan_rounds: int = ORPHAN_ROUNDS,
    rounds: int = COLLAPSE_MAX_ROUNDS,
    with_geoms: bool = False,
    step: float = 256.0,
    station_src: str = "(SELECT node_id FROM nodes WHERE is_station)",
    final_select: bool = True,
) -> str:
    """Unrolled SQL mirror of delete_orphan_edges + collapse_edges.

    Each collapse round replays the engine's exact algebra: endpoint
    degrees, non-station degree-2 mids, explode+equi-join incidence
    (self-loops yield e1==e2 and fail the merge guard, as in the
    engine), ARG_MIN/ARG_MAX by edge_id for the deterministic edge
    pair, the race guard (neither neighbor a smaller-id mid), then
    tombstone + append.  Rounds past the fixpoint are no-ops, so the
    fixed unroll equals the engine's early-exit loop.  Merged lengths
    add in the same pairing order every round, so doubles stay
    bit-identical."""
    sql = delete_orphan_edges_sql(
        edges_cte, orphan_rounds, src_table, station_src, final_select=False
    )
    gsel = ", xs, ys" if with_geoms else ""
    if with_geoms:
        # zigzag polyline twin (zigzag_geoms): n_seg points every `step`
        # meters with the deterministic sub-eps perpendicular offset
        zz = f"""
zz AS (
  SELECT edge_id,
         LIST_TRANSFORM(RANGE(0, GREATEST(CAST(FLOOR(length/{step}) AS INT), 1) + 1),
           i -> x1 + (CAST(i AS DOUBLE)/GREATEST(CAST(FLOOR(length/{step}) AS INT), 1)) * (x2-x1)
                - (CAST((edge_id + i) %% 5 - 2 AS DOUBLE) * 0.3) * (y2-y1)
                  / SQRT((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))) AS xs,
         LIST_TRANSFORM(RANGE(0, GREATEST(CAST(FLOOR(length/{step}) AS INT), 1) + 1),
           i -> y1 + (CAST(i AS DOUBLE)/GREATEST(CAST(FLOOR(length/{step}) AS INT), 1)) * (y2-y1)
                + (CAST((edge_id + i) %% 5 - 2 AS DOUBLE) * 0.3) * (x2-x1)
                  / SQRT((x2-x1)*(x2-x1) + (y2-y1)*(y2-y1))) AS ys
  FROM e{orphan_rounds}
)""".replace("%%", "%")
        sql += "," + zz + f""",
c0 AS MATERIALIZED (
  SELECT e.edge_id, e.src, e.dst, e.level, e.oneway, e.length, z.xs, z.ys
  FROM e{orphan_rounds} e JOIN zz z USING (edge_id))"""
    else:
        sql += f""",
c0 AS MATERIALIZED (SELECT edge_id, src, dst, level, oneway, length FROM e{orphan_rounds})"""
    gagg = ""
    gmerge = ""
    if with_geoms:
        gagg = (
            ",\n         ARG_MIN(src, edge_id) AS a_src, ARG_MAX(src, edge_id) AS b_src"
            ",\n         ARG_MIN(xs, edge_id) AS a_xs, ARG_MAX(xs, edge_id) AS b_xs"
            ",\n         ARG_MIN(ys, edge_id) AS a_ys, ARG_MAX(ys, edge_id) AS b_ys"
        )
        # orientation cases (graph.cpp:290-334): side a must END at mid,
        # side b must START at mid; drop b's shared via point
        _a = lambda c: f"CASE WHEN a_src <> mid THEN a_{c} ELSE LIST_REVERSE(a_{c}) END"
        _b = lambda c: (
            f"LIST_SLICE(CASE WHEN b_src = mid THEN b_{c} ELSE LIST_REVERSE(b_{c}) END,"
            f" 2, 1000000)"
        )
        gmerge = f",\n         {_a('xs')} || {_b('xs')}, {_a('ys')} || {_b('ys')}"
    for r in range(rounds):
        sql += f""",
cdeg{r} AS (
  SELECT node_id, COUNT(*) AS deg FROM (
    SELECT src AS node_id FROM c{r} UNION ALL SELECT dst FROM c{r}
  ) GROUP BY node_id
),
cmid{r} AS (
  SELECT d.node_id AS mid FROM cdeg{r} d
  LEFT JOIN {station_src} s USING (node_id)
  WHERE d.deg = 2 AND s.node_id IS NULL
),
cinc{r} AS MATERIALIZED (
  SELECT m.mid, e.edge_id, e.src, e.dst, e.level, e.oneway, e.length{gsel},
         CASE WHEN e.src = m.mid THEN e.dst ELSE e.src END AS other
  FROM (SELECT edge_id, src, dst, level, oneway, length{gsel}, src AS end_pt FROM c{r}
        UNION ALL
        SELECT edge_id, src, dst, level, oneway, length{gsel}, dst AS end_pt FROM c{r}) e
  JOIN cmid{r} m ON e.end_pt = m.mid
),
cg{r} AS MATERIALIZED (
  SELECT mid, COUNT(*) AS n, MIN(edge_id) AS e1, MAX(edge_id) AS e2,
         ARG_MIN(other, edge_id) AS a_other, ARG_MAX(other, edge_id) AS b_other,
         ARG_MIN(level, edge_id) AS a_level, ARG_MAX(level, edge_id) AS b_level,
         ARG_MIN(oneway, edge_id) AS a_oneway, ARG_MAX(oneway, edge_id) AS b_oneway,
         ARG_MIN(length, edge_id) AS a_length, ARG_MAX(length, edge_id) AS b_length{gagg}
  FROM cinc{r} GROUP BY mid
),
csafe{r} AS MATERIALIZED (
  SELECT m.* FROM (
    SELECT * FROM cg{r}
    WHERE n = 2 AND e1 <> e2 AND a_level = b_level AND a_oneway = b_oneway
      AND a_other <> b_other
  ) m
  WHERE NOT EXISTS (
    SELECT 1 FROM (
      SELECT mid FROM cg{r}
      WHERE n = 2 AND e1 <> e2 AND a_level = b_level AND a_oneway = b_oneway
        AND a_other <> b_other
    ) x WHERE (x.mid = m.a_other OR x.mid = m.b_other) AND x.mid < m.mid)
),
c{r + 1} AS MATERIALIZED (
  SELECT e.edge_id, e.src, e.dst, e.level, e.oneway, e.length{gsel}
  FROM c{r} e
  WHERE NOT EXISTS (SELECT 1 FROM csafe{r} s
                    WHERE s.e1 = e.edge_id OR s.e2 = e.edge_id)
  UNION ALL
  SELECT e1, a_other, b_other, a_level, a_oneway, a_length + b_length{gmerge}
  FROM csafe{r}
)"""
    if not final_select:
        return sql  # composable: caller appends CTEs reading c{rounds}
    if with_geoms:
        return sql + f"""
SELECT edge_id, src, dst, level, oneway, length,
       UNNEST(RANGE(LEN(xs))) AS pt_seq, UNNEST(xs) AS x, UNNEST(ys) AS y
FROM c{rounds}
"""
    return sql + f"\nSELECT edge_id, src, dst, level, oneway, length FROM c{rounds}\n"
