"""Station grouping, candidate penalties, point-in-polygon snapping.

* A3 station grouping — reference ``osm_builder::get_station_info``
  (``osm_builder.cpp:1185-1258``) + ``station_group::merge``
  (``trgraph/station_group.cpp:20-37``): nodes sharing an attribute
  value (uic_ref / wikidata / name) merge into one group when within
  maxDist. Spark: per attribute value, distance-graph connected
  components in ``routing.bucketed_apply``, the grouped runner (groups
  are tiny — a handful of platforms per station complex — so the
  per-group union-find is O(k^2) with k < 100 even for the largest
  terminus).
* A5 candidate penalty table — reference
  ``station_group::write_penalties`` (``station_group.cpp:56-93``):
  pen = dist * fac + trackPen (0 on platform match) + nonOsmPen.
  Pure column math over the snap join output.
* PIP — reference ``util/geo/Geo.h:303-347`` (winding/ray-cast
  ``contains``): station "precinct" polygons x observation points,
  cell-index equi-join then the general winding-number test vectorized
  in numpy. The synthetic precincts are diamonds, whose closed form
  |dx|+|dy| <= r gives the SQL oracle an independent formulation to
  validate the general PIP code against.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import constants as C
from .. import sqlgen
from ..functions.geo import point_in_polygon
from . import cells
from .routing import bucketed_apply, per_key

GROUP_ATTR_MOD = 23        # synthetic uic_ref value: node_id % 23
GROUP_MAX_DIST = 6500.0    # merge radius (reference: uic 500 m at city scale)
TRACK_MOD = 4
TRACK_PEN = 50.0
NON_OSM_PEN = 100.0
# half-integer radii: point and station coords are integer-valued, so
# |dx|+|dy| (an integer) never lands exactly on the boundary — the
# winding test and the closed-form oracle can't disagree on edge hits.
PRECINCT_R_BASE = 800.5    # diamond precinct radius = base + (id%3)*200
PRECINCT_R_STEP = 200.0


# --------------------------------------------------------------------
# A3 — station grouping
# --------------------------------------------------------------------

def station_groups(station_nodes: DataFrame) -> DataFrame:
    """(node_id, attr_val, group_rep): connected components of the
    within-maxDist graph inside each attribute-value group; the
    representative is the minimum node id (deterministic)."""
    with_attr = station_nodes.select(
        "node_id", "x", "y",
        F.concat(F.lit("uic_"), (F.col("node_id") % GROUP_ATTR_MOD).cast("string")).alias(
            "attr_val"
        ),
    )

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["node_id"].to_numpy()
        xs = pdf["x"].to_numpy()
        ys = pdf["y"].to_numpy()
        n = len(ids)
        parent = np.arange(n)

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        dx = xs[:, None] - xs[None, :]
        dy = ys[:, None] - ys[None, :]
        close = (dx * dx + dy * dy) <= GROUP_MAX_DIST * GROUP_MAX_DIST
        for i in range(n):
            for j in range(i + 1, n):
                if close[i, j]:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[max(ri, rj)] = min(ri, rj)
        # representative: min node_id in each component (ids ascend with
        # index order only per-partition, so reduce explicitly)
        root = np.array([find(i) for i in range(n)])
        rep = {}
        for i in range(n):
            r = root[i]
            rep[r] = min(rep.get(r, ids[i]), ids[i])
        out = pdf[["node_id", "attr_val"]].copy()
        out["group_rep"] = [rep[root[i]] for i in range(n)]
        return out

    return bucketed_apply(
        with_attr, "attr_val", per_key(merge_group, "attr_val"),
        "node_id long, attr_val string, group_rep long",
    )


def station_groups_sql() -> str:
    """DuckDB oracle: transitive closure via recursive CTE (UNION
    dedups, so the recursion terminates), then min reachable id."""
    d2 = GROUP_MAX_DIST * GROUP_MAX_DIST
    base = sqlgen.with_ctes("station_nodes").replace("WITH ", "WITH RECURSIVE ", 1)
    return f"""{base},
sn AS (
  SELECT node_id, x, y,
         'uic_' || CAST(node_id % {GROUP_ATTR_MOD} AS VARCHAR) AS attr_val
  FROM station_nodes
),
pairs AS (
  SELECT a.node_id AS u, b.node_id AS v
  FROM sn a JOIN sn b ON a.attr_val = b.attr_val
  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {d2}
),
reach(u, v) AS (
  SELECT u, v FROM pairs
  UNION
  SELECT r.u, p.v FROM reach r JOIN pairs p ON r.v = p.u
)
SELECT s.node_id, s.attr_val, MIN(r.v) AS group_rep
FROM sn s JOIN reach r ON r.u = s.node_id
GROUP BY s.node_id, s.attr_val
"""


# --------------------------------------------------------------------
# A5 — candidate penalties
# --------------------------------------------------------------------

def candidate_penalties(snapped: DataFrame, node_tracks: DataFrame) -> DataFrame:
    """Penalty per (stop, node) snap candidate (station_group.cpp:56-93):
    pen = dist*distPenFac + trackPen + nonOsmPen, where trackPen drops
    to 0 ONLY when the stop's normalized platform_code and the node's
    track are both non-empty and equal (the reference's condition,
    :67-73), and nonOsmPen drops for OSM-sourced nodes.

    ``node_tracks`` is the G10 provenance table (osmfilter.edge_tracks:
    way track tags propagated to endpoint station nodes) — the node
    track comes from REAL tag provenance, not a parity synthetic. The
    stop platform is the synthetic feed's platform_code (stopnum %
    TRACK_MOD) run through the cfg track normalizer chain, exactly as
    ``norm.norm(s->platform_code)`` does."""
    from .. import motconfig as MC

    cfg = MC.load("rail")
    stop_no = F.regexp_extract("stop_id", r"(\d+)", 1).cast("long")
    platform = MC.norm_col(
        cfg.chains["track_normalize_chain"],
        (stop_no % TRACK_MOD).cast("string"),
    )
    from_osm = F.col("node_id") % 2 == 0
    j = snapped.join(
        F.broadcast(node_tracks.select("node_id", F.col("track").alias("node_track"))),
        "node_id",
        "left",
    )
    track_match = (
        (F.length(platform) > 0)
        & F.col("node_track").isNotNull()
        & (F.col("node_track") == platform)
    )
    return j.select(
        "stop_id",
        "node_id",
        "dist",
        platform.alias("stop_track"),
        "node_track",
        from_osm.alias("from_osm"),
        (
            F.col("dist") * C.CAND_PEN_FAC
            + F.when(track_match, 0.0).otherwise(TRACK_PEN)
            + F.when(from_osm, 0.0).otherwise(NON_OSM_PEN)
        ).alias("penalty"),
    )


def candidate_penalties_sql(snap_cte_sql: str) -> str:
    """Builds on the snap oracle (rewritten as a CTE ``snapped``) and the
    G10 edge_tracks provenance (as a ``ntracks`` CTE)."""
    from .. import motconfig as MC
    from . import osmfilter

    cfg = MC.load("rail")
    stopnum = "CAST(REGEXP_EXTRACT(stop_id, '(\\d+)', 1) AS BIGINT)"
    platform = MC.norm_sql(
        cfg.chains["track_normalize_chain"],
        f"CAST({stopnum} % {TRACK_MOD} AS VARCHAR)",
    )
    match = (
        f"(LENGTH({platform}) > 0 AND t.track IS NOT NULL"
        f" AND t.track = {platform})"
    )
    return f"""{snap_cte_sql},
ntracks AS (
{osmfilter.edge_tracks_sql()}
)
SELECT stop_id, s.node_id AS node_id, dist,
       {platform} AS stop_track,
       t.track AS node_track,
       s.node_id % 2 = 0 AS from_osm,
       dist * {C.CAND_PEN_FAC}
         + CASE WHEN {match} THEN 0.0 ELSE {TRACK_PEN} END
         + CASE WHEN s.node_id % 2 = 0 THEN 0.0 ELSE {NON_OSM_PEN} END AS penalty
FROM snapped s
LEFT JOIN ntracks t ON t.node_id = s.node_id
"""


# --------------------------------------------------------------------
# PIP — point-in-polygon precinct snapping
# --------------------------------------------------------------------

def precinct_polygons(station_nodes: DataFrame) -> DataFrame:
    """Diamond precinct polygon per station node, as vertex arrays.
    (General polygons to the engine; diamonds only so the oracle has a
    closed form.)"""
    r = (F.lit(PRECINCT_R_BASE) + (F.col("node_id") % 3) * PRECINCT_R_STEP).cast("double")
    return station_nodes.select(
        "node_id",
        "x",
        "y",
        r.alias("r"),
        F.array(
            F.col("x") + r, F.col("x"), F.col("x") - r, F.col("x")
        ).alias("poly_x"),
        F.array(
            F.col("y"), F.col("y") + r, F.col("y"), F.col("y") - r
        ).alias("poly_y"),
    )


def pip_assign(points: DataFrame, station_nodes: DataFrame) -> DataFrame:
    """(image_id, node_id) for every point inside a station precinct.

    Plan: polygon bbox cells ⋈ point cells (equi-join; the polygon side
    is broadcastable) -> winding-number PIP in an Arrow-batched UDF over
    the vertex arrays (``Geo.h:303-347`` semantics, vectorized)."""
    polys = precinct_polygons(station_nodes)
    pc = cells.tile_assign(points.select("image_id", "x", "y"))
    poly_cells = cells.bbox_cells(
        polys.select(
            "node_id",
            F.col("x").alias("cx"),
            F.col("y").alias("cy"),
            "r",
            "poly_x",
            "poly_y",
        ),
        F.col("cx") - F.col("r"),
        F.col("cy") - F.col("r"),
        F.col("cx") + F.col("r"),
        F.col("cy") + F.col("r"),
    )
    joined = pc.join(F.broadcast(poly_cells), "cell_id").select(
        "image_id", "x", "y", "node_id", "poly_x", "poly_y"
    )

    def pip(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf[["image_id", "node_id"]]
                continue
            px = pdf["x"].to_numpy()[:, None]          # (n, 1)
            py = pdf["y"].to_numpy()[:, None]
            vx = np.stack(pdf["poly_x"].to_numpy())    # (n, k) vertex arrays
            vy = np.stack(pdf["poly_y"].to_numpy())
            # ray-cast crossing count, fully vectorized over (row, edge)
            # — Geo.h:303-347 semantics, batch form of geo.point_in_polygon
            vx2 = np.roll(vx, -1, axis=1)
            vy2 = np.roll(vy, -1, axis=1)
            cond = (vy > py) != (vy2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (vx2 - vx) * (py - vy) / (vy2 - vy) + vx
            crossing = cond & (px < xint)
            keep = (crossing.sum(axis=1) % 2) == 1
            yield pdf.loc[keep, ["image_id", "node_id"]]

    res = joined.mapInPandas(pip, schema="image_id string, node_id long")
    return res.dropDuplicates(["image_id", "node_id"])


def pip_assign_sql() -> str:
    """Oracle: diamond closed form |dx|+|dy| <= r (strict interior per
    winding semantics on boundary handled by <=; synthetic coordinates
    are integers, boundary hits are exact in both engines)."""
    return f"""{sqlgen.with_ctes("points", "station_nodes")},
polys AS (
  SELECT node_id, x AS cx, y AS cy,
         {PRECINCT_R_BASE} + (node_id % 3) * {PRECINCT_R_STEP} AS r
  FROM station_nodes
)
SELECT DISTINCT p.image_id, s.node_id
FROM points p JOIN polys s
  ON ABS(p.x - s.cx) + ABS(p.y - s.cy) <= s.r
"""


# --------------------------------------------------------------------
# A3b — cfg-driven group-attr rule chain (osm_station_group_attrs)
# --------------------------------------------------------------------

def _station_attr_exprs() -> list[tuple[str, str]]:
    """Synthetic per-platform attrs (valid in BOTH engines). Keyed off
    the PARENT station id so platforms of one station share values (the
    grouping signal) while a platform-local term varies coverage."""
    return [
        ("uic_ref", "CASE WHEN node_id % 3 = 0 THEN 'uic_' || CAST(node_id AS STRING) ELSE NULL END"),
        ("wikidata", "CASE WHEN node_id % 4 = 1 THEN 'Q' || CAST(node_id AS STRING) ELSE NULL END"),
        ("name_attr", "'st ' || CAST(node_id AS STRING)"),
        ("in_stop_area", "CASE WHEN node_id % 2 = 0 THEN 'stop_area' ELSE NULL END"),
    ]


# platform fan-out per station: 1 + node_id % 3 members, offset tens of
# meters (inside the 100/500 m rule radii; station grid pitch is 2048 m,
# so members of DIFFERENT stations never group)
_PLAT_DX = 41.0
_PLAT_DY = 29.0


def group_attr_rules(station_nodes: DataFrame) -> DataFrame:
    """First-match group rule per candidate station pair, following the
    cfg ``osm_station_group_attrs`` chain (reference first-matching-rule
    semantics, ``pfaedle.cfg:341-352`` comment + ``osm_builder`` group
    joining): rule i fires iff both stations carry the attr with EQUAL
    value, their distance is within the rule's max, and (for
    ``[k=v]``-prefixed rules) both are inside the required relation
    scope.

    Candidate pairs come from per-attr equi-joins on the attr VALUE
    (never a cross join — the reference's grid range query becomes a
    value-keyed shuffle join, the 100 TB-safe shape), deduped, then the
    whole chain is evaluated per pair. Output: (node_a, node_b, rule_idx,
    rule_attr, dist).
    """
    from .. import motconfig as MC

    cfg = MC.load("rail")
    base = (
        station_nodes.select("node_id", "x", "y")
        .select(
            "node_id",
            F.explode(F.sequence(F.lit(0), (F.col("node_id") % 7) % 3)).alias("p"),
            "x",
            "y",
        )
        .select(
            (F.col("node_id") * 4 + F.col("p")).alias("pid"),
            "node_id",
            (F.col("x") + F.col("p") * _PLAT_DX).alias("x"),
            (F.col("y") + F.col("p") * _PLAT_DY).alias("y"),
        )
    )
    for name, expr in _station_attr_exprs():
        base = base.withColumn(name, F.expr(expr))
    base = base.drop("node_id")

    attr_of = {"uic_ref": "uic_ref", "wikidata": "wikidata", "name": "name_attr"}
    pair_sets = []
    for _, attr, _d in cfg.group_attrs:
        col = attr_of[attr]
        a = base.select(
            F.col("pid").alias("node_a"), F.col(col).alias("k")
        ).filter(F.col("k").isNotNull())
        b = base.select(
            F.col("pid").alias("node_b"), F.col(col).alias("k")
        ).filter(F.col("k").isNotNull())
        pair_sets.append(
            a.join(b, "k").filter(F.col("node_a") < F.col("node_b")).select("node_a", "node_b")
        )
    pairs = pair_sets[0]
    for p in pair_sets[1:]:
        pairs = pairs.unionByName(p)
    pairs = pairs.distinct()

    pa = base.select(*(F.col(c).alias(f"a_{c}") for c in base.columns))
    pb = base.select(*(F.col(c).alias(f"b_{c}") for c in base.columns))
    j = (
        pairs.join(pa, pairs.node_a == pa.a_pid)
        .join(pb, pairs.node_b == pb.b_pid)
    )
    dist = F.sqrt(
        (F.col("a_x") - F.col("b_x")) * (F.col("a_x") - F.col("b_x"))
        + (F.col("a_y") - F.col("b_y")) * (F.col("a_y") - F.col("b_y"))
    )
    rule_idx = F.lit(None).cast("int")
    rule_attr = F.lit(None).cast("string")
    for i, (prefix, attr, maxd) in reversed(list(enumerate(cfg.group_attrs))):
        col = attr_of[attr]
        cond = (
            F.col(f"a_{col}").isNotNull()
            & F.col(f"b_{col}").isNotNull()
            & (F.col(f"a_{col}") == F.col(f"b_{col}"))
            & (dist <= F.lit(maxd))
        )
        if prefix:
            cond = cond & F.col("a_in_stop_area").isNotNull() & F.col("b_in_stop_area").isNotNull()
        rule_idx = F.when(cond, F.lit(i)).otherwise(rule_idx)
        rule_attr = F.when(cond, F.lit(attr)).otherwise(rule_attr)
    return (
        j.select(
            "node_a", "node_b",
            rule_idx.alias("rule_idx"),
            rule_attr.alias("rule_attr"),
            dist.alias("dist"),
        )
        .filter(F.col("rule_idx").isNotNull())
    )


def group_attr_rules_sql() -> str:
    from .. import motconfig as MC

    cfg = MC.load("rail")
    attr_of = {"uic_ref": "uic_ref", "wikidata": "wikidata", "name": "name_attr"}
    attrs = ",\n         ".join(f"{e} AS {n}" for n, e in _station_attr_exprs())
    unions = "\n  UNION\n".join(
        f"  SELECT a.pid AS node_a, b.pid AS node_b FROM sn a "
        f"JOIN sn b ON a.{attr_of[attr]} = b.{attr_of[attr]} AND a.pid < b.pid"
        for _, attr, _d in cfg.group_attrs
    )
    dist = "SQRT((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y))"
    whens = []
    for i, (prefix, attr, maxd) in enumerate(cfg.group_attrs):
        col = attr_of[attr]
        cond = (
            f"a.{col} IS NOT NULL AND b.{col} IS NOT NULL AND a.{col} = b.{col} "
            f"AND {dist} <= {maxd}"
        )
        if prefix:
            cond += " AND a.in_stop_area IS NOT NULL AND b.in_stop_area IS NOT NULL"
        whens.append((f"WHEN {cond} THEN {i}", f"WHEN {cond} THEN '{attr}'"))
    idx_case = "CASE " + " ".join(w for w, _ in whens) + " ELSE NULL END"
    attr_case = "CASE " + " ".join(w for _, w in whens) + " ELSE NULL END"
    return f"""{sqlgen.with_ctes("station_nodes")},
plat AS (
  SELECT s.node_id, g.p,
         s.node_id * 4 + g.p AS pid,
         s.x + g.p * {_PLAT_DX} AS x,
         s.y + g.p * {_PLAT_DY} AS y
  FROM station_nodes s, (VALUES (0),(1),(2)) g(p)
  WHERE g.p <= (s.node_id % 7) % 3
),
sn AS (
  SELECT pid, x, y,
         {attrs}
  FROM plat
),
pairs AS (
{unions}
)
SELECT p.node_a, p.node_b,
       CAST({idx_case} AS INTEGER) AS rule_idx,
       {attr_case} AS rule_attr,
       {dist} AS dist
FROM pairs p JOIN sn a ON p.node_a = a.pid JOIN sn b ON p.node_b = b.pid
WHERE {idx_case} IS NOT NULL
"""
