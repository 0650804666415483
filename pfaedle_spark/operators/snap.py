"""J6/J7 — station snapping: GTFS stop -> matching OSM station node.

Reference: ``trgraph/node_grid.cpp:22-73`` (grid range query +
name-similarity filter + argmin distance) and the snap loop
``osm_builder.cpp:1649-1785`` (escalating radii). The name comparison
runs both names through the order-sensitive regex normalizer chain
(``trgraph/normalizer.cpp:50-96``) and then ``statSimi``
(``include/pfaedle/router/comp.h:18-60``: exact => 1).

Spark plan: same cell-id equi-join as J5, names normalized with chained
``regexp_replace`` columns (JVM-side), exact-match similarity, then
``row_number`` argmin with (dist, node_id) tie-break. No UDFs.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .. import constants as C
from .. import sqlgen
from . import cells
from .graph_ops import collect_columns, columns_frame
from .graph_passes import concat, first_rows, take

# Order-sensitive normalizer chain (reference normalizer.cpp semantics,
# rules modeled on pfaedle.cfg:8-215): lowercase, strip punctuation,
# collapse whitespace, trim. MUST be applied sequentially.
NORM_RULES = [
    (r"[.,;:!?']", ""),
    (r"\s+", " "),
]


def normalize_name(col: Column) -> Column:
    out = F.lower(col)
    for pat, rep in NORM_RULES:
        out = F.regexp_replace(out, pat, rep)
    return F.trim(out)


def normalize_name_sql(expr: str) -> str:
    """DuckDB mirror — regexp_replace needs the explicit 'g' flag there."""
    out = f"LOWER({expr})"
    for pat, rep in NORM_RULES:
        p, r = pat.replace("'", "''"), rep.replace("'", "''")
        out = f"REGEXP_REPLACE({out}, '{p}', '{r}', 'g')"
    return f"TRIM({out})"


def snap_stations(
    stops: DataFrame,
    station_nodes: DataFrame,
    radius: float = C.STATION_RADIUS,
) -> DataFrame:
    """Best station node per stop: within `radius`, normalized-name
    equality, argmin (dist, node_id).

    Output: (stop_id, node_id, dist, component).
    At scale the node side is small after the station filter — Catalyst
    broadcasts it; the cell join prunes the cross product first.
    """
    sc = cells.point_cells(stops.select("stop_id", "stop_name", "x", "y"), radius)
    nc = cells.point_cells(
        station_nodes.select(
            F.col("node_id"),
            F.col("name"),
            F.col("x").alias("nx"),
            F.col("y").alias("ny"),
            F.col("component"),
        ).withColumnRenamed("nx", "x").withColumnRenamed("ny", "y"),
        0.0,
    ).select("cell_id", "node_id", "name", F.col("x").alias("nx"), F.col("y").alias("ny"), "component")

    j = sc.join(nc, "cell_id").dropDuplicates(["stop_id", "node_id"])
    j = j.withColumn(
        "dist",
        F.sqrt(
            (F.col("x") - F.col("nx")) * (F.col("x") - F.col("nx"))
            + (F.col("y") - F.col("ny")) * (F.col("y") - F.col("ny"))
        ),
    ).filter(F.col("dist") <= radius)
    j = j.filter(normalize_name(F.col("stop_name")) == normalize_name(F.col("name")))
    w = Window.partitionBy("stop_id").orderBy(F.col("dist").asc(), F.col("node_id").asc())
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter("rank = 1")
        .select("stop_id", "node_id", "dist", "component")
    )


# --------------------------------------------------------------------
# J7 — station snapping WITH edge splitting (escalating radii)
# --------------------------------------------------------------------
#
# Reference ``osm_builder::snap_station`` (osm_builder.cpp:1363-1506):
# project the stop onto its best candidate edge; reuse an endpoint when
# the projection lands within ~2 m of it, otherwise SPLIT the edge at
# the projection and insert a new station node. Driver loop
# ``snap_stations`` (:1649-1785) escalates the search radius
# (pfaedle.cfg:354). The reference mutates the grid in place; here each
# round is a new generation of flat numpy edge columns on the driver:
# round k consumes round k-1's edge set, split edges are tombstoned and
# their two halves appended (SURVEY §7 risk 2 / Stage 3 design). The
# round-unrolled DuckDB oracle below replays the same algebra.

SPLIT_RADII = [25.0, 100.0, 200.0]
SPLIT_EPS = 2.0           # endpoint-promotion distance (osm_builder.cpp:1413)
PROJ_NODE_OFF = 2_000_000  # new projection-node ids: OFF + stop number
SPLIT_EDGE_OFF = 4_000_000  # split-half edge ids: OFF + stopnum*2 (+1)

STOPNUM_RE = "([0-9]+)"  # the stop number: first digit run of stop_id
_STOPNUM = f"CAST(REGEXP_EXTRACT(stop_id, '{STOPNUM_RE}', 1) AS BIGINT)"
EDGE_COLS = ["edge_id", "src", "dst", "x1", "y1", "x2", "y2", "level", "oneway", "length"]
SNAP_SCHEMA = (
    "stop_id string, node_id long, kind string, round int, dist double,"
    " qx double, qy double, split_edge long"
)

# projection onto the best edge — ONE dialect-neutral derivation used by
# the DuckDB oracle; :func:`_project` evaluates it in the same order
_DX, _DY = "(x2 - x1)", "(y2 - y1)"
_LEN2 = f"({_DX}*{_DX} + {_DY}*{_DY})"
_T_RAW = f"(((x - x1)*{_DX} + (y - y1)*{_DY}) / {_LEN2})"
_T = f"(CASE WHEN {_LEN2} <= 0 THEN 0.0 ELSE LEAST(1.0, GREATEST(0.0, {_T_RAW})) END)"
_QX = f"(x1 + {_T} * {_DX})"
_QY = f"(y1 + {_T} * {_DY})"
_DPOS = f"({_T} * length)"

_KIND = (
    f"CASE WHEN {_DPOS} <= {{eps}} THEN 'src' "
    f"WHEN length - {_DPOS} <= {{eps}} THEN 'dst' "
    f"ELSE 'split' END"
)
_NODE_ID = (
    f"CASE WHEN {_DPOS} <= {{eps}} THEN src "
    f"WHEN length - {_DPOS} <= {{eps}} THEN dst "
    f"ELSE {PROJ_NODE_OFF} + stopnum END"
)


def _project(x, y, x1, y1, x2, y2):
    """(t, qx, qy) of ``_T``/``_QX``/``_QY`` — also the projection
    inside ``sqlgen.dist_to_segment`` — with the same operation order,
    so every double is bit-identical to the SQL."""
    dx, dy = x2 - x1, y2 - y1
    len2 = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t_raw = ((x - x1) * dx + (y - y1) * dy) / len2
    t = np.where(len2 <= 0, 0.0, np.minimum(1.0, np.maximum(0.0, t_raw)))
    return t, x1 + t * dx, y1 + t * dy


def snap_arrays(
    stops: dict, edges: dict, radii: list[float] | None = None, eps: float = SPLIT_EPS
) -> tuple[dict, dict]:
    """J7 kernel: escalating-radius snap with edge splitting over
    (stop_id, x, y) stops and ``EDGE_COLS`` edges. Returns (snap rows
    per ``SNAP_SCHEMA``, post-split edges).

    Per round: padded-cell pairing (stops x current edges) -> best edge
    per stop (argmin dist, edge_id) -> ONE winner stop per edge (argmin
    dist, stop_id — the race-safe stand-in for the reference's
    sequential in-place mutation; losers retry next round against the
    updated edge set) -> endpoint promotion within `eps`, else split."""
    sid = stops["stop_id"].astype(str)
    stopnum = np.array([int(re.search(STOPNUM_RE, s).group(1)) for s in sid], dtype=np.int64)
    srank = np.argsort(np.argsort(sid, kind="stable"))  # stop_id string order
    cur, left, parts = {c: edges[c] for c in EDGE_COLS}, np.arange(len(sid)), []
    for rnd, r in enumerate(radii or SPLIT_RADII, start=1):
        px, py = stops["x"][left], stops["y"][left]
        x1, y1, x2, y2 = (cur[c] for c in ("x1", "y1", "x2", "y2"))
        ia, e = cells.cell_pairs(
            cells.box_cells(px, py, px, py, r),
            cells.box_cells(np.minimum(x1, x2), np.minimum(y1, y2),
                            np.maximum(x1, x2), np.maximum(y1, y2)),
        )
        s, x, y = left[ia], px[ia], py[ia]
        _, qx, qy = _project(x, y, x1[e], y1[e], x2[e], y2[e])
        dist = np.sqrt((x - qx) * (x - qx) + (y - qy) * (y - qy))
        k = np.flatnonzero(dist <= r)
        k = k[first_rows(cur["edge_id"][e[k]], dist[k], s[k])]  # best edge per stop
        k = k[first_rows(srank[s[k]], dist[k], e[k])]  # winner stop per edge
        s, e, dist = s[k], e[k], dist[k]
        w = take(cur, e)
        t, qx, qy = _project(stops["x"][s], stops["y"][s], w["x1"], w["y1"], w["x2"], w["y2"])
        dpos = t * w["length"]
        at_src, at_dst = dpos <= eps, w["length"] - dpos <= eps
        split = ~at_src & ~at_dst
        node = np.where(at_src, w["src"], np.where(at_dst, w["dst"], PROJ_NODE_OFF + stopnum[s]))
        parts.append({
            "stop_id": stops["stop_id"][s], "node_id": node,
            "kind": np.where(at_src, "src", np.where(at_dst, "dst", "split")).astype(object),
            "round": np.full(len(s), rnd, dtype=np.int32), "dist": dist,
            "qx": qx, "qy": qy, "split_edge": w["edge_id"],
        })
        sp, n2 = take(w, split), SPLIT_EDGE_OFF + stopnum[s][split] * 2
        half1 = dict(sp, edge_id=n2, dst=node[split], x2=qx[split], y2=qy[split],
                     length=t[split] * sp["length"])
        half2 = dict(sp, edge_id=n2 + 1, src=node[split], x1=qx[split], y1=qy[split],
                     length=(1.0 - t[split]) * sp["length"])
        cur = concat(take(cur, ~np.isin(np.arange(len(cur["edge_id"])), e[split])), half1, half2)
        left = np.setdiff1d(left, s)
    return concat(*parts), cur


def snap_with_splits(
    stops: DataFrame, edges: DataFrame, radii: list[float] | None = None, eps: float = SPLIT_EPS
) -> DataFrame:
    """Escalating-radius snap with edge splitting (:func:`snap_arrays`).

    Output: (stop_id, node_id, kind, round, dist, qx, qy, split_edge)."""
    snaps, _ = snap_arrays(
        collect_columns(stops.select("stop_id", "x", "y")),
        collect_columns(edges.select(*EDGE_COLS)),
        radii, eps,
    )
    return columns_frame(stops.sparkSession, snaps, SNAP_SCHEMA)


def _cell_join_sql(stop_src: str, edge_src: str, radius: float) -> str:
    """stop x edge candidate pairs via the padded-cell equi-join (same
    offs-VALUES pattern as candidates_cte_sql)."""
    import math

    def offs(n: int) -> str:
        return "(VALUES " + ",".join(f"({i})" for i in range(n + 1)) + ")"

    n_pt = math.ceil(2 * radius / C.CELL) + 1
    n_ed = math.ceil(C.GRID_SPACING / C.CELL) + 1
    dist = sqlgen.dist_to_segment("s.x", "s.y", "e.x1", "e.y1", "e.x2", "e.y2")
    return f"""
  SELECT DISTINCT s.stop_id, s.stopnum, s.x, s.y,
         e.edge_id, e.src, e.dst, e.x1, e.y1, e.x2, e.y2,
         e.level, e.oneway, e.length,
         {dist} AS dist
  FROM (
    SELECT s.*,
           (CAST(FLOOR((s.x - {radius})/{C.CELL}) AS BIGINT) + ox.o) * {C.CELL_STRIDE}
           + CAST(FLOOR((s.y - {radius})/{C.CELL}) AS BIGINT) + oy.o AS cell_id
    FROM {stop_src} s, {offs(n_pt)} ox(o), {offs(n_pt)} oy(o)
    WHERE CAST(FLOOR((s.x - {radius})/{C.CELL}) AS BIGINT) + ox.o
            <= CAST(FLOOR((s.x + {radius})/{C.CELL}) AS BIGINT)
      AND CAST(FLOOR((s.y - {radius})/{C.CELL}) AS BIGINT) + oy.o
            <= CAST(FLOOR((s.y + {radius})/{C.CELL}) AS BIGINT)
  ) s
  JOIN (
    SELECT e.*,
           (CAST(FLOOR(LEAST(e.x1,e.x2)/{C.CELL}) AS BIGINT) + ox.o) * {C.CELL_STRIDE}
           + CAST(FLOOR(LEAST(e.y1,e.y2)/{C.CELL}) AS BIGINT) + oy.o AS cell_id
    FROM {edge_src} e, {offs(n_ed)} ox(o), {offs(n_ed)} oy(o)
    WHERE CAST(FLOOR(LEAST(e.x1,e.x2)/{C.CELL}) AS BIGINT) + ox.o
            <= CAST(FLOOR(GREATEST(e.x1,e.x2)/{C.CELL}) AS BIGINT)
      AND CAST(FLOOR(LEAST(e.y1,e.y2)/{C.CELL}) AS BIGINT) + oy.o
            <= CAST(FLOOR(GREATEST(e.y1,e.y2)/{C.CELL}) AS BIGINT)
  ) e USING (cell_id)
  WHERE {dist} <= {radius}"""


def snap_with_splits_sql(
    radii: list[float] | None = None, eps: float = SPLIT_EPS
) -> str:
    """Round-unrolled DuckDB oracle for :func:`snap_with_splits`."""
    radii = radii or SPLIT_RADII
    parts = [
        sqlgen.with_ctes("stations", "edges"),
        snap_splits_ctes(radii=radii, eps=eps),
    ]
    sel = "\nUNION ALL\n".join(
        f"SELECT stop_id, node_id, kind, round, dist, qx, qy, edge_id AS split_edge FROM snap{k}"
        for k in range(1, len(radii) + 1)
    )
    parts.append("\n" + sel + "\n")
    return "".join(parts)


def snap_splits_ctes(
    radii: list[float] | None = None,
    eps: float = SPLIT_EPS,
    edge_src: str = "edges",
    stop_src: str = "stations",
) -> str:
    """The snap rounds as composable CTEs: emits ``snap1..snapK`` (one
    per round) and ``edges0..edgesK`` — ``edges<K>`` is the post-split
    edge set downstream oracles (collapse, routing) build on."""
    radii = radii or SPLIT_RADII
    # projection exprs over the snap-row column names (x, y, x1..y2)
    t, qx, qy = _T, _QX, _QY
    kind = _KIND.format(eps=eps)
    node_id = _NODE_ID.format(eps=eps)
    parts = [f""",
edges0 AS (
  SELECT edge_id, src, dst, x1, y1, x2, y2, level, oneway, length
  FROM {edge_src}
),
stops0 AS (
  SELECT stop_id, {_STOPNUM} AS stopnum, x, y FROM {stop_src}
)"""]
    for k, r in enumerate(radii, start=1):
        parts.append(f""",
cand{k} AS ({_cell_join_sql(f'stops{k - 1}', f'edges{k - 1}', r)}
),
best{k} AS (
  SELECT * FROM cand{k}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY stop_id ORDER BY dist ASC, edge_id ASC) = 1
),
win{k} AS (
  SELECT * FROM best{k}
  QUALIFY ROW_NUMBER() OVER (PARTITION BY edge_id ORDER BY dist ASC, stop_id ASC) = 1
),
snap{k} AS MATERIALIZED (
  SELECT stop_id, stopnum, dist, edge_id, src, dst, x1, y1, x2, y2,
         level, oneway, length,
         {t} AS t, {qx} AS qx, {qy} AS qy,
         {kind} AS kind, {node_id} AS node_id,
         {k} AS round
  FROM win{k}
),
edges{k} AS MATERIALIZED (
  SELECT * FROM edges{k - 1}
  WHERE edge_id NOT IN (SELECT edge_id FROM snap{k} WHERE kind = 'split')
  UNION ALL
  SELECT {SPLIT_EDGE_OFF} + stopnum * 2, src, node_id, x1, y1, qx, qy,
         level, oneway, t * length
  FROM snap{k} WHERE kind = 'split'
  UNION ALL
  SELECT {SPLIT_EDGE_OFF} + stopnum * 2 + 1, node_id, dst, qx, qy, x2, y2,
         level, oneway, (1.0 - t) * length
  FROM snap{k} WHERE kind = 'split'
),
stops{k} AS MATERIALIZED (
  SELECT * FROM stops{k - 1}
  WHERE stop_id NOT IN (SELECT stop_id FROM snap{k})
)""")
    snaps_all = "\nUNION ALL\n".join(
        f"SELECT stop_id, stopnum, node_id, kind, round, dist, qx, qy, edge_id AS split_edge FROM snap{k}"
        for k in range(1, len(radii) + 1)
    )
    parts.append(f""",
snaps_all AS MATERIALIZED (
{snaps_all}
)""")
    return "".join(parts)


def _snap_ctes(radius: float, base_tables: tuple = ("stations", "station_nodes")) -> str:
    """The snap match as CTEs (shared by snap_oracle_sql and eq_reach_sql)."""
    import math

    n = math.ceil(2 * radius / C.CELL) + 1
    offs = "(VALUES " + ",".join(f"({i})" for i in range(n + 1)) + ")"
    return f"""{sqlgen.with_ctes(*base_tables)},
stop_cells AS (
  SELECT s.*,
         (CAST(FLOOR((s.x - {radius})/{C.CELL}) AS BIGINT) + ox.o) * {C.CELL_STRIDE}
         + CAST(FLOOR((s.y - {radius})/{C.CELL}) AS BIGINT) + oy.o AS cell_id
  FROM stations s, {offs} ox(o), {offs} oy(o)
  WHERE CAST(FLOOR((s.x - {radius})/{C.CELL}) AS BIGINT) + ox.o
          <= CAST(FLOOR((s.x + {radius})/{C.CELL}) AS BIGINT)
    AND CAST(FLOOR((s.y - {radius})/{C.CELL}) AS BIGINT) + oy.o
          <= CAST(FLOOR((s.y + {radius})/{C.CELL}) AS BIGINT)
),
node_cells AS (
  SELECT n.*, {sqlgen.cell_id('n.x', 'n.y')} AS cell_id FROM station_nodes n
),
matched AS (
  SELECT s.stop_id, n.node_id, n.component,
         SQRT((s.x-n.x)*(s.x-n.x)+(s.y-n.y)*(s.y-n.y)) AS dist
  FROM stop_cells s JOIN node_cells n USING (cell_id)
  WHERE SQRT((s.x-n.x)*(s.x-n.x)+(s.y-n.y)*(s.y-n.y)) <= {radius}
    AND {normalize_name_sql('s.stop_name')} = {normalize_name_sql('n.name')}
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY stop_id ORDER BY dist ASC, node_id ASC) AS r
  FROM (SELECT DISTINCT * FROM matched)
)"""


def snap_oracle_sql(radius: float = C.STATION_RADIUS) -> str:
    return (
        _snap_ctes(radius)
        + "\nSELECT stop_id, node_id, dist, component FROM ranked WHERE r = 1\n"
    )


# --------------------------------------------------------------------
# J9 — equality-reach probe (bounded best-first dedup search)
# --------------------------------------------------------------------

EQ_ATTR_MOD = 31       # synthetic shared-ref attr (uic_ref stand-in,
                       # pfaedle.cfg:344-350): node_id % 31 — chosen so
                       # same-stripe stations at (row±1, col∓1), node-id
                       # delta 31, share a value within 2 hops
EQ_CAP = 2.5 * C.GRID_SPACING   # reference: reach <= 2*d of the snap
EQ_ROUNDS = 3          # provable: every edge costs GRID_SPACING, so a
                       # 3-hop path already exceeds EQ_CAP — round 3 is
                       # the fixpoint


def eq_reach(
    stops: DataFrame,
    station_nodes: DataFrame,
    edges: DataFrame,
    cap: float = EQ_CAP,
    rounds: int = EQ_ROUNDS,
) -> DataFrame:
    """J9 (``osm_builder::depth_search`` osm_builder.cpp:1267-1341,
    ``eqStatReach`` :1344-1360): from each stop's snapped node, bounded
    relax search over the undirected graph for an existing *equivalent*
    station node within the cost cap — equivalence = shared synthetic
    uic_ref attr. Expansion never continues THROUGH another station
    node (``block_search_functor`` :101-110), and adjacency is
    undirected (the reference walks node adjacency regardless of edge
    direction). Output: (stop_id, seed, eq_node, cost) — the argmin
    (cost, node) match per stop, only stops with a match.

    Scale shape: bounded rounds of hash equi-joins keyed by node id,
    localCheckpoint between rounds; frontier size is bounded by the
    cap/edge-length ratio, never the graph.  The per-node min is ONE
    final groupBy, not one per round: rounds expand only the rows first
    reached that round (earlier rows were already expanded, and any
    path through a node is explored from each of its cap-valid
    arrivals), so the union of round layers carries every <=rounds-hop
    cap-bounded path cost and min-at-the-end equals min-every-round —
    two shuffles and two barrier jobs fewer."""
    seeds = snap_stations(stops, station_nodes).select(
        "stop_id", F.col("node_id").alias("seed")
    )
    und = edges.select("src", "dst", "length").unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "length"
        )
    ).select(F.col("src").alias("node"), F.col("dst").alias("nbr"), "length")
    und = und.localCheckpoint(eager=True)  # one scan feeds every round
    st = station_nodes.select(F.col("node_id").alias("node"))

    best0 = seeds.select(
        "stop_id", "seed", F.col("seed").alias("node"), F.lit(0.0).alias("cost")
    )
    layers = [best0]
    # round 0 expands the seed itself (a station node — the reference
    # starts the walk there); every LATER arrival on a station node is
    # blocked, including an arrival back on a seed.
    frontier = best0
    for r in range(rounds):
        exp = frontier if r == 0 else frontier.join(st, "node", "left_anti")
        frontier = (
            exp.join(und, "node")
            .select(
                "stop_id", "seed",
                F.col("nbr").alias("node"),
                (F.col("cost") + F.col("length")).alias("cost"),
            )
            .filter(F.col("cost") <= cap)
            .localCheckpoint(eager=True)
        )
        layers.append(frontier)
    allr = layers[0]
    for lay in layers[1:]:
        allr = allr.unionByName(lay)
    best = allr.groupBy("stop_id", "seed", "node").agg(
        F.min("cost").alias("cost")
    )
    hits = (
        best.filter(F.col("node") != F.col("seed"))
        .join(st, "node")
        .filter((F.col("node") % EQ_ATTR_MOD) == (F.col("seed") % EQ_ATTR_MOD))
    )
    w = Window.partitionBy("stop_id").orderBy(F.col("cost").asc(), F.col("node").asc())
    return (
        hits.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("stop_id", "seed", F.col("node").alias("eq_node"), "cost")
    )


def eq_reach_sql(
    cap: float = EQ_CAP,
    rounds: int = EQ_ROUNDS,
    radius: float = C.STATION_RADIUS,
) -> str:
    """Unrolled SQL mirror: snap CTEs -> seeds -> `rounds` materialized
    relax rounds (station nodes never expand, min-cost dedup) -> attr
    match + argmin."""
    sql = _snap_ctes(radius, ("stations", "station_nodes", "edges"))
    sql += f""",
seeds AS MATERIALIZED (SELECT stop_id, node_id AS seed FROM ranked WHERE r = 1),
und AS (
  SELECT src AS node, dst AS nbr, length FROM edges
  UNION ALL
  SELECT dst, src, length FROM edges
),
stn AS (SELECT node_id AS node FROM station_nodes),
f0 AS MATERIALIZED (SELECT stop_id, seed, seed AS node, 0.0 AS cost FROM seeds)"""
    for r in range(rounds):
        sql += f""",
exp{r} AS (
  SELECT b.* FROM f{r} b
  LEFT JOIN stn s ON b.node = s.node
  WHERE s.node IS NULL OR (b.node = b.seed AND b.cost = 0.0)
),
nx{r} AS (
  SELECT e.stop_id, e.seed, u.nbr AS node, e.cost + u.length AS cost
  FROM exp{r} e JOIN und u ON u.node = e.node
  WHERE e.cost + u.length <= {cap!r}
),
f{r + 1} AS MATERIALIZED (
  SELECT stop_id, seed, node, MIN(cost) AS cost
  FROM (SELECT * FROM f{r} UNION ALL SELECT * FROM nx{r})
  GROUP BY stop_id, seed, node
)"""
    return sql + f""",
hits AS (
  SELECT b.* FROM f{rounds} b
  JOIN stn s ON b.node = s.node
  WHERE b.node <> b.seed AND b.node % {EQ_ATTR_MOD} = b.seed % {EQ_ATTR_MOD}
)
SELECT stop_id, seed, node AS eq_node, cost
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY stop_id
                                   ORDER BY cost ASC, node ASC) AS rk
      FROM hits)
WHERE rk = 1
"""
