"""Geometry-library operators: segment intersection, box/centroid
aggregates, altNames station similarity, self edges.

* ``intersects`` / ``intersection`` — reference ``util/geo/Geo.h:
  458-681``: proper segment crossing + intersection point. Expressed as
  one dialect-neutral SQL string over the cell-joined pairs (JVM
  codegen on the Spark side, bit-identical in the DuckDB oracle).
* ``getBoundingBox`` / ``extendBox`` / ``centroid`` — ``Geo.h:55-106,
  1219-1455``: per-trip extent aggregate. Coordinates are integral
  doubles, so SUM is addition-order-independent and the centroid
  division is bit-stable across engines.
* ``station_info::simi`` with altNames — ``trgraph/station_info.cpp:
  78-98``: any (name ∪ altNames) × (name ∪ altNames) pair with
  statSimi > 0.5 ⇒ 1. The alt-name sets are tiny and fixed-width, so
  the cross product is a GREATEST over statSimi terms — no shuffle
  (the explode+join form is only needed for unbounded alt lists).
* G9 ``writeSelfEdgs`` — ``trgraph/graph.cpp:202-211``: a self-loop
  for every isolated station node (anti-join + append).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import sqlgen
from ..functions import strings
from . import cells

# synthetic diagonal probe segments (one per station): guaranteed to
# properly cross grid edges
DIAG_DX = 3000.0
DIAG_DY = 1500.0

SELF_EDGE_OFF = 8_000_000
EXTENT_PAD = 100.0  # reference `pad` (BOX_PADDING analogue, scaled)


# --------------------------------------------------------------------
# segment intersection
# --------------------------------------------------------------------

# P = diagonal (dx1,dy1)-(dx2,dy2), Q = edge (x1,y1)-(x2,y2); proper
# crossing via the parametric form — collinear (d == 0) reports none.
_D = "((dx2 - dx1) * (y2 - y1) - (dy2 - dy1) * (x2 - x1))"
_T = f"(((x1 - dx1) * (y2 - y1) - (y1 - dy1) * (x2 - x1)) / {_D})"
_U = f"(((x1 - dx1) * (dy2 - dy1) - (y1 - dy1) * (dx2 - dx1)) / {_D})"
_HIT = f"({_D} <> 0 AND {_T} >= 0 AND {_T} <= 1 AND {_U} >= 0 AND {_U} <= 1)"
_IX = f"(dx1 + {_T} * (dx2 - dx1))"
_IY = f"(dy1 + {_T} * (dy2 - dy1))"


def segment_intersections(stations: DataFrame, edges: DataFrame) -> DataFrame:
    """All proper crossings between per-station diagonal probe segments
    and the edge set, via the padded-cell equi-join.

    Output: (stop_id, edge_id, t, u, ix, iy)."""
    diags = stations.select(
        "stop_id",
        F.col("x").alias("dx1"),
        F.col("y").alias("dy1"),
        (F.col("x") + DIAG_DX).alias("dx2"),
        (F.col("y") + DIAG_DY).alias("dy2"),
    )
    dc = cells.bbox_cells(
        diags,
        F.least("dx1", "dx2"), F.least("dy1", "dy2"),
        F.greatest("dx1", "dx2"), F.greatest("dy1", "dy2"),
    )
    ec = cells.edge_cells(edges)
    j = dc.join(ec, "cell_id").dropDuplicates(["stop_id", "edge_id"])
    return (
        j.filter(F.expr(_HIT))
        .select(
            "stop_id",
            "edge_id",
            F.expr(_T).alias("t"),
            F.expr(_U).alias("u"),
            F.expr(_IX).alias("ix"),
            F.expr(_IY).alias("iy"),
        )
    )


def segment_intersections_sql() -> str:
    import math

    from .. import constants as C

    n_dg = math.ceil(max(DIAG_DX, DIAG_DY) / C.CELL) + 1
    n_ed = math.ceil(C.GRID_SPACING / C.CELL) + 1

    def offs(n: int) -> str:
        return "(VALUES " + ",".join(f"({i})" for i in range(n + 1)) + ")"

    return f"""{sqlgen.with_ctes("stations", "edges")},
diags AS (
  SELECT stop_id, x AS dx1, y AS dy1, x + {DIAG_DX} AS dx2, y + {DIAG_DY} AS dy2
  FROM stations
),
dcells AS (
  SELECT d.*,
         (CAST(FLOOR(LEAST(dx1,dx2)/{C.CELL}) AS BIGINT) + ox.o) * {C.CELL_STRIDE}
         + CAST(FLOOR(LEAST(dy1,dy2)/{C.CELL}) AS BIGINT) + oy.o AS cell_id
  FROM diags d, {offs(n_dg)} ox(o), {offs(n_dg)} oy(o)
  WHERE CAST(FLOOR(LEAST(dx1,dx2)/{C.CELL}) AS BIGINT) + ox.o
          <= CAST(FLOOR(GREATEST(dx1,dx2)/{C.CELL}) AS BIGINT)
    AND CAST(FLOOR(LEAST(dy1,dy2)/{C.CELL}) AS BIGINT) + oy.o
          <= CAST(FLOOR(GREATEST(dy1,dy2)/{C.CELL}) AS BIGINT)
),
ecells AS (
  SELECT e.*,
         (CAST(FLOOR(LEAST(x1,x2)/{C.CELL}) AS BIGINT) + ox.o) * {C.CELL_STRIDE}
         + CAST(FLOOR(LEAST(y1,y2)/{C.CELL}) AS BIGINT) + oy.o AS cell_id
  FROM edges e, {offs(n_ed)} ox(o), {offs(n_ed)} oy(o)
  WHERE CAST(FLOOR(LEAST(x1,x2)/{C.CELL}) AS BIGINT) + ox.o
          <= CAST(FLOOR(GREATEST(x1,x2)/{C.CELL}) AS BIGINT)
    AND CAST(FLOOR(LEAST(y1,y2)/{C.CELL}) AS BIGINT) + oy.o
          <= CAST(FLOOR(GREATEST(y1,y2)/{C.CELL}) AS BIGINT)
),
pairs AS (
  SELECT DISTINCT d.stop_id, d.dx1, d.dy1, d.dx2, d.dy2,
         e.edge_id, e.x1, e.y1, e.x2, e.y2
  FROM dcells d JOIN ecells e USING (cell_id)
)
SELECT stop_id, edge_id, {_T} AS t, {_U} AS u, {_IX} AS ix, {_IY} AS iy
FROM pairs WHERE {_HIT}
"""


# --------------------------------------------------------------------
# trip extent (bbox / extendBox / centroid)
# --------------------------------------------------------------------

def trip_extent(points: DataFrame) -> DataFrame:
    """Per-trip bounding box, padded box and centroid — one map-side
    combinable aggregation."""
    return points.groupBy("trip_id").agg(
        F.count("*").cast("long").alias("n_points"),
        (F.sum("x") / F.count("*")).alias("cx"),
        (F.sum("y") / F.count("*")).alias("cy"),
        F.min("x").alias("xmin"),
        F.min("y").alias("ymin"),
        F.max("x").alias("xmax"),
        F.max("y").alias("ymax"),
        (F.min("x") - EXTENT_PAD).alias("xmin_pad"),
        (F.min("y") - EXTENT_PAD).alias("ymin_pad"),
        (F.max("x") + EXTENT_PAD).alias("xmax_pad"),
        (F.max("y") + EXTENT_PAD).alias("ymax_pad"),
    )


def trip_extent_sql() -> str:
    return f"""{sqlgen.with_ctes("points")}
SELECT trip_id,
       COUNT(*) AS n_points,
       SUM(x) / COUNT(*) AS cx,
       SUM(y) / COUNT(*) AS cy,
       MIN(x) AS xmin, MIN(y) AS ymin, MAX(x) AS xmax, MAX(y) AS ymax,
       MIN(x) - {EXTENT_PAD} AS xmin_pad, MIN(y) - {EXTENT_PAD} AS ymin_pad,
       MAX(x) + {EXTENT_PAD} AS xmax_pad, MAX(y) + {EXTENT_PAD} AS ymax_pad
FROM points GROUP BY trip_id
"""


# --------------------------------------------------------------------
# station_info::simi with altNames
# --------------------------------------------------------------------

def _stop_variants():
    num = F.regexp_extract("stop_id", r"(\d+)", 1)
    return [
        F.col("stop_name"),
        F.concat(F.lit("station "), num),
        F.concat(F.lit("halt "), num),
    ]


def _node_variants():
    return [
        F.col("name"),
        F.when(
            F.col("node_id") % 3 == 0,
            F.concat(F.lit("halt "), F.col("node_id").cast("string")),
        ).otherwise(F.concat(F.lit("bahnhof "), F.col("node_id").cast("string"))),
    ]


def alt_name_simi(stations: DataFrame, station_nodes: DataFrame) -> DataFrame:
    """(stop_id, node_id, simi): 1 iff ANY (name ∪ altNames) pair has
    statSimi > 0.5 (station_info.cpp:78-98). Bounded alt sets ⇒ a
    GREATEST over the cross product, fully JVM-side."""
    j = stations.join(station_nodes, stations.true_node_id == station_nodes.node_id)
    pair_simis = [
        strings.stat_simi(a, b) for a in _stop_variants() for b in _node_variants()
    ]
    simi = F.when(F.greatest(*pair_simis) > 0.5, F.lit(1.0)).otherwise(F.lit(0.0))
    return j.select("stop_id", "node_id", simi.alias("simi"))


def alt_name_simi_sql() -> str:
    num = "REGEXP_EXTRACT(stop_id, '(\\d+)', 1)"
    stop_vars = ["stop_name", f"('station ' || {num})", f"('halt ' || {num})"]
    node_vars = [
        "name",
        "(CASE WHEN node_id % 3 = 0 THEN 'halt ' || CAST(node_id AS VARCHAR)"
        " ELSE 'bahnhof ' || CAST(node_id AS VARCHAR) END)",
    ]
    pair_simis = [
        strings.stat_simi_sql(a, b) for a in stop_vars for b in node_vars
    ]
    greatest = "GREATEST(" + ", ".join(f"({p})" for p in pair_simis) + ")"
    return f"""{sqlgen.with_ctes("stations", "station_nodes")}
SELECT s.stop_id, n.node_id,
       CASE WHEN {greatest} > 0.5 THEN 1.0 ELSE 0.0 END AS simi
FROM stations s JOIN station_nodes n ON s.true_node_id = n.node_id
"""


# --------------------------------------------------------------------
# G9 — self edges for isolated station nodes
# --------------------------------------------------------------------

def self_edges(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Self-loop rows for station nodes with no incident edge
    (graph.cpp:202-211). Output: (edge_id, src, dst, length)."""
    ends = (
        edges.select(F.col("src").alias("node_id"))
        .unionAll(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    isolated = nodes.filter(F.col("is_station")).join(ends, "node_id", "left_anti")
    return isolated.select(
        (F.lit(SELF_EDGE_OFF) + F.col("node_id")).alias("edge_id"),
        F.col("node_id").alias("src"),
        F.col("node_id").alias("dst"),
        F.lit(0.0).alias("length"),
    )


def self_edges_sql(edge_filter: str) -> str:
    return f"""{sqlgen.with_ctes("nodes", "edges")},
kept AS (SELECT * FROM edges WHERE {edge_filter}),
ends AS (
  SELECT DISTINCT node_id FROM (
    SELECT src AS node_id FROM kept UNION ALL SELECT dst FROM kept
  )
)
SELECT {SELF_EDGE_OFF} + n.node_id AS edge_id,
       n.node_id AS src, n.node_id AS dst, 0.0 AS length
FROM nodes n
WHERE n.is_station AND n.node_id NOT IN (SELECT node_id FROM ends)
"""


# --------------------------------------------------------------------
# WKT read / write (SURVEY §2.8 optional row; reference util/geo/Geo.h
# getWKT / polyLineFromWKT — re-expressed as column expressions)
# --------------------------------------------------------------------

def wkt_roundtrip(edges: DataFrame) -> DataFrame:
    """Write each edge segment as a WKT LINESTRING, parse it back with
    regexp extraction, and recompute the length from the parsed coords.

    Fixed '%.1f' formatting keeps the text bit-identical across engines
    (Java format_string vs C printf agree for exactly-representable
    doubles). Pure narrow projection — no shuffle, no UDF.
    """
    wkt = F.concat(
        F.lit("LINESTRING ("),
        F.format_string("%.1f", F.col("x1")), F.lit(" "),
        F.format_string("%.1f", F.col("y1")), F.lit(", "),
        F.format_string("%.1f", F.col("x2")), F.lit(" "),
        F.format_string("%.1f", F.col("y2")), F.lit(")"),
    )
    num = r"(-?[0-9]+\.[0-9]+)"
    pat = rf"LINESTRING \({num} {num}, {num} {num}\)"
    out = edges.select("edge_id", wkt.alias("wkt"))
    px1 = F.regexp_extract("wkt", pat, 1).cast("double")
    py1 = F.regexp_extract("wkt", pat, 2).cast("double")
    px2 = F.regexp_extract("wkt", pat, 3).cast("double")
    py2 = F.regexp_extract("wkt", pat, 4).cast("double")
    return out.select(
        "edge_id",
        "wkt",
        px1.alias("px1"), py1.alias("py1"),
        px2.alias("px2"), py2.alias("py2"),
        F.sqrt((px2 - px1) * (px2 - px1) + (py2 - py1) * (py2 - py1)).alias(
            "parsed_len"
        ),
    )


def wkt_roundtrip_sql() -> str:
    num = r"(-?[0-9]+\.[0-9]+)"
    pat = rf"LINESTRING \({num} {num}, {num} {num}\)"
    return f"""{sqlgen.with_ctes("edges")},
w AS (
  SELECT edge_id,
         'LINESTRING (' || printf('%.1f', x1) || ' ' || printf('%.1f', y1)
         || ', ' || printf('%.1f', x2) || ' ' || printf('%.1f', y2) || ')' AS wkt
  FROM edges
)
SELECT edge_id, wkt,
       CAST(regexp_extract(wkt, '{pat}', 1) AS DOUBLE) AS px1,
       CAST(regexp_extract(wkt, '{pat}', 2) AS DOUBLE) AS py1,
       CAST(regexp_extract(wkt, '{pat}', 3) AS DOUBLE) AS px2,
       CAST(regexp_extract(wkt, '{pat}', 4) AS DOUBLE) AS py2,
       SQRT((CAST(regexp_extract(wkt, '{pat}', 3) AS DOUBLE) - CAST(regexp_extract(wkt, '{pat}', 1) AS DOUBLE)) ^ 2
          + (CAST(regexp_extract(wkt, '{pat}', 4) AS DOUBLE) - CAST(regexp_extract(wkt, '{pat}', 2) AS DOUBLE)) ^ 2) AS parsed_len
FROM w
"""


# --------------------------------------------------------------------
# convex hull (Geo.h convexHull/area, 55-106 & 1219-1455)
# --------------------------------------------------------------------
#
# Relational hull, no ordering pass: a directed pair (i, j) is a hull
# edge iff every other point k of the trip is strictly left of i→j, or
# collinear strictly between them.  The directed hull edges form the
# CCW boundary cycle, so the shoelace sum needs no vertex ordering:
# area = |Σ (xi·yj − xj·yi)| / 2 over hull edges.  Coordinates are
# integral doubles (≤ 2^17), so every cross/shoelace term is an exact
# integer in float64 and both engines agree bit-for-bit.
# The triple join is O(n³) in the points it sees, so it runs on the
# Akl–Toussaint SURVIVORS only: one groupBy finds each trip's four
# lexicographic extreme points (W/E by (x,y,id), S/N by (y,x,id) —
# struct min/max, deterministic under ties) and every point strictly
# inside that quadrilateral is discarded before the cubic step.
# Output-identical by the affine-witness argument: cross(i→j, ·) is
# affine, so if a discarded point witnesses against a pair, some quad
# vertex (a survivor) does too, and a discarded point can never be a
# hull vertex.  Pruning: ~60% of a uniform-square cloud (measured,
# the prefilter's worst natural case — ~16x off the cubic term) and
# near-everything for elongated GPS-track clouds whose extreme quad
# covers the track; the prefilter itself is one linear scan + one
# small join.  For adversarial per-trip cardinalities beyond that,
# the O(n log n) monotone-chain kernel (functions/geo.py convex_hull,
# the py-reference this operator is tested against) is the
# applyInPandas escape hatch.  (The DuckDB oracle keeps the unfiltered
# cubic form: an independent algorithm agreeing bit-for-bit is a
# stronger check.)

_HX = "(xj-xi)*(yk-yi) - (yj-yi)*(xk-xi)"          # cross(i→j, i→k)
_HT = "(xk-xi)*(xj-xi) + (yk-yi)*(yj-yi)"          # projection numerator
_HL = "(xj-xi)*(xj-xi) + (yj-yi)*(yj-yi)"          # |i→j|²
_HBAD = f"({_HX} < 0 OR ({_HX} = 0 AND NOT ({_HT} > 0 AND {_HT} < {_HL})))"


def _hull_survivors(p: DataFrame) -> DataFrame:
    """Akl–Toussaint prefilter: drop points strictly inside the
    quadrilateral of the trip's four extreme points (leftmost,
    bottommost, rightmost, topmost; lexicographic tie-breaks make the
    quad deterministic).  W→S→E→N is counter-clockwise, so strictly
    inside = strictly left of all four directed quad edges; degenerate
    quads yield zero crosses and discard nothing (conservative)."""
    ext = p.groupBy("trip_id").agg(
        F.min(F.struct("x", "y", "id")).alias("w"),
        F.max(F.struct("x", "y", "id")).alias("e"),
        F.min(F.struct("y", "x", "id")).alias("s"),
        F.max(F.struct("y", "x", "id")).alias("n"),
    )

    def left(ax, ay, bx, by):
        # cross(A→B, A→q) > 0: q strictly left of A→B (exact: integral doubles)
        return (bx - ax) * (F.col("y") - ay) - (by - ay) * (F.col("x") - ax) > 0

    wx, wy = F.col("w.x"), F.col("w.y")
    sx, sy = F.col("s.x"), F.col("s.y")
    ex, ey = F.col("e.x"), F.col("e.y")
    nx, ny = F.col("n.x"), F.col("n.y")
    inside = (
        left(wx, wy, sx, sy) & left(sx, sy, ex, ey)
        & left(ex, ey, nx, ny) & left(nx, ny, wx, wy)
    )
    return p.join(ext, "trip_id").filter(~inside).select(p.columns)


def trip_hull(points: DataFrame) -> DataFrame:
    """Per-trip convex hull: vertex count, exact shoelace area, longest
    hull edge.  Output: (trip_id, n_hull, hull_area, longest_edge)."""
    p = _hull_survivors(
        points.select("trip_id", F.col("doc_id").alias("id"), "x", "y")
    )
    a = p.select("trip_id", F.col("id").alias("ia"), F.col("x").alias("xi"), F.col("y").alias("yi"))
    b = p.select("trip_id", F.col("id").alias("ib"), F.col("x").alias("xj"), F.col("y").alias("yj"))
    k = p.select("trip_id", F.col("id").alias("ik"), F.col("x").alias("xk"), F.col("y").alias("yk"))
    pairs = a.join(b, "trip_id").filter(F.col("ia") != F.col("ib"))
    viol = (
        pairs.join(k, "trip_id")
        .filter((F.col("ik") != F.col("ia")) & (F.col("ik") != F.col("ib")))
        .filter(F.expr(_HBAD))
        .select("trip_id", "ia", "ib")
        .distinct()
    )
    hull_edges = pairs.join(viol, ["trip_id", "ia", "ib"], "left_anti")
    return hull_edges.groupBy("trip_id").agg(
        F.count("*").cast("long").alias("n_hull"),
        (F.abs(F.sum(F.col("xi") * F.col("yj") - F.col("xj") * F.col("yi"))) / 2).alias("hull_area"),
        F.max(F.sqrt(F.expr(_HL))).alias("longest_edge"),
    )


def trip_hull_sql() -> str:
    bad = (
        _HBAD.replace("xj", "pr.xj").replace("xi", "pr.xi")
        .replace("yj", "pr.yj").replace("yi", "pr.yi")
        .replace("xk", "k.x").replace("yk", "k.y")
    )
    return f"""{sqlgen.with_ctes("points")},
p AS (SELECT trip_id, doc_id AS id, x, y FROM points),
pr AS (
  SELECT a.trip_id, a.id AS ia, a.x AS xi, a.y AS yi,
         b.id AS ib, b.x AS xj, b.y AS yj
  FROM p a JOIN p b ON a.trip_id = b.trip_id AND a.id <> b.id
),
he AS (
  SELECT pr.* FROM pr
  WHERE NOT EXISTS (
    SELECT 1 FROM p k
    WHERE k.trip_id = pr.trip_id AND k.id <> pr.ia AND k.id <> pr.ib
      AND {bad})
)
SELECT trip_id, COUNT(*) AS n_hull,
       ABS(SUM(xi*yj - xj*yi)) / 2 AS hull_area,
       MAX(SQRT((xj-xi)*(xj-xi) + (yj-yi)*(yj-yi))) AS longest_edge
FROM he GROUP BY trip_id
"""


# --------------------------------------------------------------------
# commonArea (Geo.h:55-106 box algebra): pairwise trip-extent overlap
# --------------------------------------------------------------------

def native_level(span: Column, n_levels: int) -> Column:
    """Hierarchical-grid level of a box with extent ``span``: the
    coarsest-enough level k with CELL * 2^k >= span, clamped to
    [0, n_levels - 1]. A degenerate box (span <= 0) is level 0
    explicitly, not through log2 of zero."""
    from .. import constants as C

    k = F.greatest(F.ceil(F.log2(span / F.lit(float(C.CELL)))).cast("int"), F.lit(0))
    return F.least(F.when(span > 0, k).otherwise(F.lit(0)), F.lit(n_levels - 1))


def box_overlaps(points: DataFrame) -> DataFrame:
    """Pairwise overlap area of the padded trip extents (``commonArea``
    over ``getBoundingBox``+``pad`` results).

    Scale shape: boxes explode to grid cells and pair through the cell
    equi-join (Grid::add / Grid::get semantics) — at continental scale
    only boxes sharing a cell are ever compared, never all-pairs. Each
    surviving pair computes the closed-form overlap, exact in both
    engines (min/max/multiply of integral-derived doubles).

    Unlike point/edge cell joins, box extents are ARBITRARY-sized, so a
    flat grid is wrong twice over: a wide box explodes to O(world/CELL)
    cells, and every shared cell re-emits the pair (the old shape
    shuffled ~200M duplicate rows through DISTINCT at sf0.1 once the
    main grid moved to 625 wide trip boxes — 53 s). This is the
    classic hierarchical-grid / quadtree-level spatial join instead:

    * each box indexes at its NATIVE level k = the coarsest-enough
      tier where the level's cell covers the box, so it spans <= 2
      cells per axis (<= 4 rows) there, plus its coarsened cells at
      every coarser level (for meeting bigger boxes);
    * a pair meets exactly once, at the coarser of the two native
      levels, smaller-level box on the probe side;
    * per-level duplicate cells collapse via the PBSM reference-point
      rule (Patel & DeWitt '96): the pair counts only in the cell
      holding the intersection's min corner — a map-side predicate in
      the join, so nothing ever reaches a DISTINCT shuffle.

    Work is O(levels) rows per box and O(1) emissions per overlapping
    pair: with uniform small boxes it equals the flat grid, and when
    boxes are world-sized it degrades to exactly the output pair count
    (all-pairs IS the answer then). Same 195k-row sf0.1 output in
    ~1.5 s vs 53 s.

    Output: (a_trip, b_trip, overlap_area)."""
    from .. import constants as C

    n_levels = 1
    while C.CELL * (1 << (n_levels - 1)) < C.COORD_MASK:
        n_levels += 1

    ext = trip_extent(points).select(
        "trip_id", "xmin_pad", "ymin_pad", "xmax_pad", "ymax_pad"
    )
    span = F.greatest(
        F.col("xmax_pad") - F.col("xmin_pad"),
        F.col("ymax_pad") - F.col("ymin_pad"),
    )
    native = native_level(span, n_levels)
    # memberships: native-level cells plus coarsened cells at every
    # coarser level (<= 2 cells per axis at any m >= k, <= 4L rows/box)
    size_m = F.lit(float(C.CELL)) * F.pow(F.lit(2.0), F.col("m").cast("double"))
    mem = (
        ext.withColumn("k", native)
        .withColumn("m", F.explode(F.sequence(F.col("k"), F.lit(n_levels - 1))))
        .withColumn(
            "_ix",
            F.explode(
                F.sequence(
                    F.floor(F.col("xmin_pad") / size_m), F.floor(F.col("xmax_pad") / size_m)
                )
            ),
        )
        .withColumn(
            "_iy",
            F.explode(
                F.sequence(
                    F.floor(F.col("ymin_pad") / size_m), F.floor(F.col("ymax_pad") / size_m)
                )
            ),
        )
        .withColumn("cell_id", F.col("_ix") * F.lit(C.CELL_STRIDE) + F.col("_iy"))
        .drop("_ix", "_iy")
    )
    a = mem.alias("a")                                   # all levels m >= k
    b = mem.filter(F.col("m") == F.col("k")).alias("b")  # native level only
    # a pair meets at m = max(ka, kb): the finer box's coarsened row
    # joins the coarser box's native row (equal levels order by trip)
    sm = F.lit(float(C.CELL)) * F.pow(F.lit(2.0), F.col("a.m").cast("double"))
    canon_cell = (
        F.floor(F.greatest(F.col("a.xmin_pad"), F.col("b.xmin_pad")) / sm)
        * F.lit(C.CELL_STRIDE)
        + F.floor(F.greatest(F.col("a.ymin_pad"), F.col("b.ymin_pad")) / sm)
    )
    pairs = a.join(
        b,
        (F.col("a.m") == F.col("b.m"))
        & (F.col("a.cell_id") == F.col("b.cell_id"))
        & (
            (F.col("a.k") < F.col("b.k"))
            | ((F.col("a.k") == F.col("b.k")) & (F.col("a.trip_id") < F.col("b.trip_id")))
        )
        & (F.col("a.cell_id") == canon_cell),
    ).select(
        F.least(F.col("a.trip_id"), F.col("b.trip_id")).alias("a_trip"),
        F.greatest(F.col("a.trip_id"), F.col("b.trip_id")).alias("b_trip"),
        (
            F.greatest(
                F.least(F.col("a.xmax_pad"), F.col("b.xmax_pad"))
                - F.greatest(F.col("a.xmin_pad"), F.col("b.xmin_pad")),
                F.lit(0.0),
            )
            * F.greatest(
                F.least(F.col("a.ymax_pad"), F.col("b.ymax_pad"))
                - F.greatest(F.col("a.ymin_pad"), F.col("b.ymin_pad")),
                F.lit(0.0),
            )
        ).alias("overlap_area"),
    )
    return pairs.filter(F.col("overlap_area") > 0)


def box_overlaps_sql() -> str:
    from .. import constants as C

    ext = f"""
ext AS (
  SELECT trip_id,
         MIN(x) - {EXTENT_PAD} AS xmin_pad, MIN(y) - {EXTENT_PAD} AS ymin_pad,
         MAX(x) + {EXTENT_PAD} AS xmax_pad, MAX(y) + {EXTENT_PAD} AS ymax_pad
  FROM points GROUP BY trip_id
),
bcells AS (
  SELECT e.*, (ix.i) * {C.CELL_STRIDE} + iy.i AS cell_id
  FROM ext e,
       LATERAL (SELECT UNNEST(RANGE(CAST(FLOOR(e.xmin_pad/{C.CELL}) AS BIGINT),
                                    CAST(FLOOR(e.xmax_pad/{C.CELL}) AS BIGINT) + 1)) AS i) ix,
       LATERAL (SELECT UNNEST(RANGE(CAST(FLOOR(e.ymin_pad/{C.CELL}) AS BIGINT),
                                    CAST(FLOOR(e.ymax_pad/{C.CELL}) AS BIGINT) + 1)) AS i) iy
)"""
    return f"""{sqlgen.with_ctes("points")},{ext}
SELECT DISTINCT a.trip_id AS a_trip, b.trip_id AS b_trip,
       GREATEST(LEAST(a.xmax_pad, b.xmax_pad) - GREATEST(a.xmin_pad, b.xmin_pad), 0.0)
     * GREATEST(LEAST(a.ymax_pad, b.ymax_pad) - GREATEST(a.ymin_pad, b.ymin_pad), 0.0)
       AS overlap_area
FROM bcells a JOIN bcells b
  ON a.cell_id = b.cell_id AND a.trip_id < b.trip_id
WHERE GREATEST(LEAST(a.xmax_pad, b.xmax_pad) - GREATEST(a.xmin_pad, b.xmin_pad), 0.0)
    * GREATEST(LEAST(a.ymax_pad, b.ymax_pad) - GREATEST(a.ymin_pad, b.ymin_pad), 0.0) > 0
"""
