"""The composed §3.1 lifecycle — the reference's full ``pfaedle -x`` run
(``src/apps/pfaedle/app.cpp:286-398`` + ``osm_builder.cpp:116-238``)
re-expressed as one chained Spark plan:

    graph build (G1) -> fix_gaps (G2) -> snap + edge splitting (J7,
    split edges BECOME routing states) -> orphan prune (G4) ->
    collapse (G5) -> components (G7) -> candidate join (J5) ->
    full-model Viterbi (R7) -> shape assembly (R10/W2) -> GTFS sink (S5)

Two surfaces:

* :func:`composed_graph` — the road-graph prefix (through collapse);
  the ``lifecycle_graph`` driver query runs it against the
  round-unrolled DuckDB oracle in :func:`lifecycle_graph_sql`
  (fix-gaps remap + snap rounds + orphan/collapse rounds, every value
  bit-checkable).
* :func:`checkpointed_lifecycle` — the whole chain through the DP tail
  and the GTFS sink, checkpointed per stage (kill + re-run resumes
  from the last durable stage; see tests/test_checkpoint.py).

The checkpointed run is a stage DAG (``CheckpointedPipeline.run``):
each stage starts as soon as the stages it reads have finished::

    snaps -> graph_nodes, graph_edges -> components
    graph_edges -> candidates -> viterbi -> shapes -> gtfs_shapes -> gtfs_feed
    (documents, stations) -> gtfs_tables

``viterbi`` and ``shapes`` also read ``graph_nodes`` (the transitions
build) and ``shapes`` reads ``candidates``. ``gtfs_tables`` writes the
input feed's tables (stops, trips, stop_times and the pass-through
tables) concurrently from t=0, beside the graph and DP chain;
``gtfs_feed`` writes only ``shapes.txt``. ``components`` runs beside
the candidate join and the DP. Nothing reads ``components``: it is
written for its manifest entry and for consumers of the checkpoint.
The run's cost is mostly per-Spark-job latency, so overlapping
independent stages shortens it on the same cores.

Scale notes: the road graph fits the driver (the router collects it
anyway), so the prefix is one collect of nodes, edges and stations,
the passes as numpy kernels in sequence, and local Arrow relations
out — a handful of jobs, not one per round. Everything observation-
sized after it (candidate join, DP, sinks) stays distributed, and
each checkpointed stage reads the previous stage's parquet
partition-parallel.
"""

from __future__ import annotations

import functools
import threading

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import datagen, sqlgen
from ..operators import graph_ops, graph_passes, snap
from .checkpoint import CheckpointedPipeline, Stage, concurrently


_COMPOSED_MEMO: dict[str, tuple[DataFrame, DataFrame, DataFrame]] = {}
NODE_SCHEMA = "node_id long, x double, y double, is_station boolean"
EDGE_SCHEMA = (
    "edge_id long, src long, dst long, x1 double, y1 double, x2 double, y2 double,"
    " level int, oneway boolean, length double"
)


def composed_graph(spark: SparkSession) -> tuple[DataFrame, DataFrame, DataFrame]:
    """fix_gaps -> snap_with_splits -> orphan prune -> collapse, with
    node/edge bookkeeping: snapped nodes become station nodes, split
    projection nodes join the node table, final edges re-acquire
    endpoint coordinates. Returns (final_nodes, final_edges, snaps).

    Nodes, edges and stations are collected once, concurrently; the
    passes run as driver-side kernels, round for round what the oracle
    unrolls.
    Memoized per session: three consumers run the prefix in one
    session (``lifecycle_graph``, ``lifecycle_candidates``, the
    checkpointed run); the memo dies with the context (keyed on
    applicationId + startTime)."""
    from ..operators.routing import session_token

    tok = session_token(spark)
    hit = _COMPOSED_MEMO.get(tok)
    if hit is not None:
        return hit
    nd, e0, st = concurrently([
        functools.partial(graph_ops.collect_columns, df)
        for df in (
            datagen.nodes(spark).select("node_id", "x", "y", "is_station"),
            datagen.edges(spark).select(*snap.EDGE_COLS),
            datagen.stations(spark).select("stop_id", "x", "y"),
        )
    ])
    snaps, e2 = snap.snap_arrays(st, graph_passes.fix_gaps_arrays(nd, e0))
    # every snapped node is a station node from here on (the reference
    # attaches the stop to the node, osm_builder.cpp:1363-1506); split
    # projections are NEW nodes at (qx, qy)
    nd["is_station"] = nd["is_station"] | np.isin(nd["node_id"], snaps["node_id"])
    split = graph_passes.take(snaps, snaps["kind"] == "split")
    nodes = graph_passes.concat(nd, {
        "node_id": split["node_id"], "x": split["qx"], "y": split["qy"],
        "is_station": np.ones(len(split["node_id"]), dtype=bool),
    })
    st_ids = nodes["node_id"][nodes["is_station"]]
    ed = graph_passes.collapse_arrays(graph_passes.delete_orphan_arrays(e2, st_ids), st_ids)
    # endpoint coordinates from the final node table (every endpoint is
    # an original node or a split projection node)
    order = np.argsort(nodes["node_id"])
    for end, cx, cy in (("src", "x1", "y1"), ("dst", "x2", "y2")):
        at = order[np.searchsorted(nodes["node_id"], ed[end], sorter=order)]
        ed[cx], ed[cy] = nodes["x"][at], nodes["y"][at]
    _COMPOSED_MEMO[tok] = (
        graph_ops.columns_frame(spark, nodes, NODE_SCHEMA),
        graph_ops.columns_frame(spark, ed, EDGE_SCHEMA),
        graph_ops.columns_frame(spark, snaps, snap.SNAP_SCHEMA),
    )
    return _COMPOSED_MEMO[tok]


def lifecycle_graph_sql(final_select: bool = True) -> str:
    """Round-unrolled DuckDB oracle for the relational lifecycle prefix:
    fix-gaps remap, the three snap/split rounds, orphan + collapse
    rounds (station set = original stations + every snapped node), and
    the endpoint-coordinate re-join. With ``final_select=False`` the
    chain ends in an ``lcedges`` CTE so downstream composed oracles
    (the J5 candidate join in ``lifecycle_candidates``) can extend it."""
    g2 = graph_passes.GAP_DIST * graph_passes.GAP_DIST
    prefix = sqlgen.with_ctes("stations", "edges") + f""",
gdeg AS (
  SELECT node_id, COUNT(*) AS deg FROM (
    SELECT src AS node_id FROM edges UNION ALL SELECT dst FROM edges
  ) GROUP BY node_id
),
gd1 AS (
  SELECT n.node_id, n.x, n.y FROM nodes n JOIN gdeg USING (node_id)
  WHERE deg = 1 AND NOT is_station
),
gremap AS (
  -- engine side pairs via the padded-cell equi-join; the oracle pairs
  -- the (tiny by construction) degree-1 set directly — same pair set
  SELECT b.node_id AS from_id, MIN(a.node_id) AS to_id
  FROM gd1 a JOIN gd1 b
    ON a.node_id < b.node_id
   AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {g2}
  GROUP BY b.node_id
),
gedges AS MATERIALIZED (
  SELECT e.edge_id, COALESCE(rs.to_id, e.src) AS src,
         COALESCE(rd.to_id, e.dst) AS dst,
         e.x1, e.y1, e.x2, e.y2, e.level, e.oneway, e.length
  FROM edges e
  LEFT JOIN gremap rs ON rs.from_id = e.src
  LEFT JOIN gremap rd ON rd.from_id = e.dst
)"""
    prefix += snap.snap_splits_ctes(edge_src="gedges")
    n_rounds = len(snap.SPLIT_RADII)
    prefix += f""",
stnodes AS MATERIALIZED (
  SELECT node_id FROM nodes WHERE is_station
  UNION
  SELECT node_id FROM snaps_all
)"""
    body = graph_passes.collapse_edges_sql(
        prefix,
        src_table=f"edges{n_rounds}",
        station_src="stnodes",
        final_select=False,
    )
    final = f"""SELECT c.edge_id, c.src, c.dst, ns.x AS x1, ns.y AS y1,
       nd.x AS x2, nd.y AS y2, c.level, c.oneway, c.length
FROM c{graph_passes.COLLAPSE_MAX_ROUNDS} c
JOIN nodesf ns ON ns.node_id = c.src
JOIN nodesf nd ON nd.node_id = c.dst"""
    body += f""",
nodesf AS MATERIALIZED (
  SELECT node_id, x, y FROM nodes
  UNION ALL
  SELECT node_id, qx AS x, qy AS y FROM snaps_all WHERE kind = 'split'
)"""
    if final_select:
        return body + "\n" + final + "\n"
    return body + f""",
lcedges AS MATERIALIZED (
  {final}
)"""


def checkpointed_lifecycle(
    spark: SparkSession, sf_dir: str, root: str
) -> tuple[DataFrame, CheckpointedPipeline]:
    """The full lifecycle, checkpointed per stage and run as a stage DAG
    (module docstring). Returns the assembled GTFS-shaped shape rows +
    the pipeline handle (manifest carries per-stage lineage, wall time
    and per-partition row/byte counts)."""
    import os

    from ..operators import candidates, edge_routing
    from ..sources import gtfs

    graph: list[tuple[DataFrame, DataFrame, DataFrame]] = []
    graph_lock = threading.Lock()

    def _graph():
        # the three graph outputs share one composition, built only when
        # a stage actually recomputes (a fully-checkpointed resume never
        # re-collects the graph); graph_nodes and graph_edges may ask
        # for it at once
        with graph_lock:
            if not graph:
                graph.append(composed_graph(spark))
        return graph[0]

    # the transitions build (one Arrow collect each of edges, nodes and
    # restrictions + the driver-side kernel per variant) runs inside the
    # DP stages, so a fully-checkpointed resume never pays it; it is
    # session-memoized on the frames' semantic hashes, so viterbi and
    # shapes share one build, and shapes' directed edges come from the
    # same edge collect
    def _tbv(graph_edges, graph_nodes):
        return edge_routing.build_variant_transitions(spark, graph_edges, nodes=graph_nodes)

    # distributed CSV sink — the COMPLETE output feed (what `pfaedle -x`
    # emits: the input feed's tables plus the matched shapes,
    # app.cpp:286-398); executors write, the driver never collects. The
    # input feed's tables depend on the documents and stations only, so
    # they are their own effect stage beside the graph and DP chain
    feed_dir = os.path.join(root, "feed")

    def _write_tables() -> None:
        feed = gtfs.synthetic_feed(spark, sf_dir)
        concurrently([
            functools.partial(gtfs.write_table, df, feed_dir, name)
            for name, df in feed.items()
        ])

    cp = CheckpointedPipeline(spark, root)
    out = cp.run([
        Stage("snaps", lambda: _graph()[2], ("stations", "edges")),
        Stage("graph_nodes", lambda snaps: _graph()[0], ("snaps",)),
        Stage("graph_edges", lambda snaps: _graph()[1], ("snaps",)),
        Stage(
            "components",
            lambda graph_nodes, graph_edges: graph_ops.road_components(graph_nodes, graph_edges),
            ("graph_nodes", "graph_edges"),
        ),
        Stage(
            "candidates",
            lambda graph_edges: candidates.candidate_edges(
                datagen.points(spark, sf_dir), graph_edges
            ),
            ("graph_edges", "documents"),
        ),
        Stage(
            "viterbi",
            lambda candidates, graph_edges, graph_nodes: edge_routing.viterbi_full(
                candidates, _tbv(graph_edges, graph_nodes)
            ),
            ("candidates", "graph_edges", "graph_nodes"),
        ),
        Stage(
            "shapes",
            lambda viterbi, candidates, graph_edges, graph_nodes: edge_routing.shape_assembly(
                viterbi, candidates, _tbv(graph_edges, graph_nodes),
                edge_routing.directed_full_pdf(spark, graph_edges),
            ),
            ("viterbi", "candidates", "graph_edges", "graph_nodes"),
        ),
        # S5: GTFS shapes rows (synthetic_feed's lat/lon convention)
        Stage(
            "gtfs_shapes",
            lambda shapes: shapes.select(
                F.concat(F.lit("shp_"), F.substring("trip_id", 6, 10)).alias("shape_id"),
                (F.col("y") / 100000.0).alias("shape_pt_lat"),
                (F.col("x") / 100000.0).alias("shape_pt_lon"),
                F.col("pt_seq").cast("long").alias("shape_pt_sequence"),
                F.col("cum_dist").alias("shape_dist_traveled"),
            ),
            ("shapes",),
        ),
        # each sink is its own effect stage: a clean resume skips the
        # feed rewrite, a DP-only recompute rewrites shapes.txt only, and
        # a lost input table reruns gtfs_tables (one marker per table)
        Stage("gtfs_tables", _write_tables, ("documents", "stations"), effect=True,
              markers=tuple(os.path.join(feed_dir, f"{t}.txt") for t in gtfs.INPUT_TABLES)),
        Stage(
            "gtfs_feed",
            lambda gtfs_shapes: gtfs.write_table(gtfs_shapes, feed_dir, "shapes"),
            ("gtfs_shapes",),
            effect=True,
            markers=(os.path.join(feed_dir, "shapes.txt"),),
        ),
    ])
    return out["gtfs_shapes"], cp
