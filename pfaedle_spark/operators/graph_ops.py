"""G1-G9 / A4 — graph topology passes.

Reference: ``src/libs/pfaedle/src/trgraph/graph.cpp`` — node degrees,
orphan deletion (G3/G4), reverse-edge completion (G8
``writeODirEdgs`` :364-377), connected components (G7/A4
``write_components`` :159-201, DFS with min-edge-level tracking).

Road graphs fit the driver (the router collects them anyway), so
:func:`road_components` labels them with :func:`component_labels`
(hooking + pointer jumping over numpy arrays) after one collect.
:func:`connected_components` stays distributed — min-label propagation
with path doubling, one shuffle per round — for the corpus pair graph
(``dedup.neardup_clusters``), which is never collected.
:func:`collect_columns` / :func:`columns_frame` are the collect ->
kernel -> Arrow-frame plumbing of the driver-side graph kernels.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def collect_columns(df: DataFrame) -> dict[str, np.ndarray]:
    """One Arrow collect -> column name -> numpy array (strings and
    lists arrive as object arrays)."""
    tbl = df.toArrow()
    return {c: tbl.column(c).to_numpy() for c in tbl.column_names}


def lookup(keys: np.ndarray, q: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Position of each ``q`` in the sorted unique ``keys``, and whether
    it is there."""
    pos = np.searchsorted(keys, q)
    hit = pos < len(keys)
    hit[hit] = keys[pos[hit]] == q[hit]
    return pos, hit


def columns_frame(spark: SparkSession, cols: dict, schema: StructType | str) -> DataFrame:
    """Driver-side columns -> DataFrame with ``schema``. The rows enter
    the plan as an Arrow relation, not through a Python UDF."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    tbl = pa.table({c: cols[c] for c in schema.names})
    return spark.createDataFrame(tbl, schema=schema)


def degrees(edges: DataFrame) -> DataFrame:
    """Undirected node degree (parallel edges counted)."""
    ends = edges.select(F.col("src").alias("node_id")).unionAll(
        edges.select(F.col("dst").alias("node_id"))
    )
    return ends.groupBy("node_id").agg(F.count("*").cast("long").alias("degree"))


def delete_orphan_nodes(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """G3 (graph.cpp:86-104): drop degree-0 nodes unless they carry a
    station — anti-join against edge endpoints."""
    ends = (
        edges.select(F.col("src").alias("node_id"))
        .unionAll(edges.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    connected = nodes.join(ends, "node_id", "left_semi")
    stations = nodes.filter(F.col("is_station"))
    return connected.unionByName(stations).dropDuplicates(["node_id"])


def write_odir_edges(edges: DataFrame) -> DataFrame:
    """G8 (graph.cpp:364-377): add a reverse copy for every non-oneway
    edge; reverse rows flagged ``reversed=true`` and get edge_id offset
    by the max stride so ids stay unique and deterministic."""
    fwd = edges.withColumn("reversed", F.lit(False))
    rev = (
        edges.filter(~F.col("oneway"))
        .select(
            (F.col("edge_id") + F.lit(1 << 40)).alias("edge_id"),
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.col("x2").alias("x1"),
            F.col("y2").alias("y1"),
            F.col("x1").alias("x2"),
            F.col("y1").alias("y2"),
            "level",
            "oneway",
            "length",
        )
        .withColumn("reversed", F.lit(True))
    )
    return fwd.unionByName(rev)


def component_labels(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Min-index weak-component label of each of ``n`` vertices, given
    undirected edges (u[i], v[i]) over 0..n-1.

    Labels only ever point to a smaller index. Each round hooks the
    larger label root of every edge that still spans two labels onto
    the smaller one, then pointer-jumps every label to its root; at the
    fixpoint each component's root is its minimum index."""
    lab = np.arange(n, dtype=np.int64)
    u, v = np.asarray(u, dtype=np.int64), np.asarray(v, dtype=np.int64)
    while True:
        lu, lv = lab[u], lab[v]
        cross = lu != lv
        if not cross.any():
            return lab
        lu, lv = lu[cross], lv[cross]
        np.minimum.at(lab, np.maximum(lu, lv), np.minimum(lu, lv))
        while True:
            jumped = lab[lab]
            if np.array_equal(jumped, lab):
                break
            lab = jumped


def road_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """A4/G7 for a graph that fits the driver: (node_id, label) with the
    min node_id of each node's component, as :func:`connected_components`
    computes it (edges with an endpoint outside ``nodes`` are ignored).

    Nodes and edges are collected in ONE job, as tagged (a, b) rows —
    a node is the self-pair (id, id)."""
    rows = collect_columns(
        nodes.select(F.col("node_id").alias("a"), F.col("node_id").alias("b"),
                     F.lit(True).alias("is_node"))
        .unionByName(edges.select(F.col("src").alias("a"), F.col("dst").alias("b"),
                                  F.lit(False).alias("is_node")))
    )
    is_node = rows["is_node"].astype(bool)
    ids = np.unique(rows["a"][is_node])
    u, v = rows["a"][~is_node], rows["b"][~is_node]
    (ui, hu), (vi, hv) = lookup(ids, u), lookup(ids, v)
    lab = component_labels(ui[hu & hv], vi[hu & hv], len(ids))
    return columns_frame(
        nodes.sparkSession, {"node_id": ids, "label": ids[lab]}, "node_id long, label long"
    )


def connected_components(nodes: DataFrame, edges: DataFrame, max_rounds: int = 20) -> DataFrame:
    """A4/G7: label every node with min node_id of its component.

    Min-label propagation + path doubling; each round: one join against
    the (undirected) adjacency + one self-join for label-of-label.
    Converges in O(log diameter); the loop exits early on fixpoint
    (count of changed labels == 0 — an AQE-sized count, cheap at any
    scale because it aggregates to one long).
    """
    # materialize the adjacency ONCE: every round joins against it, and
    # without this the whole upstream edge derivation (for neardup
    # clusters, the banded pair join) re-executes per round — plus the
    # union+distinct is a shuffle that would otherwise repeat per round.
    adj = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionAll(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("node_id", F.col("node_id").alias("label"))
    for _ in range(max_rounds):
        nbr_min = (
            adj.join(labels, adj.b == labels.node_id)
            .select(F.col("a").alias("node_id"), "label")
            .groupBy("node_id")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, "node_id", "left")
            .select(
                "node_id",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
            )
        )
        # path doubling: label <- label of label
        l2 = stepped.select(F.col("node_id").alias("l_node"), F.col("label").alias("l_label"))
        doubled = (
            stepped.join(l2, stepped.label == l2.l_node, "left")
            .select(
                "node_id",
                F.least(F.col("label"), F.coalesce(F.col("l_label"), F.col("label"))).alias(
                    "new_label"
                ),
            )
        )
        # carry the changed flag THROUGH the materialization: the probe
        # then scans the checkpointed partitions directly instead of
        # re-joining against the previous labels (one join per round
        # saved; isEmpty still short-circuits on the first changed row)
        doubled = doubled.join(
            labels.select("node_id", F.col("label").alias("prev")), "node_id"
        ).select(
            "node_id", "new_label", (F.col("new_label") != F.col("prev")).alias("changed")
        )
        doubled = doubled.localCheckpoint(eager=True)
        unchanged = doubled.filter("changed").isEmpty()
        labels = doubled.select("node_id", F.col("new_label").alias("label"))
        if unchanged:
            break
    return labels


def component_min_level(edges: DataFrame, components: DataFrame) -> DataFrame:
    """graph.cpp:159-201 also tracks the minimum edge level per
    component (used by the router's level shortcut)."""
    e = edges.join(
        components.withColumnRenamed("node_id", "src").withColumnRenamed("label", "comp"),
        "src",
    )
    return e.groupBy("comp").agg(F.min("level").alias("min_level"))
