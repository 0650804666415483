"""Station snapping, window ops, and graph topology passes."""

import pyspark.sql.functions as F

from conftest import SF_DIR, assert_matches_oracle
from pfaedle_spark import constants as C
from pfaedle_spark import datagen, sqlgen
from pfaedle_spark.operators import graph_ops, snap, windows


def test_snap_stations_matches_oracle(spark):
    df = snap.snap_stations(datagen.stations(spark), datagen.station_nodes(spark))
    assert_matches_oracle(df, snap.snap_oracle_sql())


def test_snap_finds_true_node(spark):
    """Every station should snap to its own offset node (name matches,
    dist = hypot(37, 23) ~= 43.6 m, well under the radius)."""
    got = snap.snap_stations(datagen.stations(spark), datagen.station_nodes(spark)).toPandas()
    st = datagen.stations(spark).toPandas()
    assert len(got) == len(st)
    merged = got.merge(
        st.assign(stop_node=st.true_node_id), left_on="stop_id", right_on="stop_id"
    )
    assert (merged.node_id == merged.stop_node).all()


def test_trip_hops(spark):
    df = windows.trip_hops(datagen.points(spark, SF_DIR))
    assert_matches_oracle(df, windows.trip_hops_oracle_sql())


def test_cumulative_dist(spark):
    df = windows.cumulative_dist(datagen.points(spark, SF_DIR))
    assert_matches_oracle(df, windows.cumulative_dist_oracle_sql())


def test_interpolate_times(spark):
    df = windows.interpolate_times(datagen.points(spark, SF_DIR))
    assert_matches_oracle(df, windows.interpolate_times_oracle_sql())


def test_degrees(spark):
    df = graph_ops.degrees(datagen.edges(spark))
    sql = f"""{sqlgen.with_ctes("edges")},
ends AS (SELECT src AS node_id FROM edges UNION ALL SELECT dst FROM edges)
SELECT node_id, COUNT(*) AS degree FROM ends GROUP BY node_id"""
    assert_matches_oracle(df, sql)


def test_odir_edges(spark):
    e = datagen.edges(spark)
    d = graph_ops.write_odir_edges(e)
    n_fwd = e.count()
    n_ow = e.filter("oneway").count()
    assert d.count() == 2 * n_fwd - n_ow
    # reverse rows swap endpoints
    rev = d.filter("reversed")
    bad = rev.join(
        e.select(
            (F.col("edge_id") + (1 << 40)).alias("edge_id"),
            F.col("src").alias("osrc"),
            F.col("dst").alias("odst"),
        ),
        "edge_id",
    ).filter((F.col("src") != F.col("odst")) | (F.col("dst") != F.col("osrc")))
    assert bad.count() == 0


def test_connected_components_closed_form(spark):
    """The river split gives exactly two components with min-ids 0 and
    RIVER_COL — a closed-form oracle for the iterative algorithm."""
    nd, ed = datagen.nodes(spark), datagen.edges(spark)
    labels = graph_ops.connected_components(nd, ed)
    sql = f"""{sqlgen.with_ctes("nodes")}
SELECT node_id, CASE WHEN col >= {C.RIVER_COL} THEN {C.RIVER_COL} ELSE 0 END AS label
FROM nodes"""
    assert_matches_oracle(labels, sql)


def test_component_min_level(spark):
    nd, ed = datagen.nodes(spark), datagen.edges(spark)
    labels = graph_ops.connected_components(nd, ed)
    ml = graph_ops.component_min_level(ed, labels).toPandas().sort_values("comp")
    assert set(ml.comp) == {0, C.RIVER_COL}
    assert (ml.min_level == 0).all()  # grid has level-0 edges in both halves


def test_delete_orphan_nodes(spark):
    nd, ed = datagen.nodes(spark), datagen.edges(spark)
    # all grid nodes touch an edge -> nothing dropped
    assert graph_ops.delete_orphan_nodes(nd, ed).count() == nd.count()
    # cut all edges -> only stations survive
    empty = ed.filter("edge_id < 0")
    survivors = graph_ops.delete_orphan_nodes(nd, empty)
    assert survivors.count() == nd.filter("is_station").count()


# --------------------------------------------------------------------
# J7 — edge-splitting snap (escalating radii, append+tombstone rounds)
# --------------------------------------------------------------------

def test_snap_splits_matches_oracle(spark):
    import __spark_entry__ as entrymod
    from conftest import assert_matches_oracle

    assert_matches_oracle(
        entrymod.queries()["snap_splits"](spark, None),
        entrymod.oracle_sql()["snap_splits"],
    )


def test_snap_splits_projection_lands_on_edge(spark):
    """Projection nodes must lie ON the split edge segment and the two
    halves' lengths must sum to the original length."""
    from pfaedle_spark import datagen
    from pfaedle_spark.operators import snap as S

    got = S.snap_with_splits(
        datagen.stations(spark), datagen.edges(spark)
    ).toPandas()
    eds = datagen.edges(spark).toPandas().set_index("edge_id")
    splits = got[got["kind"] == "split"]
    assert len(splits) > 0
    for _, r in splits.iterrows():
        e = eds.loc[r["split_edge"]]
        # collinearity: (q - p1) x (p2 - p1) == 0 (axis-aligned grid)
        cross = (r["qx"] - e["x1"]) * (e["y2"] - e["y1"]) - (r["qy"] - e["y1"]) * (
            e["x2"] - e["x1"]
        )
        assert abs(cross) < 1e-6
        # within bbox
        assert min(e["x1"], e["x2"]) - 1e-9 <= r["qx"] <= max(e["x1"], e["x2"]) + 1e-9
        assert min(e["y1"], e["y2"]) - 1e-9 <= r["qy"] <= max(e["y1"], e["y2"]) + 1e-9


def test_snap_splits_endpoint_promotion_with_large_eps(spark):
    """With eps larger than the station offset the projection promotes
    to the existing endpoint instead of splitting (snap_station's <2 m
    branch, scaled)."""
    from pfaedle_spark import datagen
    from pfaedle_spark.operators import snap as S

    got = S.snap_with_splits(
        datagen.stations(spark), datagen.edges(spark), eps=50.0
    ).toPandas()
    kinds = set(got["kind"])
    assert "src" in kinds or "dst" in kinds
    # promoted stops snap to a real graph node (id < PROJ_NODE_OFF)
    promoted = got[got["kind"] != "split"]
    assert (promoted["node_id"] < S.PROJ_NODE_OFF).all()
    # and large-eps promotion never invents new edges for those stops
    import duckdb
    from conftest import SF_DIR
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    want = con.execute(S.snap_with_splits_sql(eps=50.0)).fetchdf()
    con.close()
    g = got.sort_values("stop_id", ignore_index=True)
    w = want.sort_values("stop_id", ignore_index=True)
    assert (g["node_id"].to_numpy() == w["node_id"].to_numpy()).all()
    assert (g["kind"].to_numpy() == w["kind"].to_numpy()).all()


def test_eq_reach_matches_oracle(spark):
    import __spark_entry__ as entrymod
    from conftest import assert_matches_oracle

    assert_matches_oracle(
        entrymod.queries()["eq_reach"](spark, None),
        entrymod.oracle_sql()["eq_reach"],
    )


def test_eq_reach_semantics(spark):
    """Every hit shares the uic attr with its seed, costs <= cap, and the
    probe never tunnels through another station node (2-hop minimum via
    a non-station intermediate on this grid)."""
    from pfaedle_spark import datagen
    from pfaedle_spark.operators import snap as snap_mod

    rows = snap_mod.eq_reach(
        datagen.stations(spark), datagen.station_nodes(spark), datagen.edges(spark)
    ).collect()
    assert rows, "probe found no equivalent stations"
    for r in rows:
        assert r.eq_node % snap_mod.EQ_ATTR_MOD == r.seed % snap_mod.EQ_ATTR_MOD
        assert 0.0 < r.cost <= snap_mod.EQ_CAP


def test_component_labels_match_union_find():
    """Vectorized hooking + pointer jumping gives the min-index labels
    of a sequential union-find, on random multigraphs with self-loops,
    isolated vertices and long chains."""
    import numpy as np

    rng = np.random.default_rng(7)
    for n, m in [(1, 0), (50, 0), (200, 150), (500, 900)]:
        u, v = rng.integers(0, n, m), rng.integers(0, n, m)
        chain = rng.permutation(n)  # one long path in random id order
        u, v = np.r_[u, chain[:-1][: n // 3]], np.r_[v, chain[1:][: n // 3]]
        parent = list(range(n))

        def find(i):
            while parent[i] != i:
                i = parent[i]
            return i

        for a, b in zip(u, v):
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        want = [find(i) for i in range(n)]
        assert graph_ops.component_labels(u, v, n).tolist() == want
