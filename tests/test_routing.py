"""Routing engine: Dijkstra kernel, hop matrix, layered Viterbi.

Oracles:
* Dijkstra / hop costs — closed-form Manhattan distance on the uniform
  bidirectional grid (+ the two-component infinity rule).
* Viterbi — brute-force path enumeration over small trips with a
  Floyd-Warshall transition matrix (independent implementation).
"""

import itertools

import numpy as np
import pyspark.sql.functions as F
import pytest

from conftest import SF_DIR, assert_matches_oracle
from pfaedle_spark import constants as C
from pfaedle_spark import datagen
from pfaedle_spark.operators import candidates, graph_ops, routing


@pytest.fixture(scope="module")
def grid_fw():
    """Floyd-Warshall all-pairs costs with level punish, honoring oneway
    (independent of the engine's Dijkstra)."""
    import duckdb

    n = C.GRID_N * C.GRID_N
    con = duckdb.connect()
    from pfaedle_spark import sqlgen

    edges = con.execute(
        sqlgen.with_ctes("edges") + " SELECT src, dst, length, level, oneway FROM edges"
    ).fetchdf()
    con.close()
    lp = np.array(C.LEVEL_PUNISH)
    d = np.full((n, n), np.inf)
    np.fill_diagonal(d, 0.0)
    for _, e in edges.iterrows():
        c = e.length * lp[int(e.level)]
        d[int(e.src), int(e.dst)] = min(d[int(e.src), int(e.dst)], c)
        if not e.oneway:
            d[int(e.dst), int(e.src)] = min(d[int(e.dst), int(e.src)], c)
    for k in range(n):
        d = np.minimum(d, d[:, k : k + 1] + d[k : k + 1, :])
    return d


def test_dijkstra_kernel_vs_floyd_warshall(grid_fw, spark):
    edges_pdf = graph_ops.write_odir_edges(datagen.edges(spark)).select(
        "src", "dst", "length", "level"
    ).toPandas()
    csr = routing.node_csr(edges_pdf)
    rng = np.random.RandomState(7)
    for src in rng.choice(C.GRID_N * C.GRID_N, 5, replace=False):
        got, _ = routing.search(csr, [(int(src), 0.0)], None, None)
        for v in rng.choice(C.GRID_N * C.GRID_N, 20, replace=False):
            want = grid_fw[int(src), int(v)]
            g = got.get(int(v), np.inf)
            assert g == pytest.approx(want) or (np.isinf(g) and np.isinf(want))


def test_hop_shortest_paths_manhattan_oracle(spark):
    """Uniform-weight hop costs == Manhattan distance (same component)."""
    pts = datagen.points(spark, SF_DIR)
    eds = datagen.edges(spark)
    bidir = graph_ops.write_odir_edges(eds.withColumn("oneway", F.lit(False)))
    cand = candidates.candidate_edges(pts, eds)
    got = routing.hop_shortest_paths(cand, bidir).toPandas()
    g = C.GRID_N
    r1, c1 = got.cand_node // g, got.cand_node % g
    r2, c2 = got.to_node // g, got.to_node % g
    same = (c1 < C.RIVER_COL) == (c2 < C.RIVER_COL)
    manhattan = (abs(r1 - r2) + abs(c1 - c2)) * C.GRID_SPACING
    assert len(got) > 50
    ok = got.path_cost[same].to_numpy() == manhattan[same].to_numpy()
    assert ok.all(), f"{(~ok).sum()} hop costs differ from Manhattan"
    assert got.path_cost[~same].isna().all()


def test_viterbi_vs_bruteforce(grid_fw, spark):
    pts = datagen.points(spark, SF_DIR)
    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(pts, eds)
    directed = graph_ops.write_odir_edges(eds)
    got = routing.viterbi_align(cand, directed).toPandas()
    cand_pdf = cand.toPandas()

    # brute force every combo on a sample of trips (TOP_K^TRIP_LEN
    # combos per trip stays small; numpy arrays, not iloc, per layer)
    checked = 0
    for trip_id, tp in cand_pdf.groupby("trip_id"):
        if checked >= 8:
            break
        seqs = sorted(tp.seq.unique())
        if len(seqs) < 2:
            continue
        layers = [
            tp[tp.seq == s].sort_values("edge_id").reset_index(drop=True) for s in seqs
        ]
        nodes = [l["cand_node"].to_numpy(dtype=int) for l in layers]
        dists = [l["dist"].to_numpy() for l in layers]
        best_cost, best_path = np.inf, None
        for combo in itertools.product(*[range(len(l)) for l in layers]):
            cost = dists[0][combo[0]] * C.CAND_PEN_FAC
            for i in range(1, len(layers)):
                a = nodes[i - 1][combo[i - 1]]
                b = nodes[i][combo[i]]
                cost += grid_fw[a, b] + dists[i][combo[i]] * C.CAND_PEN_FAC
            if cost < best_cost - 1e-9:
                best_cost, best_path = cost, combo
        sub = got[got.trip_id == trip_id].sort_values("seq")
        assert len(sub) == len(seqs)
        final = sub.acc_cost.iloc[-1]
        if np.isinf(best_cost):
            assert np.isinf(final)
        else:
            assert final == pytest.approx(best_cost), f"trip {trip_id}"
        checked += 1
    assert checked >= 3, "need at least a few brute-forceable trips"


def test_viterbi_debug_chosen_equals_default(spark):
    """debug=True emits every candidate state (one row per cand row of
    the trip) and its chosen=true subset IS the default output."""
    pts = datagen.points(spark, SF_DIR).filter("trip_id = 'trip_3'")
    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(pts, eds)
    directed = graph_ops.write_odir_edges(eds)
    dbg = routing.viterbi_align(cand, directed, debug=True).toPandas()
    assert len(dbg) == cand.count()
    chosen = (
        dbg[dbg.chosen]
        .drop(columns=["chosen"])
        .sort_values(["trip_id", "seq"], ignore_index=True)
    )
    plain = routing.viterbi_align(cand, directed).toPandas().sort_values(
        ["trip_id", "seq"], ignore_index=True
    )
    assert chosen.equals(plain)


def test_viterbi_deterministic_across_partitioning(spark):
    pts = datagen.points(spark, SF_DIR)
    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(pts, eds)
    directed = graph_ops.write_odir_edges(eds)
    a = routing.viterbi_align(cand, directed).toPandas().sort_values(
        ["trip_id", "seq"], ignore_index=True
    )
    b = routing.viterbi_align(cand.repartition(17), directed).toPandas().sort_values(
        ["trip_id", "seq"], ignore_index=True
    )
    assert a.equals(b)


def test_astar_parity_and_pruning(spark):
    """R4: A* returns the same target distances as Dijkstra and settles
    (strictly) fewer nodes. Dijkstra = the same search over a CSR built
    without node coords (no heuristic table)."""
    edges_pdf = graph_ops.write_odir_edges(datagen.edges(spark)).select(
        "src", "dst", "length", "level", "x1", "y1", "x2", "y2"
    ).toPandas()
    csr = routing.node_csr(edges_pdf)
    plain = routing.node_csr(edges_pdf[["src", "dst", "length", "level"]])
    assert "xy" in csr and "xy" not in plain
    rng = np.random.RandomState(11)
    n = C.GRID_N * C.GRID_N
    fewer = 0
    for _ in range(10):
        src = int(rng.randint(0, n))
        targets = {int(t) for t in rng.choice(n, 4, replace=False)}
        same_comp = {t for t in targets if csr["comp"][t] == csr["comp"][src]}
        if not same_comp:
            continue
        harr = routing.heuristic(csr, frozenset(same_comp))
        da, _ = routing.search(csr, [(src, 0.0)], same_comp, harr)
        dd, _ = routing.search(plain, [(src, 0.0)], same_comp, None)
        for t in same_comp:
            assert da.get(t, np.inf) == pytest.approx(dd.get(t, np.inf))
        if len(da) < len(dd):
            fewer += 1
    assert fewer >= 3, "A* should usually settle fewer nodes than Dijkstra"


def test_heuristic_admissibility_gate_pure():
    """A* heuristic coords are attached only when every arc cost >=
    straight-line displacement; a config/data combination violating that
    must degrade to plain (exact) Dijkstra rather than return wrong
    shortest paths. Pure numpy — no Spark session."""
    import pandas as pd

    from pfaedle_spark.operators.routing import node_csr

    base = dict(level=[0, 0], oneway=[False, False])
    ok = pd.DataFrame(
        dict(
            src=[0, 1], dst=[1, 2], length=[100.0, 100.0],
            x1=[0.0, 100.0], y1=[0.0, 0.0], x2=[100.0, 200.0], y2=[0.0, 0.0],
            **base,
        )
    )
    csr = node_csr(ok, level_punish=False)
    assert "xy" in csr  # admissible: cost == displacement

    bad = ok.assign(length=[1.0, 100.0])  # arc cheaper than its span
    csr2 = node_csr(bad, level_punish=False)
    assert "xy" not in csr2  # heuristic dropped -> plain Dijkstra
