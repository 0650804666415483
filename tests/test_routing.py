"""Routing engine: Dijkstra kernel, hop matrix, layered Viterbi.

Oracles:
* Dijkstra / hop costs — closed-form Manhattan distance on the uniform
  bidirectional grid (+ the two-component infinity rule).
* Viterbi — brute-force path enumeration over small trips with a
  Floyd-Warshall transition matrix (independent implementation).
"""

import itertools
from collections import OrderedDict

import numpy as np
import pandas as pd
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


@pytest.fixture(scope="module")
def hop_paths(spark):
    """Both hop-path plans over the sf0.001 candidates on the uniform
    bidirectional grid: the broadcast table and the component cogroup."""
    eds = datagen.edges(spark)
    bidir = graph_ops.write_odir_edges(eds.withColumn("oneway", F.lit(False)))
    cand = candidates.candidate_edges(datagen.points(spark, SF_DIR), eds)
    comps = datagen.nodes(spark).select("node_id", F.col("component").alias("label"))
    runs = {
        "hop_shortest_paths": lambda: routing.hop_shortest_paths(cand, bidir),
        "hop_shortest_paths_cogrouped":
            lambda: routing.hop_shortest_paths_cogrouped(cand, bidir, comps),
    }
    return {
        name: run().toPandas().sort_values(["trip_id", "seq"], ignore_index=True)
        for name, run in runs.items()
    }


@pytest.mark.parametrize("plan", ["hop_shortest_paths", "hop_shortest_paths_cogrouped"])
def test_hop_shortest_paths_manhattan_oracle(hop_paths, plan):
    """Uniform-weight hop costs == Manhattan distance (same component),
    and both plans return the same rows, path costs as int64 bit
    patterns."""
    got = hop_paths[plan]
    g = C.GRID_N
    r1, c1 = got.cand_node // g, got.cand_node % g
    r2, c2 = got.to_node // g, got.to_node % g
    same = (c1 < C.RIVER_COL) == (c2 < C.RIVER_COL)
    manhattan = (abs(r1 - r2) + abs(c1 - c2)) * C.GRID_SPACING
    assert len(got) > 50
    ok = got.path_cost[same].to_numpy() == manhattan[same].to_numpy()
    assert ok.all(), f"{(~ok).sum()} hop costs differ from Manhattan"
    assert got.path_cost[~same].isna().all()
    other = hop_paths["hop_shortest_paths"]
    pd.testing.assert_frame_equal(got.drop(columns="path_cost"), other.drop(columns="path_cost"))
    bits = got.path_cost.fillna(np.inf).to_numpy(np.float64).view(np.int64)
    assert np.array_equal(bits, other.path_cost.fillna(np.inf).to_numpy(np.float64).view(np.int64))


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


def test_search_leaves_csr_unchanged(spark):
    """search and heuristic only read the CSR: a broadcast CSR is shared
    by every task of a worker, so neither may add a key (such as a
    per-CSR cache) to it."""
    edges_pdf = graph_ops.write_odir_edges(datagen.edges(spark)).select(
        "src", "dst", "length", "level", "x1", "y1", "x2", "y2"
    ).toPandas()
    csr = routing.node_csr(edges_pdf)
    keys = sorted(csr)
    targets = frozenset({5, 40, 900})
    harr = routing.heuristic(csr, targets)
    assert harr is not None
    routing.search(csr, [(0, 0.0), (33, 1.5)], targets, harr)
    routing.search(csr, [(7, 0.0)], targets, routing.heuristic(csr, targets), preds=True)
    assert sorted(csr) == keys


def test_heuristic_admissibility_gate_pure():
    """The A* heuristic is on only when every arc cost >= straight-line
    displacement; a config/data combination violating that must degrade
    to plain (exact) Dijkstra rather than return wrong shortest paths.
    The coordinates stay either way: the R5 band's span reads them.
    Pure numpy — no Spark session."""
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
    targets = frozenset({2})
    assert routing.heuristic(csr, targets) is not None  # admissible: cost == displacement

    bad = ok.assign(length=[1.0, 100.0])  # arc cheaper than its span
    csr2 = node_csr(bad, level_punish=False)
    assert routing.heuristic(csr2, targets) is None  # heuristic off -> plain Dijkstra
    np.testing.assert_array_equal(csr2["xy"], csr["xy"])


def _search_rows(csr):
    """All-pairs costs from one untargeted routing.search per source."""
    n = len(csr["states"])
    want = np.full((n, n), np.inf)
    for s in range(n):
        dist, _ = routing.search(csr, [(s, 0.0)], None, None)
        want[s, list(dist)] = list(dist.values())
    return want


def _random_graph_pdf():
    """Seeded node graph: non-dyadic float costs, a zero-length arc, a
    one-way arc, two weak components {0..19} and {21..39}, an isolated
    id 20 and a node (39) with in-arcs but no out-arcs."""
    import pandas as pd

    rng = np.random.RandomState(5)
    arcs = []
    for lo, hi in ((0, 20), (21, 40)):
        for _ in range(45):
            u, v = rng.randint(lo, hi, 2)
            if u != v and u != 39 and v != 39:
                c = float(rng.uniform(0.1, 10.0) * np.pi)
                arcs += [(u, v, c), (v, u, c * 1.1)]
    arcs += [(0, 1, 0.0), (1, 0, 0.0), (2, 17, 0.3), (38, 39, 1.7), (25, 39, 0.7)]
    pdf = pd.DataFrame(arcs, columns=["src", "dst", "length"]).assign(level=0)
    assert not ((pdf.src == 17) & (pdf.dst == 2)).any()  # 2 -> 17 is one-way
    return pdf


def test_hop_table_equals_search(spark):
    """routing.hop_table == per-source routing.search, bit for bit
    (int64 bit patterns), on the main grid with and without level
    punish and on a random graph with non-dyadic costs."""
    edges_pdf = graph_ops.write_odir_edges(datagen.edges(spark)).select(
        "src", "dst", "length", "level"
    ).toPandas()
    graphs = [
        routing.node_csr(edges_pdf, level_punish=True),
        routing.node_csr(edges_pdf, level_punish=False),
        routing.node_csr(_random_graph_pdf(), level_punish=False),
    ]
    rng = np.random.RandomState(3)
    for csr in graphs:
        got, want = routing.hop_table(csr), _search_rows(csr)
        assert got.dtype == np.float64
        assert np.array_equal(got.view(np.int64), want.view(np.int64))
        n = len(csr["states"])
        # row tables: the random graph's isolated node 20, a repeated
        # row, a random subset and no rows at all
        for rows in ([20, 5, 5, n - 1, 0], rng.choice(n, 7, replace=False), []):
            sub = routing.hop_table(csr, np.asarray(rows, dtype=np.int64))
            assert sub.shape == (len(rows), n)
            assert np.array_equal(sub.view(np.int64), got[rows].view(np.int64))
    rand = graphs[-1]
    assert len(np.unique(rand["comp"])) >= 3  # two components + isolated 20
    hop = routing.hop_table(rand)
    assert hop[0, 1] == 0.0 and np.isinf(hop[2, 25]) and np.isinf(hop[39, 38])
    assert np.isinf(hop[20]).sum() == len(hop) - 1


def _dp_frame():
    """Hand-built candidates over a two-component toy graph (nodes 0..5
    and 6..8): a 1-layer trip, an 8-layer trip with 1- and 3-candidate
    layers, a cross-component layer (every total inf) and a node (99)
    missing from the graph, and a 2-layer trip whose last layer ties on
    total (same node, same dist), broken by the smaller edge_id."""
    import pandas as pd

    rows = [("t1", 0, 11, 3, 4.0), ("t1", 0, 12, 1, 2.5), ("t1", 0, 13, 2, 2.5)]
    eight = [
        [(21, 0, 1.0), (22, 1, 0.5), (23, 2, 3.0)],
        [(24, 3, 1.0)],
        [(25, 4, 0.2), (26, 99, 0.1), (27, 5, 0.9)],
        [(28, 2, 1.0), (29, 0, 2.0), (30, 1, 1.5)],
        [(31, 6, 0.1), (32, 7, 0.2), (33, 8, 0.3)],  # cross-component
        [(34, 7, 1.0)],
        [(35, 8, 1.0), (36, 6, 0.5)],
        [(37, 0, 0.0), (38, 99, 0.0), (39, 7, 0.1)],
    ]
    rows += [("t8", 10 * li, eid, node, d) for li, lay in enumerate(eight) for eid, node, d in lay]
    rows += [("tie", 0, 40, 0, 1.0), ("tie", 1, 49, 1, 1.0), ("tie", 1, 44, 1, 1.0)]
    pdf = pd.DataFrame(rows, columns=["trip_id", "seq", "edge_id", "cand_node", "dist"])
    pdf.insert(2, "image_id", pdf.trip_id + "_" + pdf.seq.astype(str))
    return pdf


def _toy_hops():
    import pandas as pd

    arcs = [(0, 1, 1.5), (1, 2, 2.25), (2, 3, 0.75), (3, 4, 1.0), (4, 5, 3.0),
            (5, 0, 0.5), (1, 0, 1.5), (3, 1, 2.0), (6, 7, 1.0), (7, 8, 1.0), (8, 6, 1.0)]
    pdf = pd.DataFrame(arcs, columns=["src", "dst", "length"]).assign(level=0)
    return routing.hop_lookup(routing.node_csr(pdf, level_punish=False))


def _state_world():
    """Edge-state candidates over two route-attr variants of one toy
    transition graph (variant 1 costs three times variant 0): fa and fb
    hold the same 3 layers under different variants, fc has 1 layer,
    fd has 5 layers and a duplicate (seq, edge_id, emission) row. Arc
    costs >= the span, so the A* heuristic is on."""
    from pfaedle_spark.operators import edge_routing as ER

    rng = np.random.default_rng(5)
    ids = np.array([e + off for off in (0, ER.REV_OFF) for e in range(1, 7)])
    xy = rng.integers(0, 40, (len(ids), 2)).astype(float)
    f, t = np.array([(a, b) for a in range(len(ids)) for b in range(len(ids))
                     if a != b and rng.random() < 0.3]).T
    span = np.hypot(*(xy[t] - xy[f]).T)
    base = pd.DataFrame({
        "from_edge": ids[f], "to_edge": ids[t],
        "cost": np.ceil(span) + rng.integers(1, 60, len(f)).astype(float),
        "fx": xy[f, 0], "fy": xy[f, 1], "tx": xy[t, 0], "ty": xy[t, 1],
    })
    csrs = {v: ER.transition_csr(base.assign(cost=base["cost"] * (1 + 2 * v))) for v in (0, 1)}
    layers = {"fa": [[1, 4], [2, 3, 5], [6]], "fc": [[2, 3]],
              "fd": [[5], [1, 2], [3, 4, 6], [2], [1, 5]]}
    layers["fb"] = layers["fa"]
    variant = {"fa": 0, "fb": 1, "fc": 0, "fd": 1}
    rows = [(fp, variant[fp], 10 * li, e, int(e % 2), float(e * li % 7) / 2)
            for fp, lays in layers.items() for li, lay in enumerate(lays) for e in lay]
    rows.append(("fd", 1, 20, 4, 0, 0.5))  # a duplicate candidate row
    pdf = pd.DataFrame(rows, columns=["fingerprint", "variant", "seq", "edge_id",
                                      "cand_node", "emission"])
    return pdf, csrs


@pytest.mark.parametrize("kernel", ["viterbi", "viterbi_debug", "greedy2", "state_viterbi"])
def test_batched_dp_equals_per_trip_calls(kernel):
    """One multi-key kernel call == the concatenation of one-key calls
    (keys in sorted order), and shuffling the input rows changes
    nothing: the node-state kernels over trips, and the edge-state
    kernel over fingerprints of two route-attr variants with unequal
    layer counts. Pure numpy — no Spark session."""
    from pfaedle_spark.operators import edge_routing as ER

    if kernel == "state_viterbi":
        (pdf, csrs), key = _state_world(), "fingerprint"
        runs = [lambda p: ER.state_viterbi_batch(p, csrs),
                lambda p: ER.state_viterbi_batch(p, csrs, debug=True)]
    else:
        pdf, hops, key = _dp_frame(), _toy_hops(), "trip_id"
        runs = [{
            "viterbi": lambda p: routing.viterbi_batch(p, hops),
            "viterbi_debug": lambda p: routing.viterbi_batch(p, hops, debug=True),
            "greedy2": lambda p: routing.greedy2_batch(p, hops),
        }[kernel]]
    outs = []
    for run in runs:
        got = run(pdf)
        per_key = pd.concat(
            [run(g) for _, g in pdf.groupby(key, sort=True)], ignore_index=True
        )
        pd.testing.assert_frame_equal(got, per_key)
        for seed in range(3):
            shuffled = pdf.sample(frac=1, random_state=seed).reset_index(drop=True)
            pd.testing.assert_frame_equal(run(shuffled), got)
        outs.append(got)

    if kernel == "state_viterbi":
        plain, debug = outs
        assert plain.groupby("fingerprint").size().to_dict() == {"fa": 3, "fb": 3, "fc": 1, "fd": 5}
        assert len(debug) == 2 * (len(pdf) - 1)  # forward + reverse state per distinct row
        pd.testing.assert_frame_equal(
            debug[debug.chosen].drop(columns="chosen").reset_index(drop=True), plain
        )
        last = plain.groupby("fingerprint")["acc_cost"].last()
        assert np.isfinite(last["fa"]) and last["fb"] > last["fa"]  # the variant's own costs
        return
    got = outs[0]
    plain = got[got.chosen].drop(columns="chosen").reset_index(drop=True) \
        if kernel == "viterbi_debug" else got
    assert plain.groupby("trip_id").size().to_dict() == {"t1": 1, "t8": 8, "tie": 2}
    assert plain[plain.trip_id == "t1"].edge_id.tolist() == [12]  # emission tie -> min edge_id
    assert plain[plain.trip_id == "tie"].edge_id.tolist() == [40, 44]
    t8 = plain[plain.trip_id == "t8"]
    assert np.isfinite(t8.acc_cost.iloc[3]) and np.isinf(t8.acc_cost.iloc[4:]).all()
    if kernel == "viterbi_debug":
        assert len(got) == len(pdf)
        pd.testing.assert_frame_equal(plain, routing.viterbi_batch(pdf, hops))


def test_hop_table_guard_raises_before_broadcast(spark, monkeypatch):
    """A graph whose hop table exceeds _HOP_TABLE_MAX_BYTES raises on the
    driver: the edge collect (needed to learn |V|) is the only job, and
    nothing is broadcast or memoized."""
    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(datagen.points(spark, SF_DIR), eds)
    monkeypatch.setattr(routing, "_SESSION_MEMO", OrderedDict())
    monkeypatch.setattr(routing, "_HOP_TABLE_MAX_BYTES", 1024 * 1024 * 8 - 1)
    sc, group = spark.sparkContext, "hop-table-guard"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="1,024 nodes"):
            routing.viterbi_align(cand, graph_ops.write_odir_edges(eds))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
    assert not routing._SESSION_MEMO


def test_hop_table_built_once_per_plan(spark, monkeypatch):
    """viterbi_align, viterbi_align(debug=True) and greedy2_align over
    the same edge plan and level_punish share one hop table: one edge
    collect job, one memo entry."""
    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(datagen.points(spark, SF_DIR), eds)
    monkeypatch.setattr(routing, "_SESSION_MEMO", OrderedDict())
    sc, group = spark.sparkContext, "hop-table-once"
    sc.setJobGroup(group, group)
    try:
        routing.viterbi_align(cand, graph_ops.write_odir_edges(eds))
        routing.viterbi_align(cand, graph_ops.write_odir_edges(eds), debug=True)
        routing.greedy2_align(cand, graph_ops.write_odir_edges(eds))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1
    assert [k[1] for k in routing._SESSION_MEMO] == ["hop_table"]


def test_checkpoint_memo_hits_and_stays_bounded(spark, monkeypatch):
    """Eager-checkpointed shares in the one session memo: a hit returns
    the same frame without building again, and the memo never holds
    more than its bound (the least recently used entry is dropped and
    is built again on its next use)."""
    monkeypatch.setattr(routing, "_SESSION_MEMO", OrderedDict())
    builds = []

    def share(i):
        def build():
            builds.append(i)
            return spark.range(3).withColumn("i", F.lit(i))

        return routing.checkpoint_memo(spark, ("memo-test", i), build)

    first = share(0)
    assert share(0) is first
    assert builds == [0]
    assert sorted(r.id for r in first.collect()) == [0, 1, 2]
    bound = routing._SESSION_MEMO_MAX
    for i in range(1, bound + 3):
        share(i)
        assert len(routing._SESSION_MEMO) <= bound
    assert builds == list(range(bound + 3))
    share(0)
    assert builds[-1] == 0


def _key_runs(batches):
    frames = [pd.DataFrame({"k": b, "v": np.arange(len(b))}) for b in batches]
    return frames, list(routing.key_runs(iter(frames), "k"))


@pytest.mark.parametrize("batches", [
    [["a", "a", "a"], ["a", "a", "a"], ["a", "b", "b"]],  # a spans three batches
    [["a", "b", "c"], ["c", "c", "c"], ["c", "d", "e"]],  # a batch of one key
    [["a", "a", "b", "b"], ["c", "c", "d"]],              # b ends at the boundary
    [["a", "b"], [], ["b", "c"], ["d"]],                  # an empty batch too
])
def test_key_runs_hand_out_complete_keys(batches):
    """The grouped runner's carry: every frame out holds complete keys
    only, at most one batch plus one key of rows, and the frames out
    are the frames in, in order."""
    frames, runs = _key_runs(batches)
    key_rows = pd.concat(frames)["k"].value_counts()
    bound = max(len(b) for b in batches) + key_rows.max()
    seen = set()
    for run in runs:
        assert len(run) <= bound
        keys = set(run["k"])
        assert not keys & seen  # no key split over two calls
        seen |= keys
        assert all(key_rows[k] == (run["k"] == k).sum() for k in keys)
    assert seen == set(key_rows.index)
    pd.testing.assert_frame_equal(pd.concat(runs, ignore_index=True),
                                  pd.concat(frames, ignore_index=True))


@pytest.mark.parametrize("batches", [
    [["a", "b"], ["a"]],       # a comes back in a later batch
    [["a", "b", "a"]],         # ... or later in the same batch
    [["b", "b"], ["a", "c"]],  # keys out of order
])
def test_key_runs_reject_a_key_that_comes_back(batches):
    """A key whose run has ended must not reappear: the runner's sort is
    what makes each run complete, so a broken order fails loudly."""
    with pytest.raises(ValueError, match="not contiguous"):
        _key_runs(batches)


def test_grouped_runner_streams_small_batches(spark):
    """At 3-record Arrow batches, viterbi_align, segmentize and the
    edge-state DP (viterbi_full and trip_debug, which read runs of
    fingerprints) return the rows they return at the default batch
    size, and the kernel sees frames smaller than a bucket: PySpark
    resolved the runner's ``Iterator[pd.DataFrame]`` hints to the
    iterator eval type instead of silently falling back to one frame
    per bucket."""
    import __spark_entry__ as entrymod

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(datagen.points(spark, SF_DIR), eds)
    queries = [entrymod.queries()[q] for q in ("segmentize", "viterbi_full", "trip_debug")]

    def rows():
        aligned = routing.viterbi_align(cand, graph_ops.write_odir_edges(eds))
        calls = routing.bucketed_apply(
            cand.select("trip_id"), "trip_id",
            lambda pdf: pd.DataFrame({"rows": [len(pdf)], "trips": [pdf["trip_id"].nunique()]}),
            "rows long, trips long",
        )
        return ([sorted(aligned.collect())] + [sorted(q(spark, SF_DIR).collect()) for q in queries],
                calls.toPandas())

    want, whole = rows()
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        got, small = rows()
    finally:
        spark.conf.set(key, old)
    assert all(len(w) > 0 for w in want)
    assert got == want
    n = routing.dp_partitions(spark)
    per_bucket = (
        cand.groupBy(F.pmod(F.hash("trip_id"), F.lit(n))).count().toPandas()["count"]
    )
    per_trip = cand.groupBy("trip_id").count().toPandas()["count"]
    assert small["rows"].sum() == whole["rows"].sum() == per_trip.sum()
    assert small["trips"].sum() == len(per_trip)  # each trip in one call
    assert small["rows"].max() < per_bucket.max()
    assert small["rows"].max() <= 3 + per_trip.max()


def test_session_memo_threads_stay_bounded_and_consistent():
    """Concurrent lifecycle stages share the one session memo: under
    many threads and a tiny switch interval, every call returns its own
    key's value, nothing raises, and the memo never exceeds its bound."""
    import sys
    import threading
    from types import SimpleNamespace

    fake = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="stress", startTime=0))
    bound = routing._SESSION_MEMO_MAX
    errors = []

    def worker(w):
        try:
            for i in range(400):
                k = (w * 7 + i) % (2 * bound)
                assert routing.session_memo(fake, ("stress", k), lambda: ("v", k)) == ("v", k)
                assert len(routing._SESSION_MEMO) <= bound
        except Exception as exc:  # a thread cannot fail the test itself
            errors.append(exc)

    old_switch, old_memo = sys.getswitchinterval(), routing._SESSION_MEMO
    routing._SESSION_MEMO = OrderedDict()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(w,)) for w in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old_switch)
        routing._SESSION_MEMO = old_memo
    assert errors == []
