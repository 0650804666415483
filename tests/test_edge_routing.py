"""R2/R3/J4 gates: edge-based Dijkstra, full cost vector, restriction
enforcement. Brute-force python references plus the driver oracles."""

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from conftest import SF_DIR, assert_matches_oracle
from pfaedle_spark import datagen
from pfaedle_spark.operators import edge_routing as ER
from pfaedle_spark.operators import graph_ops, gtfs_ops, routing


def brute_force_cost(trans: pd.DataFrame, src: int, dst: int, max_hops: int = 8):
    """All simple paths up to max_hops transitions (toy graphs only)."""
    adj = {}
    for f, t, c in zip(trans["from_edge"], trans["to_edge"], trans["cost"]):
        adj.setdefault(int(f), []).append((int(t), float(c)))
    best = None
    stack = [(src, 0.0, {src})]
    while stack:
        u, acc, seen = stack.pop()
        if u == dst and (best is None or acc < best):
            best = acc
        if len(seen) > max_hops:
            continue
        for v, c in adj.get(u, []):
            if v not in seen:
                stack.append((v, acc + c, seen | {v}))
    return best


def test_edge_dijkstra_matches_brute_force_on_toy_graph():
    rng = np.random.default_rng(7)
    edges = list(range(12))
    rows = []
    for f, t in itertools.permutations(edges, 2):
        if rng.random() < 0.25:
            rows.append((f, t, float(rng.integers(1, 100))))
    trans = pd.DataFrame(rows, columns=["from_edge", "to_edge", "cost"])
    csr = ER.transition_csr(trans)
    for src in [0, 3, 7]:
        si = int(routing.index_of(csr, [src])[0])
        dist, _ = routing.search(csr, [(si, 0.0)], None, None)
        d = {int(csr["states"][i]): v for i, v in dist.items()}
        for dst in edges:
            want = 0.0 if dst == src else brute_force_cost(trans, src, dst, max_hops=12)
            got = d.get(dst)
            if want is None:
                assert got is None
            else:
                assert got == pytest.approx(want, abs=1e-12), (src, dst)


@pytest.mark.parametrize("astar", [False, True])
@pytest.mark.parametrize("seed", range(4))
def test_search_matches_bellman_ford_fixpoint(seed, astar):
    """routing.search vs a Bellman-Ford fixpoint on random small graphs
    whose integer costs force ties: multi-seed values, origin = min
    (total, seed ordinal) with dead seeds keeping their ordinals, and
    the preds=True predecessor = the min-achieving-pred rule the
    gridviterbi path oracle relies on (-1 where the state's own seed
    cost is optimal). Pure numpy."""
    rng = np.random.default_rng(seed)
    n, m = 30, 100
    xy = rng.integers(0, 6, (n, 2)).astype(float)
    f, t = rng.integers(0, n, m), rng.integers(0, n, m)
    # cost >= 1 and >= the straight-line span, so the heuristic is admissible
    cost = np.ceil(np.hypot(*(xy[t] - xy[f]).T)) + rng.integers(1, 3, m)
    ends = [xy[f, 0], xy[f, 1], xy[t, 0], xy[t, 1]] if astar else None
    csr = routing.build_csr(7 * f + 3, 7 * t + 3, cost, ends)  # sparse state ids
    ids = np.unique(np.concatenate([f, t]))
    assert list(csr["states"]) == list(7 * ids + 3)
    assert ("xy" in csr) == astar
    fi, ti = np.searchsorted(ids, f), np.searchsorted(ids, t)
    nn = len(ids)
    seeds = (
        [(-1, 0.0)]
        + [(int(i), float(rng.integers(0, 4))) for i in rng.choice(nn, 3, replace=False)]
        + [(0, np.inf)]
    )
    targets = frozenset(rng.choice(nn, 5, replace=False).tolist())

    best = [(np.inf, -1)] * nn  # lexicographic (total, ordinal) fixpoint
    for o, (i, c) in enumerate(seeds):
        if i >= 0 and np.isfinite(c):
            best[i] = min(best[i], (c, o))
    changed = True
    while changed:
        changed = False
        for a, b, c in zip(fi, ti, cost):
            if (best[a][0] + c, best[a][1]) < best[b]:
                best[b] = (best[a][0] + c, best[a][1])
                changed = True

    harr = routing.heuristic(csr, targets)
    dist, origin = routing.search(csr, seeds, targets, harr)
    assert {x for x in targets if np.isfinite(best[x][0])} == targets & dist.keys()
    for u, g in dist.items():
        assert (g, origin[u]) == best[u], u

    dist_p, pred = routing.search(csr, seeds, targets, harr, preds=True)
    assert dist_p == dist
    for u, g in dist_p.items():
        if any(i == u and c == g for i, c in seeds):
            assert pred[u] == -1, u
        else:
            ach = [a for a, b, c in zip(fi, ti, cost) if b == u and best[a][0] + c == g]
            assert pred[u] == min(ach), u


def _sub_setup(spark, opts):
    edges = ER._sub_edges(spark)
    restr = gtfs_ops.read_restrictions(gtfs_ops.restriction_members(spark, edges))
    trans = ER.turn_transitions(edges, restr, datagen.nodes(spark), opts=opts)
    return edges, restr, trans.toPandas()


def test_negative_restriction_forces_detour(spark):
    """Via node 33 carries no_left_turn (from way 66 to way 67). With a
    prohibitive violation punish the optimum must route AROUND the
    restricted turn instead of paying it — cost stays far below the
    punish, but above the unrestricted optimum."""
    hard = {**ER.OPTS, "oneway_punish_fac": 1e6}
    _, _, tp_hard = _sub_setup(spark, hard)
    _, _, tp_soft = _sub_setup(spark, ER.OPTS)

    # drop the restriction rows entirely for the unrestricted baseline
    edges = ER._sub_edges(spark)
    no_restr = gtfs_ops.read_restrictions(
        gtfs_ops.restriction_members(spark, edges)
    ).filter(F.lit(False))
    tp_free = ER.turn_transitions(
        edges, no_restr, datagen.nodes(spark), opts=ER.OPTS
    ).toPandas()

    src_state = 66 + ER.REV_OFF  # traveling way 66 backwards: 34 -> 33
    tgt_state = 67               # departing 33 -> 65 on way 67 (forbidden turn)
    seeds = [(src_state, 0.0)]
    d_hard, _ = ER.state_search(ER.transition_csr(tp_hard), seeds, [tgt_state])
    d_free, _ = ER.state_search(ER.transition_csr(tp_free), seeds, [tgt_state])
    got, free = d_hard[tgt_state], d_free[tgt_state]
    assert got < 1e6, "route paid the prohibitive restriction punish"
    assert got > free, "restriction did not change the optimum"
    # soft mode (reference default): violation = oneway-meter punish
    d_soft, _ = ER.state_search(ER.transition_csr(tp_soft), seeds, [tgt_state])
    assert free < d_soft[tgt_state] <= got


def test_positive_restriction_only_straight_on(spark):
    """Via node 66 carries only_straight_on (from way 132 must continue
    on way 133): any OTHER turn out of 66 after arriving on way 132 is a
    violation row in the transition table."""
    _, _, tp = _sub_setup(spark, {**ER.OPTS, "oneway_punish_fac": 1e6})
    arriving = tp[tp["from_edge"] % ER.REV_OFF == 132]
    arriving = arriving[arriving["via_node"] == 66]
    mandated = arriving[arriving["to_edge"] % ER.REV_OFF == 133]
    others = arriving[arriving["to_edge"] % ER.REV_OFF != 133]
    assert len(mandated) > 0 and len(others) > 0
    assert (mandated["cost"] < 1e6).all()
    assert (others["cost"] > 1e6).all()


def test_full_turn_and_level_terms(spark):
    """Spot-check the R3 terms on hand-computable transitions."""
    edges = ER._sub_edges(spark)
    restr = gtfs_ops.read_restrictions(
        gtfs_ops.restriction_members(spark, edges)
    ).filter(F.lit(False))
    tp = ER.turn_transitions(edges, restr, datagen.nodes(spark)).toPandas()
    lv = ER.OPTS["level_punish"]

    def one(f, t):
        r = tp[(tp["from_edge"] == f) & (tp["to_edge"] == t)]
        assert len(r) == 1, (f, t)
        return float(r["cost"].iloc[0])

    # edge 4 = h(2->3), level 2 % 8 = 2; via node 3 (deg 3, not station,
    # line level<3 present unmatched). U-turn 4 -> rev(4):
    # traverse 2048*lv[2] + line 2048*cmp + full turn 3000 + no station.
    # node 2: col 2 row 0 -> (2+0)%9 != 0, via node 3 not station.
    cmp_unmatched = 1.0 - 0.333333333  # to/from simi match 'st 3'/'st 5'? compute below
    # compute expected cmp from the line attached to edge 4: line 'l20',
    # from 'st 2', to 'st 3'; rattrs short 'l10' (no), to 'st 5' (no),
    # from 'st 3' (statSimi('st 2','st 3') = 0; lengths equal -> rel
    # edit dist 1/4 >= 0.05) -> cur = 1.0, cmp = 1.0
    direct = one(4, 4 + ER.REV_OFF)
    expected = 2048.0 * lv[2] + 2048.0 * 1.0 * 1.0 + 3000.0
    assert direct == pytest.approx(expected, abs=1e-9)

    # straight-through at a deg-4 interior node is NOT a full turn:
    # h(1->2) edge 2 -> h(2->3) edge 4, via node 2 (deg 4): angle 180.
    # edge 2 level 1, line 'l10' from 'st 1' to 'st 2': short matches
    # (1/3 off), to 'st 5' vs line to 'st 2': no; from 'st 3' vs line
    # from 'st 1': no -> cur = 1 - 1/3, cmp = 0.666666667
    straight = one(2, 4)
    exp2 = 2048.0 * lv[1] + 2048.0 * (1.0 - 0.333333333)
    assert straight == pytest.approx(exp2, abs=1e-6)

    # 90-degree turn at deg-4 node 2 IS a full turn at the cfg's 100-deg
    # threshold: h(1->2) -> v(2->34) edge 5
    turn = one(2, 5)
    assert turn == pytest.approx(exp2 + 3000.0, abs=1e-6)


def test_pass_thru_station_term(spark):
    """Transitions over a station via node carry the pass-thru punish."""
    edges = ER._sub_edges(spark)
    restr = gtfs_ops.read_restrictions(
        gtfs_ops.restriction_members(spark, edges)
    ).filter(F.lit(False))
    tp = ER.turn_transitions(edges, restr, datagen.nodes(spark)).toPandas()
    nd = datagen.nodes(spark).filter("is_station").select("node_id").toPandas()
    station_vias = set(nd["node_id"]) & set(tp["via_node"])
    assert station_vias, "no station via nodes in sub-grid"
    # same from-edge, station via vs non-station via of same geometry is
    # hard to pair exactly; instead verify the term via the oracle match
    # (driver) and check stations are never free relative to the
    # station-less recomputation:
    tp_nostation = ER.turn_transitions(
        edges, restr, datagen.nodes(spark).withColumn("is_station", F.lit(False))
    ).toPandas()
    m = tp.merge(tp_nostation, on=["from_edge", "to_edge"], suffixes=("", "_ns"))
    on_station = m[m["via_node"].isin(station_vias)]
    off_station = m[~m["via_node"].isin(station_vias)]
    assert (
        on_station["cost"] - on_station["cost_ns"]
        == ER.OPTS["pass_thru_station_punish"]
    ).all()
    assert (off_station["cost"] == off_station["cost_ns"]).all()


def test_turn_transitions_matches_oracle(spark):
    assert_matches_oracle(
        entrymod.queries()["turn_transitions"](spark, None),
        entrymod.oracle_sql()["turn_transitions"],
    )


def _toy_graph():
    """Hand-built graph that reaches every branch of the transition
    kernel. Node 14 is missing from the node table (not a station);
    node 5 is a station. The restriction rule (via = src % 11 == 0,
    from/to = min/max edge id out of it, positive iff src % 22 == 0)
    yields no_left_turn at 11 (6 -> 8) and only_straight_on at 22
    (10 -> 13)."""
    xy = {
        3: (0.0, 0.0), 5: (100.0, 0.0), 11: (100.0, 100.0), 22: (200.0, 0.0),
        7: (200.0, 100.0), 9: (300.0, 0.0), 14: (100.0, -100.0),
    }
    rows = [  # edge_id, src, dst, level, oneway
        (1, 3, 5, 1, False),    # line l10 'st 3' -> 'st 5': cmp clamps to 0 in variant 1
        (2, 5, 11, 0, False),
        (4, 5, 22, 2, True),    # oneway
        (6, 11, 7, 3, False),   # level 3: no lines
        (8, 11, 14, 9, False),  # level outside the punish table
        (10, 22, 9, 1, False),
        (12, 22, 7, 0, False),  # 12 / 13: parallel pair
        (13, 22, 7, 0, False),
        (15, 9, 9, 2, False),   # self-loop
        (17, 7, 5, 1, False),
    ]
    eid, src, dst, level, oneway = (np.array(c) for c in zip(*rows))
    x1, y1 = (np.array([xy[s][i] for s in src]) for i in (0, 1))
    x2, y2 = (np.array([xy[d][i] for d in dst]) for i in (0, 1))
    length = np.where(src == dst, 50.0, np.hypot(x2 - x1, y2 - y1))
    edges = pd.DataFrame({
        "edge_id": eid.astype(np.int64), "src": src.astype(np.int64),
        "dst": dst.astype(np.int64), "x1": x1, "y1": y1, "x2": x2, "y2": y2,
        "level": level.astype(np.int32), "oneway": oneway.astype(bool), "length": length,
    })
    ids = np.array(sorted(set(xy) - {14}), dtype=np.int64)
    nodes = pd.DataFrame({"node_id": ids, "is_station": ids == 5})
    return edges, nodes


@pytest.mark.parametrize("variant", range(ER.N_RATTR_VARIANTS))
def test_transition_arrays_match_oracle_ctes(spark, variant):
    """The numpy kernel vs the DuckDB CTE chain on the toy graph, every
    rattr variant: same rows, costs equal as bit patterns."""
    import duckdb

    edges, nodes = _toy_graph()
    restr = graph_ops.collect_columns(
        gtfs_ops.read_restrictions(
            gtfs_ops.restriction_members(spark, spark.createDataFrame(edges))
        ).select(*ER.RESTR_COLS)
    )
    assert sorted(zip(restr["via_node"].tolist(), restr["positive"].tolist())) == [
        (11, False), (22, True)
    ]
    rattrs = ER.rattrs_for_variant(variant)
    got = pd.DataFrame(ER.transition_arrays(
        {c: edges[c].to_numpy() for c in edges},
        {c: nodes[c].to_numpy() for c in nodes},
        restr, rattrs,
    ))
    con = duckdb.connect()
    con.register("toy_edges", edges)
    con.register("toy_nodes", nodes)
    want = con.execute(
        ER.transitions_ctes(
            rattrs=rattrs,
            head="WITH nodes AS (SELECT * FROM toy_nodes), edges AS (SELECT * FROM toy_edges)",
        )
        + "SELECT from_edge, to_edge, via_node, cost FROM trans"
    ).fetchdf()
    con.close()
    key = ["from_edge", "to_edge"]
    got = got.sort_values(key, ignore_index=True)
    want = want.sort_values(key, ignore_index=True)
    assert len(got) == len(want) > 0
    for c in ("from_edge", "to_edge", "via_node"):
        assert got[c].astype(np.int64).tolist() == want[c].astype(np.int64).tolist(), c
    assert np.array_equal(
        got["cost"].to_numpy(np.float64).view(np.int64),
        want["cost"].to_numpy(np.float64).view(np.int64),
    )
    # the branches the toy graph is built for are all present
    loop = (got["from_edge"] == 15) & (got["to_edge"] == 15)
    assert loop.sum() == 1
    assert ((got["from_edge"] == 12) & (got["to_edge"] == 13 + ER.REV_OFF)).sum() == 1
    assert (got["via_node"] == 14).any() and (got["via_node"] == 5).any()


def test_variant_transitions_job_budget(spark, tmp_path):
    """A cold build_variant_transitions over parquet-read edges and
    nodes is one collect each of edges, nodes and restrictions — not a
    self-join job chain per variant — and the directed edges for the
    shapes stage come from the same edge collect (no further job)."""
    datagen.edges(spark).write.parquet(str(tmp_path / "edges"))
    datagen.nodes(spark).write.parquet(str(tmp_path / "nodes"))
    eds = spark.read.parquet(str(tmp_path / "edges"))
    nds = spark.read.parquet(str(tmp_path / "nodes"))
    sc = spark.sparkContext

    def jobs_of(group: str, fn):
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    tbv, n_build = jobs_of(
        "variant-transitions-job-budget",
        lambda: ER.build_variant_transitions(spark, eds, nodes=nds),
    )
    assert sorted(tbv) == list(range(ER.N_RATTR_VARIANTS))
    assert 0 < n_build <= 6, f"{n_build} jobs"
    dedges, n_dedges = jobs_of(
        "directed-edges-after-build", lambda: ER.directed_full_pdf(spark, eds)
    )
    assert len(dedges) == 2 * eds.count()
    assert n_dedges == 0, f"{n_dedges} jobs"


def test_restricted_paths_matches_oracle(spark):
    assert_matches_oracle(
        entrymod.queries()["restricted_paths"](spark, None),
        entrymod.oracle_sql()["restricted_paths"],
    )


def _grid_world(spark):
    """Main-grid edges, sf0.001 candidates and the per-variant transition
    tables: unlike the 8x8 sub-grid, whose trips have one candidate
    layer each, this world has multi-layer trips to walk."""
    from pfaedle_spark.operators import candidates as cand_ops

    eds = datagen.edges(spark)
    pts = datagen.points(spark, SF_DIR)
    cand = cand_ops.candidate_edges(pts, eds).localCheckpoint(eager=True)
    return eds, cand, ER.build_variant_transitions(spark, eds)


def _bf_state_cost(trans: pd.DataFrame, sources, rounds: int = 220) -> dict:
    """Independent shortest paths: Bellman-Ford relaxation over the raw
    transition rows (no CSR/heap code shared with the engine), one row
    per source state; a round relaxes every arc at once, as one
    min-reduce of the arc candidates per head state."""
    frm = trans["from_edge"].to_numpy(np.int64)
    to = trans["to_edge"].to_numpy(np.int64)
    states = np.unique(np.concatenate([frm, to]))
    order = np.argsort(to, kind="stable")
    fi = np.searchsorted(states, frm[order])
    ti = np.searchsorted(states, to[order])
    c = trans["cost"].to_numpy(np.float64)[order]
    starts = np.flatnonzero(np.r_[True, ti[1:] != ti[:-1]])
    heads = ti[starts]
    src = sorted(set(sources) & set(states.tolist()))
    d = np.full((len(src), len(states)), np.inf)
    d[np.arange(len(src)), np.searchsorted(states, src)] = 0.0
    for _ in range(rounds):
        nd = d.copy()
        nd[:, heads] = np.minimum(
            d[:, heads], np.minimum.reduceat(d[:, fi] + c, starts, axis=1)
        )
        if np.array_equal(nd, d, equal_nan=True):
            break
        d = nd
    return {
        "d": d,
        "row": {s: i for i, s in enumerate(src)},
        "col": {s: i for i, s in enumerate(states.tolist())},
    }


def _bf_viterbi(layers, apsp) -> list[dict]:
    """Brute-force DP over (state, emission) layers using the BF matrix;
    returns every layer's {state: optimal cost}."""
    d, row, col = apsp["d"], apsp["row"], apsp["col"]
    costs = [em for _, em in layers[0]]
    prev = layers[0]
    out = [dict(zip((st for st, _ in prev), costs))]
    for lay in layers[1:]:
        new = []
        for st, em in lay:
            best = np.inf
            for i, (pst, _) in enumerate(prev):
                if pst in row and st in col:
                    t = d[row[pst], col[st]]
                else:
                    t = np.inf
                cand = costs[i] + t + em
                if cand < best:
                    best = cand
            new.append(best)
        costs = new
        prev = lay
        out.append(dict(zip((st for st, _ in lay), costs)))
    return out


def test_viterbi_full_matches_brute_force(spark):
    """Engine viterbi_full vs an independent BF-matrix DP on the main
    grid world's multi-layer trips. The R5 band never binds on this
    world (tests/test_gridviterbi.py::test_band_never_binds_on_grid),
    so the unbanded DP is the reference."""
    _, cand, tbv = _grid_world(spark)
    got = ER.viterbi_full(cand, tbv).toPandas()

    cand_pdf = cand.withColumn("emission", F.expr(ER.emission_expr())).toPandas()
    trips = sorted(cand_pdf["trip_id"].unique())[:12]
    layers_of, variant_of = {}, {}
    for trip_id in trips:
        g = cand_pdf[cand_pdf["trip_id"] == trip_id]
        variant_of[trip_id] = int(trip_id.split("_")[1]) % ER.N_RATTR_VARIANTS
        layers = []
        for seq in sorted(g["seq"].unique()):
            lay = g[g["seq"] == seq][["edge_id", "emission"]].drop_duplicates()
            states = []
            for e, em in zip(lay["edge_id"], lay["emission"]):
                states.append((int(e), float(em)))
                states.append((int(e) + ER.REV_OFF, float(em)))
            layers.append(sorted(states))
        layers_of[trip_id] = layers
    # BF rows only for the states a compared trip leaves from
    apsp = {
        v: _bf_state_cost(tbv[v], {
            st for t in trips if variant_of[t] == v
            for lay in layers_of[t][:-1] for st, _ in lay
        })
        for v in set(variant_of.values())
    }
    deep = 0
    for trip_id in trips:
        layers = layers_of[trip_id]
        costs = _bf_viterbi(layers, apsp[variant_of[trip_id]])
        eng = got[got["trip_id"] == trip_id].sort_values("seq")
        assert len(eng) == len(layers), trip_id
        # compare the accumulated optimum, and per layer the chosen
        # state's optimal cost (equal-cost ties may choose different
        # paths across independent implementations; the optimal VALUE
        # of each state is unique)
        total = min(costs[-1].values())
        assert float(eng["acc_cost"].iloc[-1]) == pytest.approx(total, rel=1e-12), trip_id
        for li, (st, acc) in enumerate(zip(eng["state_edge"], eng["acc_cost"])):
            assert acc == pytest.approx(costs[li][int(st)], rel=1e-12), (trip_id, li)
        deep = max(deep, int(np.isfinite(eng["acc_cost"]).sum()))
    # trips hop the river between stops, and a cross-component layer is
    # +inf from there on: finite layers are each trip's prefix
    assert deep >= 3, "no compared trip has 3+ layers at a finite cost"


def test_viterbi_full_echo_trips_identical(spark):
    """A1 property: an echoed (duplicate) trip gets the identical
    alignment, solved once via the shared fingerprint."""
    from pfaedle_spark.operators import candidates as cand_ops

    eds = ER._sub_edges(spark)
    pts = datagen.points(spark, "/root/testdata/sf0.001").filter(
        (F.col("x") < ER.SUB_N * 2048.0) & (F.col("y") < ER.SUB_N * 2048.0)
    )
    cand = ER.echo_candidates(cand_ops.candidate_edges(pts, eds))
    fpr = ER.trip_fingerprints(cand).toPandas()
    # every echoed trip must share its original's fingerprint
    orig = fpr[~fpr["trip_id"].str.startswith("e")].set_index("trip_id")["fingerprint"]
    echo = fpr[fpr["trip_id"].str.startswith("e")]
    for t, f in zip(echo["trip_id"], echo["fingerprint"]):
        assert orig[t[1:]] == f, t
    restr = gtfs_ops.read_restrictions(gtfs_ops.restriction_members(spark, eds))
    nodes = datagen.nodes(spark)
    tbv = {
        v: ER.turn_transitions(
            eds, restr, nodes, rattrs=ER.rattrs_for_variant(v)
        ).toPandas()
        for v in range(ER.N_RATTR_VARIANTS)
    }
    got = ER.viterbi_full(cand, tbv).toPandas()
    o = got[~got["trip_id"].str.startswith("e")].copy()
    e = got[got["trip_id"].str.startswith("e")].copy()
    e["trip_id"] = e["trip_id"].str[1:]
    e["image_id"] = e["image_id"].str[1:]
    m = o.merge(e, on=["trip_id", "seq"], suffixes=("", "_e"))
    assert len(m) == len(o) == len(e)
    assert (m["state_edge"] == m["state_edge_e"]).all()
    assert (m["acc_cost"] == m["acc_cost_e"]).all()


def test_shape_assembly_geometric_invariants(spark):
    """R10 gates on the main grid world's multi-layer trips: the
    assembled polyline is connected (every consecutive point pair is a
    directed edge of the graph, correctly oriented), cum_dist is the
    running sum of walked edge lengths, and the walk starts at the first
    chosen candidate state's source point. Trips on this world hop the
    river between stops, and a hop across the two weak components has
    no path and is skipped: there the polyline jumps, and a skipped
    first hop starts the walk at the first chosen state that shares a
    component with its successor."""
    eds, cand, tbv = _grid_world(spark)
    dedges = ER.directed_full_pdf(spark, eds)
    vf = ER.viterbi_full(cand, tbv)
    got = ER.shape_assembly(vf, cand, tbv, dedges).toPandas()
    assert len(got) > 0
    geo = dedges.set_index("edge_id")
    # stop coords per (trip, seq) for the projection-clipped endpoints —
    # from the CANDIDATES (a stop with no candidate edge contributes no
    # DP layer, so the engine's first/last layer is the first/last seq
    # with candidates, not the first/last raw point)
    stop_xy = (
        cand.select("trip_id", "seq", "x", "y").distinct().toPandas()
        .sort_values(["trip_id", "seq"]).groupby("trip_id")
    )

    def oriented(st):
        e = geo.loc[st % ER.REV_OFF]
        if st >= ER.REV_OFF:
            return e["x2"], e["y2"], e["x1"], e["y1"], e["length"]
        return e["x1"], e["y1"], e["x2"], e["y2"], e["length"]

    def proj_t(px, py, st):
        sx, sy, ex, ey, _ = oriented(st)
        len2 = (ex - sx) ** 2 + (ey - sy) ** 2
        t = ((px - sx) * (ex - sx) + (py - sy) * (ey - sy)) / len2
        return min(1.0, max(0.0, t))

    # clustered trips carry their representative's shape (the engine
    # solves once per fingerprint and copies, shape_builder.cpp:219) —
    # so the clipped endpoints are the REP trip's stop projections
    fps = ER.trip_fingerprints(cand).toPandas().set_index("trip_id")
    rep_of = fps["rep_trip"].to_dict()
    vit = vf.toPandas().sort_values(["trip_id", "seq"])
    csrs = {v: ER.transition_csr(t) for v, t in tbv.items()}
    arcs = {v: set(zip(t["from_edge"], t["to_edge"])) for v, t in tbv.items()}

    def chosen(trip):
        """The rep's chosen states and their component labels."""
        sts = vit.loc[vit["trip_id"] == rep_of[trip], "state_edge"].tolist()
        csr = csrs[int(fps.at[trip, "variant"])]
        return sts, csr["comp"][routing.index_of(csr, sts)].tolist()

    n_layers = vit.groupby("trip_id").size()
    longer = jumps = 0
    for trip_id, g in got.groupby("trip_id"):
        g = g.sort_values("pt_seq").reset_index(drop=True)
        walked = [int(st) for st in g["edge_state"]]
        sts, c = chosen(trip_id)
        # the walk resumes at a chosen state entered by a skipped hop
        resumes = {sts[j] for j in range(1, len(sts)) if c[j - 1] != c[j]}
        sxy = stop_xy.get_group(rep_of[trip_id])
        t0 = proj_t(sxy["x"].iloc[0], sxy["y"].iloc[0], int(g["edge_state"].iloc[0]))
        tL = proj_t(sxy["x"].iloc[-1], sxy["y"].iloc[-1], int(g["edge_state"].iloc[-1]))
        if len(g) == 2 and int(g["edge_state"].iloc[0]) == int(g["edge_state"].iloc[1]):
            tL = max(tL, t0)
        assert (g["cum_dist"].diff().dropna() >= 0).all(), trip_id
        n = len(g)
        for i in range(1, n):
            st = int(g["edge_state"].iloc[i])
            sx, sy, ex, ey, ln = oriented(st)
            frac = 1.0
            if i == 1:
                # head clipped at the first stop's projection
                sx = sx + t0 * (ex - sx)
                sy = sy + t0 * (ey - sy)
                frac -= t0
            if i == n - 1:
                # tail clipped at the last stop's projection
                sx0, sy0, ex0, ey0, _ = oriented(st)
                ex = sx0 + tL * (ex0 - sx0)
                ey = sy0 + tL * (ey0 - sy0)
                frac -= 1.0 - tL
            assert g["x"].iloc[i] == pytest.approx(ex, abs=1e-9), (trip_id, i)
            assert g["y"].iloc[i] == pytest.approx(ey, abs=1e-9), (trip_id, i)
            # row 1 walks row 0's state; every later step is a
            # transition, or the jump over skipped hops
            if i > 1 and (walked[i - 1], st) not in arcs[int(fps.at[trip_id, "variant"])]:
                assert st in resumes, (trip_id, i)
                jumps += 1
            else:
                assert g["x"].iloc[i - 1] == pytest.approx(sx, abs=1e-9), (trip_id, i)
                assert g["y"].iloc[i - 1] == pytest.approx(sy, abs=1e-9), (trip_id, i)
            assert g["cum_dist"].iloc[i] - g["cum_dist"].iloc[i - 1] == pytest.approx(
                ln * max(frac, 0.0), rel=1e-9, abs=1e-9
            )
        # walked states (row 0 is the clipped head) beyond one per layer
        longer += n - 1 > n_layers[trip_id]
    assert longer > 0, "no checked shape walks a state between its layers"
    assert jumps > 0
    # the viterbi choice and the walk agree: each trip's first walked
    # state is its first chosen candidate state with a walkable hop
    first_walk = (
        got.sort_values("pt_seq").groupby("trip_id").first()["edge_state"].to_dict()
    )
    assert first_walk.keys() == set(n_layers.index)
    for t, first in first_walk.items():
        sts, c = chosen(t)
        k = next((k for k in range(len(sts) - 1) if c[k] == c[k + 1]), len(sts) - 1)
        assert first == sts[k], t


def test_shape_assembly_walks_the_states_it_is_given(spark):
    """The DP runs once: shape_assembly walks the chosen states of the
    aligned rows it is handed. Swapping one middle layer's state of a
    representative for its reverse twin re-routes that trip's walk
    through the twin, still connected, and leaves every other trip's
    shape rows unchanged."""
    eds, cand, tbv = _grid_world(spark)
    dedges = ER.directed_full_pdf(spark, eds)
    vf = ER.viterbi_full(cand, tbv)
    aligned = vf.toPandas().sort_values(["trip_id", "seq"], ignore_index=True)
    fps = ER.trip_fingerprints(cand).toPandas().set_index("trip_id")
    csrs = {v: ER.transition_csr(t) for v, t in tbv.items()}

    def twin_of(st):
        return st - ER.REV_OFF if st >= ER.REV_OFF else st + ER.REV_OFF

    def comps(variant, sts):
        csr = csrs[variant]
        return csr["comp"][routing.index_of(csr, sts)].tolist()

    # the main grid has two weak components, and a hop across them is
    # skipped: take the first representative whose middle twin shares a
    # component with both neighbouring chosen states
    for trip in sorted(fps.index[fps.index == fps["rep_trip"]]):
        variant = int(fps.at[trip, "variant"])
        chosen = aligned.index[aligned["trip_id"] == trip]
        if len(chosen) < 3:
            continue
        prev, mid, nxt = chosen[len(chosen) // 2 - 1: len(chosen) // 2 + 2]
        twin = twin_of(int(aligned.at[mid, "state_edge"]))
        sts = [int(aligned.at[prev, "state_edge"]), twin, int(aligned.at[nxt, "state_edge"])]
        if len(set(comps(variant, sts))) == 1:
            break
    else:
        pytest.fail("no representative with a walkable middle twin")
    swapped = aligned.copy()
    swapped.at[mid, "state_edge"] = twin

    def shapes(pdf):
        out = ER.shape_assembly(spark.createDataFrame(pdf, vf.schema), cand, tbv, dedges)
        return out.toPandas().sort_values(["trip_id", "pt_seq"], ignore_index=True)

    base, got = shapes(aligned), shapes(swapped)
    members = set(fps.index[fps["fingerprint"] == fps.at[trip, "fingerprint"]])
    pd.testing.assert_frame_equal(
        base[~base["trip_id"].isin(members)].reset_index(drop=True),
        got[~got["trip_id"].isin(members)].reset_index(drop=True),
    )
    walk = got.loc[got["trip_id"] == trip].iloc[1:]  # row 0: the clipped head
    states = walk["edge_state"].tolist()
    assert twin in states
    assert states != base.loc[base["trip_id"] == trip, "edge_state"].iloc[1:].tolist()
    # connected: every step is a transition, except a skipped hop
    # between components
    arcs = set(zip(tbv[variant]["from_edge"], tbv[variant]["to_edge"]))
    c = comps(variant, states)
    for a, b, ca, cb in zip(states[:-1], states[1:], c[:-1], c[1:]):
        assert (a, b) in arcs or ca != cb, (a, b)
    # every interior point is its walked state's oriented end point
    ends = dedges.set_index("edge_id")
    for st, x, y in zip(states[:-1], walk["x"].iloc[:-1], walk["y"].iloc[:-1]):
        assert (x, y) == (ends.at[st, "x2"], ends.at[st, "y2"])


def test_viterbi_full_never_mixes_two_transition_dicts(spark):
    """Two transition dicts in one session never share worker state:
    after a run over ``tbv``, a run over the same tables with every cost
    doubled, then ``tbv`` again, each run equals the driver-side DP over
    its own dict (the collision a worker-side CSR cache keyed on the
    dict's identity could produce)."""
    _, cand, tbv = _grid_world(spark)
    doubled = {v: t.assign(cost=t["cost"] * 2.0) for v, t in tbv.items()}
    fps = ER.trip_fingerprints(cand)
    reps = (
        cand.withColumn("emission", F.expr(ER.emission_expr()))
        .join(fps, "trip_id")
        .filter(F.col("trip_id") == F.col("rep_trip"))
        .toPandas()
    )
    key = ["trip_id", "seq"]
    runs = []
    for table in (tbv, doubled, tbv):
        got = ER.viterbi_full(cand, table).toPandas()
        csrs = {v: ER.transition_csr(t) for v, t in table.items()}
        for trip, g in reps.groupby("trip_id"):
            want = ER.state_viterbi_batch(g, csrs)
            mine = got[got["trip_id"] == trip].sort_values("seq")
            assert mine["state_edge"].tolist() == want["state_edge"].tolist(), trip
            assert mine["acc_cost"].tolist() == want["acc_cost"].tolist(), trip
        runs.append(got.sort_values(key, ignore_index=True))
    assert (runs[1]["acc_cost"] != runs[0]["acc_cost"]).any()
    pd.testing.assert_frame_equal(runs[0], runs[2])


def test_trip_clusters_matches_oracle(spark):
    assert_matches_oracle(
        entrymod.queries()["trip_clusters"](spark, "/root/testdata/sf0.001"),
        entrymod.oracle_sql()["trip_clusters"],
    )


def test_turn_transitions_plan_stays_jvm_side(spark):
    import contextlib
    import io

    df = entrymod.queries()["turn_transitions"](spark, None)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BatchEvalPython" not in plan
    assert "PythonUDF" not in plan


def test_hop_band_semantics(spark):
    """R5 (getHopBand, router.cpp:229-306): the band caps the search at
    max(pilot cost, pend*lvlPunish[2])*3 + turn/station pens. On the
    sub-grid every target's route cost sits inside that envelope, so
    the band must not change any result; on a toy chain whose route
    cost far exceeds both the pilot and the straight-line envelope, the
    beyond-band target reports inf (absent) while band=False reaches
    it."""
    eds = ER._sub_edges(spark)
    restr = gtfs_ops.read_restrictions(gtfs_ops.restriction_members(spark, eds))
    nodes = datagen.nodes(spark)
    tpdf = ER.turn_transitions(
        eds, restr, nodes, rattrs=ER.rattrs_for_variant(0)
    ).toPandas()
    csr = ER.transition_csr(tpdf)
    states = csr["states"].tolist()
    seed = states[0]
    targets = states[1:40:7]
    banded, ob = ER.state_search(csr, [(seed, 0.0)], targets, band=True)
    unbanded, ou = ER.state_search(csr, [(seed, 0.0)], targets)
    assert banded == unbanded and ob == ou  # band is invisible in-envelope

    # toy: A->B->C->D->E->F chain, each transition 10000, all states
    # within 200 m straight-line => band = max(10000, ~300)*3 + 3100;
    # F costs 50000 > band => pruned; B (the pilot) survives.
    toy = pd.DataFrame(
        {
            "from_edge": [0, 1, 2, 3, 4],
            "to_edge": [1, 2, 3, 4, 5],
            "cost": [10000.0] * 5,
            "fx": [0.0, 40.0, 80.0, 120.0, 160.0],
            "fy": [0.0] * 5,
            "tx": [40.0, 80.0, 120.0, 160.0, 200.0],
            "ty": [0.0] * 5,
        }
    )
    tcsr = ER.transition_csr(toy)
    b, _ = ER.state_search(tcsr, [(0, 0.0)], [1, 5], band=True)
    u, _ = ER.state_search(tcsr, [(0, 0.0)], [1, 5])
    assert b[1] == u[1] == 10000.0
    assert u[5] == 50000.0
    assert 5 not in b  # beyond the band => inf, as the reference prunes


def test_hop_band_no_shadowing_through_shared_state():
    """The combined multi-source search must match the reference's
    PAIRWISE hop banding (router.cpp:626-688) even when a low-dp seed
    settles a shared transit state first and its own continuation is
    out-of-band: the in-band higher-dp seed's pair must stay finite.

    Construction: seed A (dp 0) reaches transit u at hop 30000 and
    settles it (total 30000 < seed B's 26000+5000); A's delivery to T
    has hop 35000 > band_cap (= 3*pilot 10000 + 3100 = 33100), while
    pair (B, T) has hop 10000 — strictly in-band. The pairwise-exact
    answer is dp_B + hop_B = 36000 via B."""
    toy = pd.DataFrame(
        {
            "from_edge": [0, 0, 10, 50],
            "to_edge": [100, 50, 50, 60],
            "cost": [10000.0, 30000.0, 5000.0, 5000.0],
            "fx": [0.0, 0.0, 10.0, 20.0],
            "fy": [0.0] * 4,
            "tx": [5.0, 20.0, 20.0, 30.0],
            "ty": [0.0] * 4,
        }
    )
    tcsr = ER.transition_csr(toy)
    seeds = [(0, 0.0), (10, 26000.0)]
    banded, ob = ER.state_search(tcsr, seeds, [100, 60], band=True)
    assert banded[100] == 10000.0 and ob[100] == 0  # pilot via A
    # pair (A,T) hop 35000 is out-of-band => inf; pair (B,T) survives
    assert banded[60] == 36000.0 and ob[60] == 1
    unbanded, ou = ER.state_search(tcsr, seeds, [100, 60])
    assert unbanded[60] == 35000.0 and ou[60] == 0  # min TOTAL ignores band


def _bf_banded(trans: pd.DataFrame, pos: dict, seeds, targets) -> dict:
    """Pairwise R5 band by brute force (router.cpp:229-306): all-pairs
    hop costs by Floyd-Warshall over the raw arcs, pilot c0 = the hop of
    the min (total, target, seed ordinal) pair, pend = the max
    straight-line seed->target distance, and each target's min total
    over its pairs with hop <= cap. Returns {target: (total, ordinal)}."""
    ids = sorted(set(trans["from_edge"]) | set(trans["to_edge"]))
    at = {s: i for i, s in enumerate(ids)}
    d = np.full((len(ids), len(ids)), np.inf)
    np.fill_diagonal(d, 0.0)
    for f, t, c in zip(trans["from_edge"], trans["to_edge"], trans["cost"]):
        d[at[f], at[t]] = min(d[at[f], at[t]], c)
    for k in range(len(ids)):
        d = np.minimum(d, d[:, k:k + 1] + d[k:k + 1, :])
    pairs = [(c + d[at[s], at[t]], t, o, d[at[s], at[t]])
             for o, (s, c) in enumerate(seeds) for t in targets]
    c0 = min(p for p in pairs if np.isfinite(p[0]))[3]
    pend = max(np.hypot(pos[s][0] - pos[t][0], pos[s][1] - pos[t][1])
               for s, _ in seeds for t in targets)
    cap = max(c0, pend * routing.OPTS["level_punish"][2]) * 3.0 \
        + routing.OPTS["full_turn_punish"] + routing.OPTS["pass_thru_station_punish"]
    best = {}
    for total, t, o, hop in sorted(pairs):
        if hop <= cap and t not in best:
            best[t] = (total, o)
    return best


def test_hop_band_span_without_astar():
    """The band's pend is the straight-line seed->target span even when
    an arc cheaper than its span turns the A* heuristic off: the banded
    search equals the pairwise brute force. Here arc 0->1 costs 100 over
    a 9 km span, the pilot is target 1 (hop 100), and target 2 (hop
    12000) lies inside the band only through pend. Pure numpy."""
    pos = {0: (0.0, 0.0), 1: (9000.0, 0.0), 2: (0.0, 20.0), 3: (0.0, 10.0),
           4: (100.0, 0.0), 5: (0.0, 30.0)}
    arcs = [(0, 1, 100.0), (0, 3, 6000.0), (3, 2, 6000.0), (4, 2, 20000.0), (2, 5, 40000.0)]
    toy = pd.DataFrame(arcs, columns=["from_edge", "to_edge", "cost"])
    for c, i, end in (("fx", 0, "from_edge"), ("fy", 1, "from_edge"),
                      ("tx", 0, "to_edge"), ("ty", 1, "to_edge")):
        toy[c] = [pos[s][i] for s in toy[end]]
    csr = ER.transition_csr(toy)
    assert routing.heuristic(csr, frozenset({1})) is None  # inadmissible: A* off
    seeds, targets = [(0, 0.0), (4, 50.0)], [1, 2, 5]
    dist, origin = ER.state_search(csr, seeds, targets, band=True)
    want = _bf_banded(toy, pos, seeds, targets)
    assert {t: (dist[t], origin[t]) for t in dist} == want
    assert want[2] == (12000.0, 0) and 5 not in want  # 52000 lies beyond the band


def test_trip_debug_agrees_with_viterbi_full(spark, tmp_path):
    """-T debug layers: the chosen=true rows reproduce viterbi_full's
    (seq, state, cost) for the trip exactly; every layer exposes all its
    candidate states; the GeoJSON dump round-trips."""
    import json

    import __spark_entry__ as entrymod
    from conftest import SF_DIR
    from pfaedle_spark import datagen
    from pfaedle_spark.sources.osm import geojson_sink

    dbg = entrymod.queries()["trip_debug"](spark, SF_DIR).toPandas()
    assert len(dbg) > 0
    full = (
        entrymod.queries()["viterbi_full"](spark, SF_DIR)
        .filter("trip_id = 'trip_3'")
        .toPandas()
        .sort_values("seq", ignore_index=True)
    )
    chosen = dbg[dbg["chosen"]].sort_values("seq", ignore_index=True)
    assert list(chosen["seq"]) == list(full["seq"])
    assert list(chosen["state_edge"]) == list(full["state_edge"])
    assert np.allclose(chosen["acc_cost"], full["acc_cost"], rtol=1e-12)
    # every layer carries >1 state (fwd+rev per candidate edge)
    per_layer = dbg.groupby("seq").size()
    assert (per_layer >= 2).all()
    # exactly one chosen state per layer
    assert (dbg.groupby("seq")["chosen"].sum() == 1).all()

    # GeoJSON dump of the chosen states' candidate nodes
    nodes = datagen.nodes(spark)
    chosen_df = spark.createDataFrame(chosen[["seq", "edge_id", "acc_cost"]])
    eds = datagen.edges(spark).select("edge_id", "x1", "y1")
    pts = chosen_df.join(eds, "edge_id").select(
        "seq", "edge_id", "acc_cost", F.col("x1").alias("x"), F.col("y1").alias("y")
    )
    out = geojson_sink(pts, props=["seq", "edge_id", "acc_cost"])
    gj = json.loads(out)
    assert gj["type"] == "FeatureCollection" and len(gj["features"]) == len(chosen)
