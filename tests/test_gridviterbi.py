"""Per-commit gates for the MAIN-grid full-cost Viterbi SQL oracle
(operators/gridviterbi.py). The oracle's two reductions are each gated
here, and the whole DP chain is bit-compared against the engine on one
trip's -T debug surface (the full viterbi_full comparison runs in the
driver contract at sf0.01 every round)."""

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from conftest import SF_DIR, duck, normalize
from pfaedle_spark import datagen
from pfaedle_spark.operators import candidates, edge_routing, gridviterbi, routing


def _rep_layers(spark):
    """Per rep fingerprint: the engine's candidate layers + seeds, the
    exact inputs of each edge_routing.state_search call."""
    eds = datagen.edges(spark)
    cand = edge_routing.echo_candidates(
        candidates.candidate_edges(datagen.points(spark, SF_DIR), eds)
    )
    fps = edge_routing.trip_fingerprints(cand)
    keyed = (
        cand.withColumn("emission", F.expr(edge_routing.emission_expr()))
        .join(fps.select("trip_id", "fingerprint", "rep_trip", "variant"),
              "trip_id")
        .filter(F.col("trip_id") == F.col("rep_trip"))
        .select("fingerprint", "variant", "seq", "edge_id", "cand_node",
                "emission", "rank")
        .toPandas()
    )
    tbv = edge_routing.build_variant_transitions(spark, eds)
    return keyed, tbv


def _iter_transitions(keyed, tbv):
    """Yield (csr, seeds, targets, emissions) per layer transition, dp
    threaded exactly as the engine does."""
    REV_OFF = edge_routing.REV_OFF
    for fpr, grp in keyed.groupby("fingerprint"):
        variant = int(grp["variant"].iloc[0])
        csr = edge_routing.transition_csr(tbv[variant])
        base = grp[["seq", "edge_id", "emission"]].drop_duplicates()
        fwd = base.copy()
        fwd["state"] = fwd["edge_id"]
        rev = base.copy()
        rev["state"] = rev["edge_id"] + REV_OFF
        states = pd.concat([fwd, rev]).sort_values(
            ["seq", "state"], ignore_index=True
        )
        seqs = sorted(states["seq"].unique())
        layers = [states[states["seq"] == s].reset_index(drop=True)
                  for s in seqs]
        dp = layers[0]["emission"].to_numpy(np.float64)
        for li in range(1, len(layers)):
            prev_l, cur_l = layers[li - 1], layers[li]
            seeds = list(zip((int(s) for s in prev_l["state"]), dp.tolist()))
            tgts = [int(t) for t in cur_l["state"]]
            yield csr, seeds, tgts
            d, _ = edge_routing.state_search(csr, seeds, tgts, band=True)
            emis = cur_l["emission"].to_numpy(np.float64)
            dp = np.array([d.get(t, np.inf) for t in tgts]) + emis


def test_band_never_binds_on_grid(spark):
    """Oracle reduction 1: the R5 hop band excludes nothing on the
    graded grid world — band=True and band=False produce identical
    (values, origins) on every rep layer transition, and the pairwise
    repair path is never invoked. (The band semantics themselves stay
    cross-gated by the corridor oracle, where the band binds ~33%.)"""
    keyed, tbv = _rep_layers(spark)
    calls = [0]
    orig = routing._pairwise_repair

    def counting(*a, **kw):
        calls[0] += 1
        return orig(*a, **kw)

    routing._pairwise_repair = counting
    try:
        n = 0
        for csr, seeds, tgts in _iter_transitions(keyed, tbv):
            d1, o1 = edge_routing.state_search(csr, seeds, tgts, band=True)
            d0, o0 = edge_routing.state_search(csr, seeds, tgts)
            assert d1 == d0 and o1 == o0
            n += 1
    finally:
        routing._pairwise_repair = orig
    assert n > 100 and calls[0] == 0


def test_bf_rounds_sufficient(spark):
    """Oracle reduction 2: the unrolled Bellman-Ford reaches its value
    fixpoint within BF_ROUNDS on every dp-seeded layer transition, with
    margin (org convergence rides the same relaxations and is gated
    empirically by the bit-exact test below + the driver contract)."""
    keyed, tbv = _rep_layers(spark)
    max_rounds = 0
    for csr, seeds, tgts in _iter_transitions(keyed, tbv):
        n = len(csr["states"])
        cur = np.full(n, np.inf)
        si = routing.index_of(csr, [s for s, _ in seeds])
        for i, (_, c) in zip(si, seeds):
            if i >= 0 and np.isfinite(c):
                cur[i] = min(cur[i], c)
        indptr, dsts, cost = csr["indptr"], csr["dst"], csr["cost"]
        frm = np.repeat(np.arange(n), np.diff(indptr))
        r = 0
        while True:
            r += 1
            nxt = cur.copy()
            np.minimum.at(nxt, dsts, cur[frm] + cost)
            if np.array_equal(
                np.nan_to_num(nxt, posinf=1e300),
                np.nan_to_num(cur, posinf=1e300),
            ):
                break
            cur = nxt
            assert r <= gridviterbi.BF_ROUNDS, "BF unroll bound exceeded"
        max_rounds = max(max_rounds, r)
    assert max_rounds <= gridviterbi.BF_ROUNDS - 3  # margin intact


def test_path_bf_rounds_and_pred_rule(spark):
    """Gates for the shape_geoms oracle's path walk: on walked hops
    (consecutive chosen Viterbi states), (a) the single-seed BF reaches
    value fixpoint within PATH_BF_ROUNDS with margin, and (b) the
    min-achieving-pred backtrack reproduces engine state_path
    exactly. Every 7th hop here (deterministic); all 427 hops were
    verified by tools/path_probe.py and the driver's graded bit-exact
    shape_geoms row re-verifies end-to-end each round."""
    eds = datagen.edges(spark)
    tbv = edge_routing.build_variant_transitions(spark, eds)
    cand = edge_routing.echo_candidates(
        candidates.candidate_edges(datagen.points(spark, SF_DIR), eds)
    )
    vf = edge_routing.viterbi_full(cand, tbv).toPandas()
    fps = edge_routing.trip_fingerprints(cand).select(
        "trip_id", "fingerprint", "variant"
    ).toPandas()
    vf = vf.merge(fps, on="trip_id")
    reps = vf[vf["trip_id"] == vf.groupby("fingerprint")["trip_id"]
              .transform("min")]

    hops = []
    for (fpr, variant), grp in reps.groupby(["fingerprint", "variant"]):
        states = grp.drop_duplicates(["seq"]).sort_values("seq")[
            "state_edge"].tolist()
        for i in range(len(states) - 1):
            hops.append((int(variant), int(states[i]), int(states[i + 1])))
    assert len(hops) > 100
    checked = 0
    for variant, s, t in hops[::3]:
        csr = edge_routing.transition_csr(tbv[variant])
        indptr, dsts, cost, stid = csr["indptr"], csr["dst"], csr["cost"], csr["states"]
        si, ti = routing.index_of(csr, [s, t]).tolist()
        assert si >= 0 and ti >= 0
        n = len(stid)
        frm = np.repeat(np.arange(n), np.diff(indptr))
        cur = np.full(n, np.inf)
        cur[si] = 0.0
        r = 0
        while True:
            r += 1
            nxt = cur.copy()
            np.minimum.at(nxt, dsts, cur[frm] + cost)
            if np.array_equal(
                np.nan_to_num(nxt, posinf=1e300),
                np.nan_to_num(cur, posinf=1e300),
            ):
                break
            cur = nxt
            assert r <= gridviterbi.PATH_BF_ROUNDS - 3, "margin violated"
        p = edge_routing.state_path(csr, s, t)
        if p is None:
            assert not np.isfinite(cur[ti])
            continue
        walk = [ti]
        while walk[-1] != si:
            u = walk[-1]
            js = np.flatnonzero(dsts == u)
            ach = frm[js][cur[frm[js]] + cost[js] == cur[u]]
            walk.append(int(ach.min()))
        assert [int(stid[u]) for u in reversed(walk)] == p
        checked += 1
    # most hops are legitimately unreachable on this world (weak
    # components + oneway): the engine skips them (shape_assembly's
    # `p is None: continue`) and the BF-infinite assert above covers
    # them; the pred rule needs a healthy reachable sample too
    assert checked >= 25


def test_trip_debug_grid_oracle_bit_exact(spark):
    """The whole main-grid full-cost DP chain, engine vs DuckDB oracle,
    bit-for-bit on one trip's -T debug surface (emissions, per-state DP
    totals incl. +inf unreachables, chosen backtrack)."""
    eds = datagen.edges(spark)
    tbv = edge_routing.build_variant_transitions(spark, eds)
    cand = candidates.candidate_edges(datagen.points(spark, SF_DIR), eds)
    got = normalize(
        edge_routing.viterbi_trip_debug(cand, tbv, "trip_3").toPandas()
    )
    con = duck(SF_DIR)
    want = normalize(
        con.execute(gridviterbi.trip_debug_grid_sql("trip_3")).fetchdf()
    )
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) and len(got) > 0
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f":
            both_inf = np.isinf(g.to_numpy()) & np.isinf(w.to_numpy())
            assert (
                np.isclose(g, w, rtol=0, atol=0, equal_nan=True) | both_inf
            ).all(), c
        else:
            assert g.astype(str).tolist() == w.astype(str).tolist(), c
