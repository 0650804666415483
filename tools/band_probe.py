"""Empirical probe: does the R5 hop band ever bind for viterbi_full on
the MAIN grid at the graded SFs?

For every rep fingerprint and every layer transition, runs
edge_routing.state_search twice (band=True / band=False) on the same
seeds/targets and compares (values, origins) exactly. Also counts
routing._pairwise_repair invocations and measures the BF fixpoint round
count (max over transitions) for the oracle's unroll bound.
"""
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pfaedle_spark import datagen
from pfaedle_spark.operators import candidates, edge_routing, routing
from pfaedle_spark.session import get_spark

SF = os.environ.get("SF", "/root/testdata/sf0.01")

spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")

eds = datagen.edges(spark)
cand = edge_routing.echo_candidates(
    candidates.candidate_edges(datagen.points(spark, SF), eds)
)
import pyspark.sql.functions as F

fps = edge_routing.trip_fingerprints(cand)
keyed = (
    cand.withColumn("emission", F.expr(edge_routing.emission_expr()))
    .join(fps.select("trip_id", "fingerprint", "rep_trip", "variant"), "trip_id")
    .filter(F.col("trip_id") == F.col("rep_trip"))
    .select("fingerprint", "variant", "seq", "edge_id", "cand_node", "emission", "rank")
    .toPandas()
)
tbv = edge_routing.build_variant_transitions(spark, eds)

pair_calls = [0]
orig_pair = routing._pairwise_repair

def counting_pair(*a, **kw):
    pair_calls[0] += 1
    return orig_pair(*a, **kw)

routing._pairwise_repair = counting_pair

REV_OFF = edge_routing.REV_OFF
mismatch = 0
n_layers = 0
max_bf_rounds = 0


def bf_rounds(csr, seeds, targets):
    """Rounds until the dp-seeded BF reaches fixpoint on the needed targets."""
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
        relax = cur[frm] + cost
        np.minimum.at(nxt, dsts, relax)
        if np.array_equal(
            np.nan_to_num(nxt, posinf=1e300), np.nan_to_num(cur, posinf=1e300)
        ):
            return r
        cur = nxt
        if r > 600:
            return r


for fpr, grp in keyed.groupby("fingerprint"):
    variant = int(grp["variant"].iloc[0])
    csr = edge_routing.transition_csr(tbv[variant])
    base = grp[["seq", "edge_id", "emission"]].drop_duplicates()
    fwd = base.copy(); fwd["state"] = fwd["edge_id"]
    rev = base.copy(); rev["state"] = rev["edge_id"] + REV_OFF
    states = pd.concat([fwd, rev]).sort_values(["seq", "state"], ignore_index=True)
    seqs = sorted(states["seq"].unique())
    layers = [states[states["seq"] == s].reset_index(drop=True) for s in seqs]
    dp = layers[0]["emission"].to_numpy(np.float64)
    for li in range(1, len(layers)):
        prev_l, cur_l = layers[li - 1], layers[li]
        seeds = list(zip((int(s) for s in prev_l["state"]), dp.tolist()))
        tgts = [int(t) for t in cur_l["state"]]
        d1, o1 = edge_routing.state_search(csr, seeds, tgts, band=True)
        d0, o0 = edge_routing.state_search(csr, seeds, tgts)
        n_layers += 1
        if d1 != d0 or o1 != o0:
            mismatch += 1
            print(f"BAND BINDS fpr={fpr} layer={li}: {d1} vs {d0} | {o1} vs {o0}")
        max_bf_rounds = max(max_bf_rounds, bf_rounds(csr, seeds, tgts))
        emis = cur_l["emission"].to_numpy(np.float64)
        dp = np.array([d1.get(t, np.inf) for t in tgts]) + emis

print(f"SF={SF}: {n_layers} layer transitions, band/no-band mismatches={mismatch}, "
      f"pairwise repair calls={pair_calls[0]}, max BF fixpoint rounds={max_bf_rounds}")
spark.stop()
