"""Probe for the shape_geoms oracle: per walked hop (consecutive chosen
Viterbi states), how many BF rounds until (a) full fixpoint and (b) the
on-path + in-neighbor states converge; also sanity-check the pred rule
(min achieving pred at fixpoint == engine edge_routing.state_path)."""
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
cand = edge_routing.echo_candidates(candidates.candidate_edges(datagen.points(spark, SF), eds))
tbv = edge_routing.build_variant_transitions(spark, eds)
vf = edge_routing.viterbi_full(cand, tbv).toPandas()

import pyspark.sql.functions as F
fps = edge_routing.trip_fingerprints(cand).select("trip_id", "fingerprint", "rep_trip", "variant").toPandas()
vf = vf.merge(fps[["trip_id", "fingerprint", "variant"]], on="trip_id")
reps = vf[vf["trip_id"] == vf.groupby("fingerprint")["trip_id"].transform("min")]

REV_OFF = edge_routing.REV_OFF
max_full, max_needed, n_hops, pred_mism = 0, 0, 0, 0
for (fpr, variant), grp in reps.groupby(["fingerprint", "variant"]):
    one = grp.drop_duplicates(["seq"]).sort_values("seq")
    states = one["state_edge"].tolist()
    csr = edge_routing.transition_csr(tbv[int(variant)])
    indptr, dsts, cost = csr["indptr"], csr["dst"], csr["cost"]
    stid = csr["states"]
    n = len(stid)
    frm = np.repeat(np.arange(n), np.diff(indptr))
    for i in range(len(states) - 1):
        s, t = int(states[i]), int(states[i + 1])
        p = edge_routing.state_path(csr, s, t)
        n_hops += 1
        si, ti = routing.index_of(csr, [s, t]).tolist()
        cur = np.full(n, np.inf); cur[si] = 0.0
        hist = [cur.copy()]
        r = 0
        while True:
            r += 1
            nxt = cur.copy()
            np.minimum.at(nxt, dsts, cur[frm] + cost)
            hist.append(nxt.copy())
            if np.array_equal(np.nan_to_num(nxt, posinf=1e300), np.nan_to_num(cur, posinf=1e300)):
                break
            cur = nxt
            if r > 500: break
        max_full = max(max_full, r)
        if p is None:
            continue
        # states whose convergence the pred rule consumes: path + in-neighbors
        need = set()
        for ui in routing.index_of(csr, p).tolist():
            need.add(ui)
            need.update(int(frm[j]) for j in range(len(frm)) if dsts[j] == ui)
        need = np.fromiter(need, dtype=np.int64)
        fin = hist[-1][need]
        for rr, h in enumerate(hist):
            if np.array_equal(np.nan_to_num(h[need], posinf=1e300), np.nan_to_num(fin, posinf=1e300)):
                max_needed = max(max_needed, rr)
                break
        # pred rule check: walk back from t with min achieving pred
        fv = hist[-1]
        walk = [ti]
        while walk[-1] != si:
            u = walk[-1]
            cands_p = [int(frm[j]) for j in range(len(frm)) if dsts[j] == u and fv[frm[j]] + cost[j] == fv[u]]
            walk.append(min(cands_p))
        sqlp = [int(stid[u]) for u in reversed(walk)]
        if sqlp != p:
            pred_mism += 1
            print("PRED MISMATCH", fpr, i, sqlp[:6], p[:6])

print(f"SF={SF}: hops={n_hops} max_full_fixpoint={max_full} max_needed={max_needed} pred_mismatches={pred_mism}")
spark.stop()
