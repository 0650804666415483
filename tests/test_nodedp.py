"""Gates for the node-state DP oracles (operators/nodedp.py):
viterbi_align and greedy2_align on the main grid, full level-punish
cost. The hop-table reduction (shared exact BF) is gated universally;
both DP chains are bit-compared end to end against the engine."""

import numpy as np
import pyspark.sql.functions as F

from conftest import SF_DIR, duck, normalize
from pfaedle_spark import datagen
from pfaedle_spark.operators import candidates, graph_ops, nodedp, routing


def test_node_bf_rounds_universal(spark):
    """The unrolled BF bound holds for EVERY possible source node of
    the real odir node graph (not just observed seeds), with margin —
    arc costs are exact dyadics, so value fixpoint is the only
    requirement."""
    eds = graph_ops.write_odir_edges(datagen.edges(spark)).toPandas()
    import pfaedle_spark.constants as C

    src = eds["src"].to_numpy(np.int64)
    dst = eds["dst"].to_numpy(np.int64)
    cost = eds["length"].to_numpy(np.float64) * np.array(C.LEVEL_PUNISH)[
        eds["level"].to_numpy(np.int64)
    ]
    n = int(max(src.max(), dst.max())) + 1
    maxr = 0
    for s in range(n):
        cur = np.full(n, np.inf)
        cur[s] = 0.0
        r = 0
        while True:
            r += 1
            nxt = cur.copy()
            np.minimum.at(nxt, dst, cur[src] + cost)
            if np.array_equal(
                np.nan_to_num(nxt, posinf=1e300),
                np.nan_to_num(cur, posinf=1e300),
            ):
                break
            cur = nxt
            assert r <= nodedp.NODE_BF_ROUNDS - 3, "margin violated"
        maxr = max(maxr, r)
    assert maxr <= nodedp.NODE_BF_ROUNDS - 3


def _assert_bit_exact(got, want):
    got, want = normalize(got), normalize(want)
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


def test_viterbi_align_grid_oracle_bit_exact(spark):
    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(datagen.points(spark, SF_DIR), eds)
    got = routing.viterbi_align(cand, graph_ops.write_odir_edges(eds)).toPandas()
    want = duck(SF_DIR).execute(nodedp.viterbi_align_grid_sql()).fetchdf()
    _assert_bit_exact(got, want)


def test_greedy2_align_grid_oracle_bit_exact(spark):
    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(datagen.points(spark, SF_DIR), eds)
    got = routing.greedy2_align(cand, graph_ops.write_odir_edges(eds)).toPandas()
    want = duck(SF_DIR).execute(nodedp.greedy2_align_grid_sql()).fetchdf()
    _assert_bit_exact(got, want)


def test_flagship_grid_oracle_bit_exact(spark):
    """entry()'s chain (candidates -> viterbi_align -> tile cell id) at
    full cost against the viterbi_align oracle re-joined to its points."""
    import __spark_entry__ as entrymod

    got = entrymod.queries()["flagship"](spark, SF_DIR).toPandas()
    want = duck(SF_DIR).execute(nodedp.flagship_grid_sql()).fetchdf()
    _assert_bit_exact(got, want)


def test_trip_debug_align_grid_oracle_bit_exact(spark):
    """The node-state -T surface: every state of the debug trip with its
    forward-DP cost and chosen flag, against the oracle's DP table LEFT
    JOINed to its backtrack."""
    import __spark_entry__ as entrymod

    got = entrymod.queries()["trip_debug_align"](spark, SF_DIR).toPandas()
    want = duck(SF_DIR).execute(nodedp.trip_debug_align_grid_sql()).fetchdf()
    _assert_bit_exact(got, want)
    assert set(got["trip_id"]) == {nodedp.DEBUG_TRIP}
    assert got["chosen"].sum() == got["seq"].nunique() < len(got)
