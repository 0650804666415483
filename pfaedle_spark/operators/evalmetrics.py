"""A6/W4 — evaluation metrics and shape segmentization.

* A6 — reference ``eval/collector.cpp:37-192,441-462``: per-trip
  accumulated Fréchet distance d_f between the matched shape and the
  ground-truth shape; a segment is "unmatched" when its Fréchet
  distance >= 20 m; global histograms over bins 10..100.
* W4 — reference ``collector::segmentize`` (``collector.cpp:194-259``):
  cut the matched polyline at the per-stop projections (ordered
  ``projectOnAfter``), yielding one sub-polyline per hop.

Both run per trip in ``routing.bucketed_apply``, the grouped runner
(the DP/scan is inherently sequential per trip — exactly the
reference's per-trip loop, which is the distributed axis). Fréchet
itself is the numpy implementation in ``functions/geo.py``
(``Geo.h:1560-1627`` semantics).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import acc_frechet_dist, frechet_dist, frechet_dists_batch
from .routing import bucketed_apply, key_frames, per_key

UNMATCHED_DF = 20.0
DF_BINS = [10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0, 80.0, 90.0, 100.0]


def frechet_eval(aligned_xy: DataFrame, truth_xy: DataFrame) -> DataFrame:
    """Per-trip d_f between matched node path and ground-truth path.

    Inputs: (trip_id, seq, x, y) for both sides. Output:
    (trip_id, n_pts, d_f, acc_d_f, unmatched, len_m) — len_m is the
    matched polyline's length, the weight of the A_L/L share
    (``collector::get_da``, collector.cpp:443-462 sums
    ``util::geo::len(a[i])`` for unmatched segments)."""
    a = aligned_xy.select("trip_id", "seq", "x", "y").withColumn("side", F.lit(0))
    b = truth_xy.select("trip_id", "seq", "x", "y").withColumn("side", F.lit(1))
    both = a.unionByName(b)

    cols = ["trip_id", "n_pts", "d_f", "acc_d_f", "unmatched", "len_m"]

    # one call per trip would pay the ~65k-iteration scalar DP per
    # call; every trip of a runner frame goes to the batched wavefront
    # DP at once (geo.frechet_dists_batch, bit-identical to the scalar
    # kernels) — the per-trip python constant amortizes across the frame
    def per_run(pdf: pd.DataFrame) -> pd.DataFrame:
        metas, paths = [], []
        for g in key_frames(pdf, "trip_id"):
            trip_id = g["trip_id"].iloc[0]
            g = g.sort_values(["side", "seq"])
            ga = g[g["side"] == 0]
            gb = g[g["side"] == 1]
            if len(ga) < 2 or len(gb) < 2:
                continue
            ax, ay = ga["x"].to_numpy(float), ga["y"].to_numpy(float)
            bx, by = gb["x"].to_numpy(float), gb["y"].to_numpy(float)
            paths.append((ax, ay, bx, by))
            metas.append((trip_id, len(ga), _seq_length(ax, ay)))
        if not paths:
            return pd.DataFrame()
        dfs, adfs = frechet_dists_batch(paths)
        return pd.DataFrame(
            [
                (trip_id, n, float(dfs[i]), float(adfs[i]),
                 bool(dfs[i] >= UNMATCHED_DF), length)
                for i, (trip_id, n, length) in enumerate(metas)
            ],
            columns=cols,
        )

    return bucketed_apply(
        both, "trip_id", per_run,
        "trip_id string, n_pts long, d_f double, acc_d_f double, "
        "unmatched boolean, len_m double",
    )


# ONE dialect-neutral aggregate over the per-trip table — Spark
# (F.expr per column) and DuckDB evaluate the same strings, so the
# global-share derivation is bit-checkable even though d_f itself is a
# py-ref kernel (collector::print_stats, collector.cpp:389-439).
EVAL_SUMMARY_EXPRS: list[tuple[str, str]] = [
    ("n_trips", "COUNT(*)"),
    ("n_unmatched", "SUM(CASE WHEN unmatched THEN 1 ELSE 0 END)"),
    ("an_share",
     "CAST(SUM(CASE WHEN unmatched THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)"),
    ("total_len", "SUM(len_m)"),
    ("unmatched_len", "SUM(CASE WHEN unmatched THEN len_m ELSE 0.0 END)"),
    ("al_share",
     "SUM(CASE WHEN unmatched THEN len_m ELSE 0.0 END) / SUM(len_m)"),
    ("avg_d_f", "AVG(d_f)"),
    ("min_d_f", "MIN(d_f)"),
    ("max_d_f", "MAX(d_f)"),
]


def eval_summary(evaled: DataFrame) -> DataFrame:
    """A6 global summary row: trip counts, unmatched share A_N/N, the
    length-weighted unmatched share A_L/L, and the d_f spread — the
    reference's printed evaluation block (collector.cpp:389-439).

    Computed as RUNNING window sums ordered by trip_id, taking the last
    row — value-identical to the plain aggregate but with a pinned
    left-to-right accumulation order: Spark's unbounded-preceding frame
    updates its buffer row by row, so the float sums are deterministic
    (plain SUM partial aggregation combines partitions in arbitrary
    order) and the DuckDB oracle can replay the identical chain with a
    recursive accumulator (``eval_summary_seq_sql``)."""
    from pyspark.sql import Window

    w = Window.orderBy("trip_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    unm_len = F.when(F.col("unmatched"), F.col("len_m")).otherwise(F.lit(0.0))
    cum = (
        evaled.select("trip_id", "d_f", "len_m", "unmatched")
        .withColumn("n_trips", F.count("*").over(w))
        .withColumn("n_unmatched", F.sum(F.col("unmatched").cast("long")).over(w))
        .withColumn("total_len", F.sum("len_m").over(w))
        .withColumn("unmatched_len", F.sum(unm_len).over(w))
        .withColumn("sum_d_f", F.sum("d_f").over(w))
        .withColumn("min_d_f", F.min("d_f").over(w))
        .withColumn("max_d_f", F.max("d_f").over(w))
        # the physically-last row of the SAME ordered frame (row_number
        # over an identical sort shares the window exec, so its order is
        # the running frame's order even under trip_id ties)
        .withColumn("rk", F.row_number().over(Window.orderBy("trip_id")))
        .withColumn(
            "n_total", F.count("*").over(Window.partitionBy(F.lit(1)))
        )
    )
    return cum.filter(F.col("rk") == F.col("n_total")).select(
        F.col("n_trips").cast("long").alias("n_trips"),
        F.col("n_unmatched").cast("long").alias("n_unmatched"),
        (F.col("n_unmatched").cast("double") / F.col("n_trips")).alias("an_share"),
        F.col("total_len").cast("double").alias("total_len"),
        F.col("unmatched_len").cast("double").alias("unmatched_len"),
        (F.col("unmatched_len") / F.col("total_len")).alias("al_share"),
        (F.col("sum_d_f") / F.col("n_trips")).alias("avg_d_f"),
        F.col("min_d_f").cast("double").alias("min_d_f"),
        F.col("max_d_f").cast("double").alias("max_d_f"),
    )


def eval_summary_seq_sql(per_trip_rel: str) -> str:
    """``eval_summary`` as DuckDB SQL over a per-trip relation with the
    SAME left-to-right accumulation: DuckDB's running window SUM is
    tree-aggregated above ~24 rows, so the float sums come from a
    recursive one-row-per-step accumulator ordered by trip_id instead
    — bit-identical to Spark's incrementally-updated unbounded frame."""
    return f"""
WITH RECURSIVE rows_ AS MATERIALIZED (
  SELECT trip_id, d_f, len_m, unmatched,
         ROW_NUMBER() OVER (ORDER BY trip_id) AS rn,
         COUNT(*) OVER () AS n
  FROM {per_trip_rel} e
),
acc(rn, n, n_unm, t_len, u_len, s_df) AS (
  SELECT rn, n, CAST(unmatched AS BIGINT),
         len_m, CASE WHEN unmatched THEN len_m ELSE 0.0 END, d_f
  FROM rows_ WHERE rn = 1
  UNION ALL
  SELECT r.rn, r.n, a.n_unm + CAST(r.unmatched AS BIGINT),
         a.t_len + r.len_m,
         a.u_len + (CASE WHEN r.unmatched THEN r.len_m ELSE 0.0 END),
         a.s_df + r.d_f
  FROM acc a JOIN rows_ r ON r.rn = a.rn + 1
)
SELECT CAST(a.n AS BIGINT) AS n_trips,
       CAST(a.n_unm AS BIGINT) AS n_unmatched,
       CAST(a.n_unm AS DOUBLE) / a.n AS an_share,
       a.t_len AS total_len,
       a.u_len AS unmatched_len,
       a.u_len / a.t_len AS al_share,
       a.s_df / a.n AS avg_d_f,
       (SELECT MIN(d_f) FROM rows_) AS min_d_f,
       (SELECT MAX(d_f) FROM rows_) AS max_d_f
FROM acc a WHERE a.rn = a.n
"""


def eval_summary_sql(per_trip_rel: str) -> str:
    """The identical aggregate as DuckDB SQL over a registered per-trip
    relation (tests register the engine's own per-trip rows)."""
    cols = ",\n       ".join(
        f"CAST({sql} AS {'DOUBLE' if name.endswith(('share', 'len', 'd_f')) else 'BIGINT'}) AS {name}"
        for name, sql in EVAL_SUMMARY_EXPRS
    )
    return f"SELECT {cols}\nFROM {per_trip_rel}"


# print_stats at the per-hop granularity (collector.cpp:389-439 over
# collector::get_da rows). Deliberately a SUBSET of EVAL_SUMMARY_EXPRS:
# no AVG(d_f) — summing irrational doubles is ORDER-dependent rounding,
# and this row is driven against a DuckDB oracle whose sum order differs
# from Spark's partial aggregation; COUNT / MIN / MAX and the
# integer-valued length sums are order-independent, and the two share
# divisions divide exactly-representable values, so the row is
# bit-identical across engines and partitionings.
EVAL_HOPS_EXPRS: list[tuple[str, str]] = [
    ("n_hops", "COUNT(*)"),
    ("n_unmatched", "SUM(CASE WHEN unmatched THEN 1 ELSE 0 END)"),
    ("an_share",
     "CAST(SUM(CASE WHEN unmatched THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)"),
    ("total_len", "SUM(len_m)"),
    ("unmatched_len", "SUM(CASE WHEN unmatched THEN len_m ELSE 0.0 END)"),
    ("al_share",
     "SUM(CASE WHEN unmatched THEN len_m ELSE 0.0 END) / SUM(len_m)"),
    ("min_d_f", "MIN(d_f)"),
    ("max_d_f", "MAX(d_f)"),
]


def eval_hops_summary(hops: DataFrame) -> DataFrame:
    """A6 print_stats over PER-HOP rows (A_N counts hops, A_L sums hop
    lengths — the reference's real denominators, collector.cpp:441-462):
    one row of A_N/N, length-weighted A_L/L and the d_f spread. Fed by
    ``frechet_hops`` on the staircase world, the whole derivation —
    projection scan, per-hop Eiter/Mannila DP, global shares — is
    SQL-oracled end to end."""
    return hops.agg(
        *[
            F.expr(sql)
            .cast("double" if name.endswith(("share", "len", "d_f")) else "long")
            .alias(name)
            for name, sql in EVAL_HOPS_EXPRS
        ]
    )


def eval_hops_summary_sql(rel: str) -> str:
    """The identical aggregate as DuckDB SQL over a per-hop relation
    (a parenthesized subquery or table name with d_f/len_m/unmatched)."""
    cols = ",\n       ".join(
        f"CAST({sql} AS {'DOUBLE' if name.endswith(('share', 'len', 'd_f')) else 'BIGINT'}) AS {name}"
        for name, sql in EVAL_HOPS_EXPRS
    )
    return f"SELECT {cols}\nFROM {rel} h"


def df_histogram_sql(rel: str) -> str:
    """``df_histogram`` as DuckDB SQL over a per-hop relation: the same
    first-match bin CASE (smallest DF_BINS edge >= d_f) and grouped
    counts — comparisons of the d_f double against integer-valued edges
    are bit-identical in both engines."""
    case = (
        "CASE "
        + " ".join(f"WHEN d_f <= {e} THEN CAST({e} AS DOUBLE)" for e in DF_BINS)
        + " ELSE NULL END"
    )
    return f"""SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN unmatched THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched
FROM (SELECT {case} AS bin, unmatched FROM {rel} h) b
GROUP BY bin"""


def df_histogram(evaled: DataFrame) -> DataFrame:
    """Global eval statistics: histogram of d_f over DF_BINS plus the
    unmatched share A_N/N (collector::print_stats :389-439)."""
    bucket = F.lit(None).cast("double")
    for e in reversed(DF_BINS):
        bucket = F.when(F.col("d_f") <= e, F.lit(float(e))).otherwise(bucket)
    return (
        evaled.withColumn("bin", bucket)
        .groupBy("bin")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.col("unmatched").cast("long")).alias("n_unmatched"),
        )
        .orderBy("bin")
    )


def _cut_positions(xs, ys, px_arr, py_arr):
    """Ordered projectOnAfter positions (PolyLine.h:98-119) of each stop
    onto the polyline; monotone along the line. Returns (positions,
    seg_len, cum) — shared by segmentize and the per-hop eval.

    Float discipline (keeps the DuckDB oracle bit-identical,
    operators/evalsql.py): distances are ``sqrt(dx*dx + dy*dy)`` — the
    reference's own dist (Geo.h:362-370) and the exact expression tree
    SQL evaluates (np.hypot rounds differently on ~0.6% of integer
    inputs); the cumulative positions accumulate LEFT-TO-RIGHT
    explicitly (np.cumsum is pairwise above ~8 elements, and DuckDB's
    running window SUM is sequential only below its tree-leaf size —
    per-trip polylines stay under both bounds, the loop makes the
    order unconditional)."""
    seg_dx = np.diff(xs)
    seg_dy = np.diff(ys)
    seg_len = np.sqrt(seg_dx * seg_dx + seg_dy * seg_dy)
    cum = np.empty(len(seg_len) + 1)
    cum[0] = 0.0
    acc = 0.0
    for i, sl in enumerate(seg_len):
        acc += float(sl)
        cum[i + 1] = acc
    pos = []
    start_seg = 0
    last_pos = 0.0
    for px, py in zip(px_arr, py_arr):
        best_d, best_pos, best_seg = np.inf, 0.0, start_seg
        for si in range(start_seg, len(seg_len)):
            if seg_len[si] == 0:
                continue
            t = ((px - xs[si]) * seg_dx[si] + (py - ys[si]) * seg_dy[si]) / (
                seg_len[si] ** 2
            )
            t = min(1.0, max(0.0, t))
            qx, qy = xs[si] + t * seg_dx[si], ys[si] + t * seg_dy[si]
            ddx, ddy = px - qx, py - qy
            d = np.sqrt(ddx * ddx + ddy * ddy)
            if d < best_d:
                best_d, best_pos, best_seg = d, cum[si] + t * seg_len[si], si
        last_pos = max(best_pos, last_pos)
        pos.append(last_pos)
        start_seg = best_seg
    return pos, seg_len, cum


def _seq_length(xs, ys) -> float:
    """Polyline length as a LEFT-TO-RIGHT sum of ``sqrt(dx*dx+dy*dy)``
    segment lengths — the exact accumulation order and expression tree
    the DuckDB oracles replay (np.hypot(...).sum() is pairwise and
    rounds differently)."""
    dx = np.diff(np.asarray(xs, np.float64))
    dy = np.diff(np.asarray(ys, np.float64))
    sl = np.sqrt(dx * dx + dy * dy)
    acc = 0.0
    for v in sl:
        acc += float(v)
    return acc


def _sub_polyline(xs, ys, seg_len, cum, a: float, b: float):
    """The polyline slice between line positions a <= b (interpolated
    endpoints + interior vertices) — getSegment (PolyLine.h:150-176)."""

    def point_at(p: float):
        si = int(np.searchsorted(cum, p, side="right")) - 1
        si = max(0, min(si, len(seg_len) - 1))
        t = 0.0 if seg_len[si] == 0 else (p - cum[si]) / seg_len[si]
        return (
            xs[si] + t * (xs[si + 1] - xs[si]),
            ys[si] + t * (ys[si + 1] - ys[si]),
        )

    px = [point_at(a)]
    inner = np.where((cum > a) & (cum < b))[0]
    for vi in inner:
        px.append((float(xs[vi]), float(ys[vi])))
    px.append(point_at(b))
    sx = np.array([p[0] for p in px])
    sy = np.array([p[1] for p in px])
    return sx, sy


def _per_trip_hops(aligned_xy: DataFrame, stops_xy: DataFrame, hop_rows, schema: str):
    """``hop_rows(xs, ys, spx, spy, stop_seq)`` per trip, in the grouped
    runner: the trip's polyline vertices (aligned (trip_id, seq, x, y))
    and its stops (trip_id, stop_seq, x, y), each in order. It yields
    one row per hop, the columns of ``schema`` after trip_id. A trip
    with fewer than two vertices or stops has no hops."""
    line = aligned_xy.select("trip_id", F.col("seq").alias("ord"), "x", "y", F.lit(0).alias("side"))
    stops = stops_xy.select(
        "trip_id", F.col("stop_seq").alias("ord"), "x", "y", F.lit(1).alias("side")
    )
    cols = [c.split()[0] for c in schema.split(", ")]

    def per_trip(pdf: pd.DataFrame) -> pd.DataFrame:
        ln = pdf[pdf["side"] == 0].sort_values("ord")
        st = pdf[pdf["side"] == 1].sort_values("ord")
        if len(ln) < 2 or len(st) < 2:
            return pd.DataFrame()
        rows = hop_rows(ln["x"].to_numpy(float), ln["y"].to_numpy(float),
                        st["x"].to_numpy(float), st["y"].to_numpy(float), st["ord"].to_numpy())
        return pd.DataFrame([(pdf["trip_id"].iloc[0], *r) for r in rows], columns=cols)

    return bucketed_apply(
        line.unionByName(stops), "trip_id", per_key(per_trip, "trip_id"), schema
    )


def _frechet_rows(metric, xs, ys, spx, spy):
    """(hop_seq, metric, len_m) per hop: the hop's sub-polyline between
    its ordered stop projections against the truth hop, the straight
    segment between consecutive stops."""
    pos, seg_len, cum = _cut_positions(xs, ys, spx, spy)
    for i in range(len(pos) - 1):
        sx, sy = _sub_polyline(xs, ys, seg_len, cum, pos[i], pos[i + 1])
        yield i, float(metric(sx, sy, spx[i:i + 2], spy[i:i + 2])), _seq_length(sx, sy)


def frechet_hops(aligned_xy: DataFrame, stops_xy: DataFrame) -> DataFrame:
    """A6 at the reference's real granularity — ``collector::get_da``
    (collector.cpp:443-462) runs the Fréchet test PER HOP: the matched
    polyline is cut at the ordered stop projections, each hop's
    sub-polyline is compared against that hop's ground-truth segment,
    and a hop is unmatched when d_f >= 20 m; A_N counts unmatched hops,
    A_L sums their matched-segment lengths.

    Inputs: aligned (trip_id, seq, x, y) polyline vertices; stops
    (trip_id, stop_seq, x, y). Output one row per hop:
    (trip_id, hop_seq, d_f, len_m, unmatched)."""
    def hop_rows(xs, ys, spx, spy, _):
        for i, d, ln in _frechet_rows(frechet_dist, xs, ys, spx, spy):
            yield i, d, ln, bool(d >= UNMATCHED_DF)

    return _per_trip_hops(
        aligned_xy, stops_xy, hop_rows,
        "trip_id string, hop_seq long, d_f double, len_m double, unmatched boolean",
    )


def acc_frechet_hops(aligned_xy: DataFrame, stops_xy: DataFrame) -> DataFrame:
    """Per-hop ACCUMULATED Fréchet (reference Geo.h:1602-1627, the
    ``accFrechet`` eval column): same hop cutting as ``frechet_hops``,
    but the DP sums per-step coupling distances and normalizes by the
    densified point count instead of taking the max. Runs the full
    kernel — projection scan, sub-polyline extraction, 25 m densify,
    accumulated DP — so the only remaining un-SQL-oracled Fréchet
    variant becomes bit-checkable on the staircase world.

    Output one row per hop: (trip_id, hop_seq, acc_d_f, len_m)."""
    return _per_trip_hops(
        aligned_xy, stops_xy,
        lambda xs, ys, spx, spy, _: _frechet_rows(acc_frechet_dist, xs, ys, spx, spy),
        "trip_id string, hop_seq long, acc_d_f double, len_m double",
    )


def segmentize(aligned_xy: DataFrame, stops_xy: DataFrame) -> DataFrame:
    """W4: cut each trip's matched polyline at the ordered projections
    of its stops; output one row per hop with the sub-polyline length.

    Inputs: aligned (trip_id, seq, x, y) = polyline vertices in order;
    stops (trip_id, stop_seq, x, y). Output: (trip_id, stop_seq,
    start_pos, end_pos, seg_len) in meters along the line."""
    def hop_rows(xs, ys, spx, spy, sseq):
        # ordered projectOnAfter (PolyLine.h:98-119), monotone cuts
        pos, _, _ = _cut_positions(xs, ys, spx, spy)
        for i in range(len(pos) - 1):
            yield (int(sseq[i]), float(pos[i]), float(pos[i + 1]),
                   float(max(0.0, pos[i + 1] - pos[i])))

    return _per_trip_hops(
        aligned_xy, stops_xy, hop_rows,
        "trip_id string, stop_seq long, start_pos double, end_pos double, seg_len double",
    )
