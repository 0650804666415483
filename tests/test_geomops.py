"""Geometry-library kernels (Geo.h re-expressions) + geomops queries."""

import numpy as np
import pytest

import __spark_entry__ as entrymod
from conftest import assert_matches_oracle
from pfaedle_spark.functions import geo


def test_inner_prod_angles():
    # right angle at origin
    assert geo.inner_prod_deg(0, 0, 1, 0, 0, 1) == pytest.approx(90.0)
    # straight line through: 180 degrees
    assert geo.inner_prod_deg(0, 0, -1, 0, 1, 0) == pytest.approx(180.0)
    # doubling back: 0 degrees
    assert geo.inner_prod_deg(0, 0, 1, 0, 2, 0) == pytest.approx(0.0)
    # 45 degrees
    assert geo.inner_prod_deg(0, 0, 1, 0, 1, 1) == pytest.approx(45.0)


def test_seg_intersection_cases():
    hits, t, u = geo.seg_intersect(0, 0, 2, 2, 0, 2, 2, 0)
    assert hits and t == pytest.approx(0.5) and u == pytest.approx(0.5)
    ix, iy = geo.seg_intersection(0, 0, 2, 2, 0, 2, 2, 0)
    assert (ix, iy) == (1.0, 1.0)
    # disjoint
    hits, _, _ = geo.seg_intersect(0, 0, 1, 0, 0, 1, 1, 1)
    assert not hits
    # parallel (d == 0)
    hits, _, _ = geo.seg_intersect(0, 0, 1, 0, 0, 1, 1, 2)
    assert not hits
    # touching at endpoint counts (t == 1)
    hits, t, u = geo.seg_intersect(0, 0, 1, 1, 1, 1, 2, 0)
    assert hits and t == pytest.approx(1.0) and u == pytest.approx(0.0)


def test_convex_hull_area_centroid():
    xs = np.array([0.0, 2.0, 2.0, 0.0, 1.0])  # square + interior point
    ys = np.array([0.0, 0.0, 2.0, 2.0, 1.0])
    hull = geo.convex_hull(xs, ys)
    assert len(hull) == 4 and 4 not in hull  # interior point excluded
    assert geo.polygon_area(xs[hull], ys[hull]) == pytest.approx(4.0)
    cx, cy = geo.centroid(xs[:4], ys[:4])
    assert (cx, cy) == (1.0, 1.0)
    assert geo.extend_box([(0, 0, 1, 1), (-1, 2, 3, 4)]) == (-1.0, 0.0, 3.0, 4.0)


def test_hull_degenerate_inputs():
    assert list(geo.convex_hull(np.array([1.0]), np.array([2.0]))) == [0]
    two = geo.convex_hull(np.array([0.0, 1.0]), np.array([0.0, 1.0]))
    assert len(two) == 2


def test_segment_intersections_matches_oracle(spark):
    assert_matches_oracle(
        entrymod.queries()["segment_intersections"](spark, None),
        entrymod.oracle_sql()["segment_intersections"],
    )


def test_trip_extent_matches_oracle(spark):
    from conftest import SF_DIR

    assert_matches_oracle(
        entrymod.queries()["trip_extent"](spark, SF_DIR),
        entrymod.oracle_sql()["trip_extent"],
    )


def test_alt_name_simi_matches_oracle(spark):
    assert_matches_oracle(
        entrymod.queries()["alt_name_simi"](spark, None),
        entrymod.oracle_sql()["alt_name_simi"],
    )
    # alt-name path is decisive: simi varies with node parity
    got = entrymod.queries()["alt_name_simi"](spark, None).toPandas()
    assert set(got["simi"]) == {0.0, 1.0}


def test_self_edges_matches_oracle(spark):
    assert_matches_oracle(
        entrymod.queries()["self_edges"](spark, None),
        entrymod.oracle_sql()["self_edges"],
    )
    got = entrymod.queries()["self_edges"](spark, None).toPandas()
    assert len(got) > 0
    assert (got["src"] == got["dst"]).all()


def test_wkt_roundtrip_oracle(spark):
    from pfaedle_spark import datagen
    from pfaedle_spark.operators import geomops
    from tests.conftest import assert_matches_oracle

    df = geomops.wkt_roundtrip(datagen.edges(spark))
    assert_matches_oracle(df, geomops.wkt_roundtrip_sql())
    # parsed length equals the original edge length exactly
    row = df.limit(1).collect()[0]
    assert row["wkt"].startswith("LINESTRING (")


def test_trip_hull_matches_oracle(spark):
    from conftest import SF_DIR

    assert_matches_oracle(
        entrymod.queries()["trip_hull"](spark, SF_DIR),
        entrymod.oracle_sql()["trip_hull"],
    )


def test_trip_hull_matches_numpy_hull(spark):
    """The relational hull-edge predicate must agree with the
    Andrew-monotone-chain reference (functions.geo.convex_hull)."""
    from conftest import SF_DIR
    from pfaedle_spark import datagen
    from pfaedle_spark.operators import geomops

    pts = datagen.points(spark, SF_DIR).select("trip_id", "x", "y").collect()
    by_trip = {}
    for r in pts:
        by_trip.setdefault(r.trip_id, []).append((r.x, r.y))
    for r in geomops.trip_hull(datagen.points(spark, SF_DIR)).collect():
        xs = np.array([p[0] for p in by_trip[r.trip_id]])
        ys = np.array([p[1] for p in by_trip[r.trip_id]])
        hull = geo.convex_hull(xs, ys)
        assert r.n_hull == len(hull)
        assert r.hull_area == pytest.approx(geo.polygon_area(xs[hull], ys[hull]))


def test_hull_prefilter_keeps_hull_and_prunes(spark):
    """Akl–Toussaint survivors contain every hull vertex (so the cubic
    step sees everything it needs) while pruning the bulk of a random
    cloud (the scale claim: the cubic term runs on O(hull) points)."""
    from pfaedle_spark.operators import geomops

    rng = np.random.RandomState(7)
    n = 400
    xs = rng.randint(0, 1 << 17, n).astype(float)
    ys = rng.randint(0, 1 << 17, n).astype(float)
    rows = [
        {"trip_id": "t0", "id": int(i), "x": float(xs[i]), "y": float(ys[i])}
        for i in range(n)
    ]
    p = spark.createDataFrame(rows).select("trip_id", "id", "x", "y")
    surv = {r.id for r in geomops._hull_survivors(p).collect()}
    hull_ids = set(geo.convex_hull(xs, ys).tolist())
    assert hull_ids <= surv
    # uniform-in-square is the prefilter's worst natural case (the
    # extreme quad covers ~half the square) — expect roughly half
    # pruned, i.e. ~8x off the cubic term; real GPS clouds prune more
    assert len(surv) <= n // 2 + n // 10


def test_box_overlaps_matches_oracle(spark):
    from conftest import SF_DIR

    assert_matches_oracle(
        entrymod.queries()["box_overlaps"](spark, SF_DIR),
        entrymod.oracle_sql()["box_overlaps"],
    )


def test_box_overlaps_one_image_trip_level_zero(spark, tmp_path):
    """A one-image trip has a zero-span raw box; padded it is still far
    below one cell, so it indexes at level 0 — and box_overlaps keeps
    matching its oracle with such trips in the input."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from conftest import SF_DIR, TABLES
    from pfaedle_spark import datagen
    from pfaedle_spark.operators import geomops

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    # 20 full trips of 8 images, then 40 trips of one image each
    docs = docs[(docs["doc_id"] < 160) | ((docs["doc_id"] < 480) & (docs["doc_id"] % 8 == 0))]
    docs.to_parquet(tmp_path / "documents.parquet", index=False)
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{SF_DIR}/{t}.parquet", tmp_path / f"{t}.parquet")
    sf = str(tmp_path)

    ext = geomops.trip_extent(datagen.points(spark, sf)).filter("n_points = 1")
    padded = F.greatest(F.col("xmax_pad") - F.col("xmin_pad"), F.col("ymax_pad") - F.col("ymin_pad"))
    raw = F.greatest(F.col("xmax") - F.col("xmin"), F.col("ymax") - F.col("ymin"))
    levels = ext.select(
        raw.alias("raw"),
        geomops.native_level(raw, 8).alias("k_raw"),
        geomops.native_level(padded, 8).alias("k_pad"),
    ).toPandas()
    assert len(levels) == 40
    assert (levels["raw"] == 0.0).all()
    assert (levels["k_raw"] == 0).all() and (levels["k_pad"] == 0).all()

    spans = spark.createDataFrame(
        [(0.0,), (200.0,), (2000.0,), (2001.0,), (1e12,)], "span double"
    )
    got = spans.select(geomops.native_level(F.col("span"), 5).alias("k")).toPandas()
    assert got["k"].tolist() == [0, 0, 0, 1, 4]

    out = entrymod.queries()["box_overlaps"](spark, sf)
    one_image = {f"trip_{d // 8}" for d in range(160, 480, 8)}
    pairs = out.toPandas()
    assert (pairs["a_trip"].isin(one_image) | pairs["b_trip"].isin(one_image)).any()
    assert_matches_oracle(out, entrymod.oracle_sql()["box_overlaps"], sf_dir=sf)
