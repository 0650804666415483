"""S1/S5 — GTFS CSV scan + sink with the reference's fixed schemas.

Reference: header-driven CSV with required/optional columns,
``src/libs/gtfs/src/gtfs/access/feed_reader.cpp:82-169`` (reader) and
``feed_writter.cpp:11-60,159-185`` (fixed writer headers). Spark:
``spark.read.csv(header=True)`` against an explicit ``StructType`` per
table — missing optional columns are added as typed nulls, surplus
columns are dropped, exactly the reference's defaulting behavior.

GTFS times ("HH:MM:SS", hours may exceed 24) parse to seconds-of-day
integers (``gtfs/time.cpp`` semantics) — pure column expressions.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# fixed GTFS schemas (subset the reference reads; feed.h:107-138)
SCHEMAS: dict[str, T.StructType] = {
    "agency": T.StructType(
        [
            T.StructField("agency_id", T.StringType()),
            T.StructField("agency_name", T.StringType()),
            T.StructField("agency_url", T.StringType()),
            T.StructField("agency_timezone", T.StringType()),
        ]
    ),
    "stops": T.StructType(
        [
            T.StructField("stop_id", T.StringType(), False),
            T.StructField("stop_name", T.StringType()),
            T.StructField("stop_lat", T.DoubleType()),
            T.StructField("stop_lon", T.DoubleType()),
            T.StructField("zone_id", T.StringType()),
            T.StructField("parent_station", T.StringType()),
            T.StructField("platform_code", T.StringType()),
        ]
    ),
    "routes": T.StructType(
        [
            T.StructField("route_id", T.StringType(), False),
            T.StructField("agency_id", T.StringType()),
            T.StructField("route_short_name", T.StringType()),
            T.StructField("route_long_name", T.StringType()),
            T.StructField("route_type", T.IntegerType()),
        ]
    ),
    "trips": T.StructType(
        [
            T.StructField("route_id", T.StringType()),
            T.StructField("service_id", T.StringType()),
            T.StructField("trip_id", T.StringType(), False),
            T.StructField("block_id", T.StringType()),
            T.StructField("shape_id", T.StringType()),
        ]
    ),
    "stop_times": T.StructType(
        [
            T.StructField("trip_id", T.StringType(), False),
            T.StructField("arrival_time", T.StringType()),
            T.StructField("departure_time", T.StringType()),
            T.StructField("stop_id", T.StringType()),
            T.StructField("stop_sequence", T.LongType()),
            T.StructField("shape_dist_traveled", T.DoubleType()),
        ]
    ),
    "shapes": T.StructType(
        [
            T.StructField("shape_id", T.StringType(), False),
            T.StructField("shape_pt_lat", T.DoubleType()),
            T.StructField("shape_pt_lon", T.DoubleType()),
            T.StructField("shape_pt_sequence", T.LongType()),
            T.StructField("shape_dist_traveled", T.DoubleType()),
        ]
    ),
    # ---- pass-through tables: not consulted by matching, but a real
    # feed carries them and the reference's writer re-emits every one
    # with a fixed header (feed.h:31-38,124-132;
    # feed_writter.cpp:63-125) — dropping them silently loses the
    # service calendar on a feed round-trip.
    "calendar": T.StructType(
        [
            T.StructField("service_id", T.StringType(), False),
            T.StructField("monday", T.IntegerType()),
            T.StructField("tuesday", T.IntegerType()),
            T.StructField("wednesday", T.IntegerType()),
            T.StructField("thursday", T.IntegerType()),
            T.StructField("friday", T.IntegerType()),
            T.StructField("saturday", T.IntegerType()),
            T.StructField("sunday", T.IntegerType()),
            T.StructField("start_date", T.StringType()),
            T.StructField("end_date", T.StringType()),
        ]
    ),
    "calendar_dates": T.StructType(
        [
            T.StructField("service_id", T.StringType(), False),
            T.StructField("date", T.StringType()),
            T.StructField("exception_type", T.IntegerType()),
        ]
    ),
    "fare_attributes": T.StructType(
        [
            T.StructField("fare_id", T.StringType(), False),
            T.StructField("price", T.DoubleType()),
            T.StructField("currency_type", T.StringType()),
            T.StructField("payment_method", T.IntegerType()),
            T.StructField("transfers", T.IntegerType()),
            T.StructField("agency_id", T.StringType()),
            T.StructField("transfer_duration", T.IntegerType()),
        ]
    ),
    "fare_rules": T.StructType(
        [
            T.StructField("fare_id", T.StringType(), False),
            T.StructField("route_id", T.StringType()),
            T.StructField("origin_id", T.StringType()),
            T.StructField("destination_id", T.StringType()),
            T.StructField("contains_id", T.StringType()),
        ]
    ),
    "frequencies": T.StructType(
        [
            T.StructField("trip_id", T.StringType(), False),
            T.StructField("start_time", T.StringType()),
            T.StructField("end_time", T.StringType()),
            T.StructField("headway_secs", T.IntegerType()),
            T.StructField("exact_times", T.IntegerType()),
        ]
    ),
    "transfers": T.StructType(
        [
            T.StructField("from_stop_id", T.StringType(), False),
            T.StructField("to_stop_id", T.StringType()),
            T.StructField("transfer_type", T.IntegerType()),
            T.StructField("min_transfer_time", T.IntegerType()),
        ]
    ),
    "feed_info": T.StructType(
        [
            T.StructField("feed_publisher_name", T.StringType()),
            T.StructField("feed_publisher_url", T.StringType()),
            T.StructField("feed_lang", T.StringType()),
            T.StructField("default_lang", T.StringType()),
            T.StructField("feed_start_date", T.StringType()),
            T.StructField("feed_end_date", T.StringType()),
            T.StructField("feed_version", T.StringType()),
            T.StructField("feed_contact_email", T.StringType()),
            T.StructField("feed_contact_url", T.StringType()),
        ]
    ),
}

# tables the engine never consults: read -> carried verbatim -> written
PASS_THROUGH = [
    "calendar",
    "calendar_dates",
    "fare_attributes",
    "fare_rules",
    "frequencies",
    "transfers",
    "feed_info",
]


def gtfs_time_to_seconds(col) -> F.Column:
    """'HH:MM:SS' (H can exceed 24) -> seconds-of-day int, null-safe."""
    parts = F.split(col, ":")
    return (
        parts.getItem(0).cast("long") * 3600
        + parts.getItem(1).cast("long") * 60
        + parts.getItem(2).cast("long")
    )


def read_table(spark: SparkSession, feed_dir: str, name: str) -> DataFrame:
    """Read one GTFS table; align to the fixed schema (add missing
    optional columns as nulls, drop unknown ones, cast types)."""
    schema = SCHEMAS[name]
    path = os.path.join(feed_dir, f"{name}.txt")
    raw = spark.read.csv(path, header=True)  # header-driven, all strings
    cols = []
    for field in schema.fields:
        if field.name in raw.columns:
            cols.append(F.col(field.name).cast(field.dataType).alias(field.name))
        else:
            cols.append(F.lit(None).cast(field.dataType).alias(field.name))
    out = raw.select(*cols)
    if name == "stop_times":
        out = out.withColumn(
            "arrival_s", gtfs_time_to_seconds(F.col("arrival_time"))
        ).withColumn("departure_s", gtfs_time_to_seconds(F.col("departure_time")))
    return out


def read_feed(spark: SparkSession, feed_dir: str) -> dict[str, DataFrame]:
    """Full feed read (only tables present on disk)."""
    out = {}
    for name in SCHEMAS:
        if os.path.exists(os.path.join(feed_dir, f"{name}.txt")):
            out[name] = read_table(spark, feed_dir, name)
    return out


def write_table(
    df: DataFrame, feed_dir: str, name: str, single_file: bool = True
) -> None:
    """S5: fixed-header CSV sink — a DISTRIBUTED ``df.write.csv``
    (executors write; the driver never collects rows — a ``toPandas``
    here is an OOM at 10^12 rows). ``single_file=True`` coalesces to one
    partition and renames the part file to the reference's fixed
    ``<table>.txt`` contract; at scale pass False and ship the
    directory."""
    import glob
    import shutil

    schema = SCHEMAS[name]
    out = df.select(*[c.name for c in schema.fields if c.name in df.columns])
    os.makedirs(feed_dir, exist_ok=True)
    if not single_file:
        out.write.mode("overwrite").option("header", True).csv(
            os.path.join(feed_dir, name)
        )
        return
    tmp = os.path.join(feed_dir, f"_{name}_csv_tmp")
    out.coalesce(1).write.mode("overwrite").option("header", True).csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    shutil.move(part, os.path.join(feed_dir, f"{name}.txt"))
    shutil.rmtree(tmp)


def synthetic_feed(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Derive a GTFS-shaped feed from the synthetic world (stations ->
    stops, trips/points -> trips + stop_times) so the CSV round-trip has
    deterministic content."""
    from .. import datagen

    st = datagen.stations(spark)
    stops = st.select(
        "stop_id",
        "stop_name",
        (F.col("y") / 100000.0).alias("stop_lat"),
        (F.col("x") / 100000.0).alias("stop_lon"),
        F.lit(None).cast("string").alias("zone_id"),
        F.lit(None).cast("string").alias("parent_station"),
        (F.col("true_node_id") % 4).cast("string").alias("platform_code"),
    )
    pts = datagen.points(spark, sf_dir)
    trips = pts.select("trip_id").distinct().select(
        F.concat(F.lit("route_"), F.substring("trip_id", 6, 10)).alias("route_id"),
        F.lit("svc1").alias("service_id"),
        "trip_id",
        F.lit(None).cast("string").alias("block_id"),
        F.concat(F.lit("shp_"), F.substring("trip_id", 6, 10)).alias("shape_id"),
    )
    stop_times = pts.select(
        "trip_id",
        F.lit("08:00:00").alias("arrival_time"),
        F.lit("08:00:10").alias("departure_time"),
        F.concat(F.lit("stop_"), (F.col("doc_id") % 9).cast("string")).alias("stop_id"),
        F.col("seq").alias("stop_sequence"),
        F.lit(None).cast("double").alias("shape_dist_traveled"),
    )
    out = {"stops": stops, "trips": trips, "stop_times": stop_times}
    out.update(synthetic_pass_through(spark, trips, stops))
    return out


def synthetic_pass_through(
    spark: SparkSession, trips: DataFrame, stops: DataFrame
) -> dict[str, DataFrame]:
    """Deterministic pass-through tables derived from the feed's own
    ids — pure column arithmetic, so the round-trip oracle can rebuild
    the exact expected content."""
    tn = F.abs(F.hash("trip_id"))
    calendar = trips.select("service_id").distinct().select(
        "service_id",
        *[
            F.lit(1 if d != "sunday" else 0).cast("int").alias(d)
            for d in ("monday", "tuesday", "wednesday", "thursday",
                      "friday", "saturday", "sunday")
        ],
        F.lit("20260101").alias("start_date"),
        F.lit("20261231").alias("end_date"),
    )
    calendar_dates = trips.select("service_id").distinct().select(
        "service_id",
        F.lit("20260704").alias("date"),
        F.lit(2).cast("int").alias("exception_type"),
    )
    routes = trips.select("route_id").distinct()
    fare_attributes = routes.select(
        F.concat(F.lit("fare_"), "route_id").alias("fare_id"),
        (2.0 + (F.abs(F.hash("route_id")) % 4) * 0.25).alias("price"),
        F.lit("EUR").alias("currency_type"),
        F.lit(0).cast("int").alias("payment_method"),
        (F.abs(F.hash("route_id")) % 3).cast("int").alias("transfers"),
        F.lit("agency_1").alias("agency_id"),
        F.lit(3600).cast("int").alias("transfer_duration"),
    )
    fare_rules = routes.select(
        F.concat(F.lit("fare_"), "route_id").alias("fare_id"),
        "route_id",
        F.lit(None).cast("string").alias("origin_id"),
        F.lit(None).cast("string").alias("destination_id"),
        F.lit(None).cast("string").alias("contains_id"),
    )
    frequencies = trips.filter(tn % 3 == 0).select(
        "trip_id",
        F.lit("06:00:00").alias("start_time"),
        F.lit("22:00:00").alias("end_time"),
        (300 + (tn % 5) * 60).cast("int").alias("headway_secs"),
        F.lit(0).cast("int").alias("exact_times"),
    )
    s = stops.select("stop_id")
    transfers = (
        s.alias("a")
        .join(s.alias("b"), F.expr("a.stop_id < b.stop_id"))
        .filter((F.abs(F.hash("a.stop_id", "b.stop_id")) % 7) == 0)
        .select(
            F.col("a.stop_id").alias("from_stop_id"),
            F.col("b.stop_id").alias("to_stop_id"),
            F.lit(2).cast("int").alias("transfer_type"),
            (60 + F.abs(F.hash("a.stop_id")) % 240).cast("int").alias(
                "min_transfer_time"
            ),
        )
    )
    # one row through Arrow (a LocalTableScan); a Python list would be
    # an ExistingRDD scan, which starts a Python worker pool to write it
    feed_info = spark.createDataFrame(
        pd.DataFrame(
            [(
                "pfaedle_spark synthetic", "feed-url-placeholder",
                "en", "en", "20260101", "20261231", "r5",
                "feed-contact-placeholder", "feed-contact-url-placeholder",
            )],
            columns=SCHEMAS["feed_info"].names,
        ),
        SCHEMAS["feed_info"],
    )
    return {
        "calendar": calendar,
        "calendar_dates": calendar_dates,
        "fare_attributes": fare_attributes,
        "fare_rules": fare_rules,
        "frequencies": frequencies,
        "transfers": transfers,
        "feed_info": feed_info,
    }
