"""The benchmark workloads. Each calls the program's public functions
on a generated ``documents.parquet`` and ends at a real sink (parquet,
or the lifecycle's checkpoint parquet plus GTFS CSV feed).

``BENCHMARK.json`` lists ``match_corpus`` and ``lifecycle``: the run
budget does not fit a separate ``corpus`` run (README.md). ``match`` and
``corpus`` stay runnable on their own for local investigation.

Module attributes are looked up at call time, so a traced repetition
sees the tracer's wrappers (layertrace.py) without any change here.
"""

from __future__ import annotations

import os

from pfaedle_spark import datagen
from pfaedle_spark.operators import candidates, cells, dedup, graph_ops, routing, tiles
from pfaedle_spark.plans import lifecycle

# input rows (images) per workload, a multiple of TRIP_LEN
N_DOCS = {"match": 20_000, "corpus": 20_000, "match_corpus": 20_000, "lifecycle": 512}


def match(spark, sf_dir: str, out_dir: str) -> None:
    """Flagship chain: points -> candidate cell join -> node-state
    Viterbi -> tile assignment -> parquet ``<out_dir>/match``."""
    pts = datagen.points(spark, sf_dir)
    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(pts, eds)
    aligned = routing.viterbi_align(cand, graph_ops.write_odir_edges(eds))
    out = cells.tile_assign(aligned.join(pts.select("image_id", "x", "y"), "image_id"))
    out.write.mode("overwrite").parquet(os.path.join(out_dir, "match"))


def lifecycle_run(spark, sf_dir: str, out_dir: str) -> None:
    """Cold checkpointed lifecycle into an empty root: graph passes,
    components, candidates, edge-state DP, shapes, GTFS feed."""
    lifecycle.checkpointed_lifecycle(spark, sf_dir, out_dir)


def corpus(spark, sf_dir: str, out_dir: str) -> None:
    """Control workload (no routing or graph code): dedup chain over the
    planted-duplicate corpus, raster tiles + zoom pyramid over the
    generated pixel payloads."""
    dedup.dedup_chain(datagen.dedup_corpus(spark, sf_dir)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "dedup")
    )
    imgs = datagen.with_bytes(datagen.images(spark, sf_dir))
    pts = datagen.points(spark, sf_dir).select("image_id", "x", "y")
    tiles.tile_pyramid(tiles.tile_raster(imgs, pts)).write.mode("overwrite").parquet(
        os.path.join(out_dir, "tiles")
    )


def match_corpus(spark, sf_dir: str, out_dir: str) -> None:
    """The flagship chain, then the corpus stages over the same images."""
    match(spark, sf_dir, out_dir)
    corpus(spark, sf_dir, out_dir)


WORKLOADS = {
    "match": match,
    "corpus": corpus,
    "match_corpus": match_corpus,
    "lifecycle": lifecycle_run,
}
