"""Physical-plan audits: the plans we want, not just plans that pass.

Asserts the properties SCALING.md promises: relational hot paths stay
JVM-side (no BatchEvalPython / row-at-a-time Python), column pruning
reaches the parquet scan, the graph side of spatial joins broadcasts,
and narrow ops stay shuffle-free.
"""

import contextlib
import io

import __spark_entry__ as entrymod
from conftest import SF_DIR


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _q(name, spark):
    return entrymod.queries()[name](spark, SF_DIR)


def test_relational_queries_have_no_python_eval(spark):
    for name in [
        "points_derive", "tile_assign", "edge_cells", "candidates_knn",
        "snap_stations", "trip_hops", "cum_dist", "node_degrees",
        "exact_dedup", "minhash_pairs", "text_stats", "lang_id",
        "ann_brute", "maxspeed_parse", "name_similarity", "tiles_payload",
    ]:
        plan = plan_of(_q(name, spark))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "PythonUDF" not in plan, f"{name} uses row-at-a-time Python"


def test_dedup_chain_plan_is_array_native(spark):
    """The chain's scoring stage must carry per-doc ARRAYS through two
    joins and score with array expressions — not re-explode 64 sig rows
    + |shingles| rows per doc into a cascade of small AQE stages (the
    shape that measured 0.57 tail scaling; SCALING.md round-4 notes).
    Also: no row-at-a-time Python in the chain. Its only Python is the
    one Arrow batch kernel that builds the per-doc arrays, which this
    plan reads back from their checkpoint."""
    plan = plan_of(_q("dedup_chain", spark))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "array_intersect" in plan and "zip_with" in plan
    # the scoring side reads the checkpointed array table directly: no
    # Generate (explode) anywhere in the final plan — per pair the join
    # moves 2 arrays, never 64 sig rows + |shingles| shingle rows
    assert "Generate" not in plan


def test_dedup_doc_arrays_are_one_arrow_batch_kernel(spark):
    """The per-doc shingle / MinHash / band arrays are built by one
    Arrow batch kernel, not by higher-order-function lambdas that the
    JVM evaluates interpreted once per shingle x perm."""
    from pfaedle_spark import datagen
    from pfaedle_spark.operators import dedup

    plan = plan_of(dedup._doc_array_rows(datagen.dedup_corpus(spark, SF_DIR)))
    assert "MapInArrow" in plan
    for hof in ("lambdafunction", "aggregate(", "zip_with", "transform("):
        assert hof not in plan, hof


def test_tile_assign_is_narrow(spark):
    """Pure projection: no exchange, no aggregate — pushdown-friendly."""
    plan = plan_of(_q("tile_assign", spark))
    assert "Exchange" not in plan


def test_points_scan_prunes_columns(spark):
    """The documents scan for points must not read `text`/`lang` etc."""
    plan = plan_of(_q("points_derive", spark))
    scan = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan, plan
    assert "text" not in scan[0] and "lang" not in scan[0]


def test_candidates_joins_broadcast_graph_side(spark):
    """The edge (graph) side of the spatial join broadcasts — the big
    observation table is never shuffled for the join itself."""
    plan = plan_of(_q("candidates_knn", spark))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_exact_dedup_has_partial_aggregation(spark):
    """Map-side combine before the shuffle (HashAggregate x2)."""
    plan = plan_of(_q("exact_dedup", spark))
    assert plan.count("HashAggregate") >= 2


def test_grouped_dp_keeps_explicit_partitioning(spark):
    """The Viterbi stage repartitions by the explicit trip BUCKET key
    (a user-specified repartition that AQE may not coalesce away; the
    bucket amortizes the per-group Arrow constant across trips, see
    routing.bucketed_apply). Built from the operator directly: the
    entry-point query serves a session-memoized localCheckpoint (Scan
    ExistingRDD) whose plan no longer shows the DP stage."""
    from pfaedle_spark import datagen
    from pfaedle_spark.operators import candidates, graph_ops, routing

    eds = datagen.edges(spark)
    cand = candidates.candidate_edges(datagen.points(spark, SF_DIR), eds)
    aligned = routing.viterbi_align(cand, graph_ops.write_odir_edges(eds))
    plan = plan_of(aligned)
    assert "FlatMapGroupsInPandas" in plan
    assert "hashpartitioning(_bucket" in plan


def test_lifecycle_candidates_broadcast_composed_graph(spark):
    """In the composed lifecycle the candidate join's edge side is the
    POST-collapse graph — still geography-sized, so it must broadcast
    exactly like the datagen edge side does."""
    from pfaedle_spark import datagen
    from pfaedle_spark.operators import candidates
    from pfaedle_spark.plans.lifecycle import composed_graph

    _, edges_f, _ = composed_graph(spark)
    cand = candidates.candidate_edges(datagen.points(spark, SF_DIR), edges_f)
    plan = plan_of(cand)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan


def test_new_relational_queries_stay_jvm_side(spark):
    """Round-3 additions keep the no-Python-in-relational-paths rule."""
    for name in ["edge_tracks", "candidate_penalties", "lifecycle_graph",
                 "greedy2_manhattan"]:
        plan = plan_of(_q(name, spark))
        assert "BatchEvalPython" not in plan, f"{name} fell off the JVM path"
        assert "PythonUDF" not in plan, f"{name} uses row-at-a-time Python"


def test_stream_candidates_is_stateless(spark, tmp_path):
    """The streaming J5 join must not register a state store: a
    stream-static equi-join is stateless, so the plan carries no
    StateStore operator (unbounded arrival rate, no watermark needed)."""
    from pfaedle_spark import datagen
    from pfaedle_spark.streaming import stream_tiles as st

    src = str(tmp_path / "ev_src")
    spark.read.parquet(f"{SF_DIR}/events.parquet").write.parquet(src)
    stream = st.stream_candidates(spark, src, datagen.edges(spark))
    rows = st.run_available_now(stream, str(tmp_path / "cp_plan"))
    assert rows  # drained fine without any state store directory
    import os

    state_dir = os.path.join(str(tmp_path / "cp_plan"), "state")
    assert not os.path.exists(state_dir), "stateless join created a state store"


def test_image_table_partition_pruning(spark, tmp_path):
    """The Iceberg DDL claims file-level pruning; the parquet fallback
    proves the same plan property: the bbox prefix predicate reaches the
    scan as a PARTITION filter (directories skipped at planning time),
    and the scan reads strictly fewer files than the full table."""
    from pfaedle_spark import constants as C
    from pfaedle_spark import datagen
    from pfaedle_spark.sources import iceberg as ice

    path = str(tmp_path / "images_part")
    imgs = datagen.with_bytes(datagen.images(spark, SF_DIR))
    ice.write_images_partitioned(imgs, path)

    pruned = ice.read_images_pruned(spark, path, 0.0, 3 * C.CELL - 1.0)
    plan = plan_of(pruned)
    assert "PartitionFilters" in plan and ice.CELL_X_COL in plan
    # directories actually skipped: the filtered scan touches fewer
    # files at RUNTIME (input_file_name sees post-pruning reads;
    # inputFiles() would report the unpruned relation)
    import pyspark.sql.functions as F

    def files_read(df):
        return {
            r[0] for r in df.select(F.input_file_name()).distinct().collect()
        }

    all_files = files_read(spark.read.parquet(path))
    kept_files = files_read(pruned)
    assert kept_files and len(kept_files) < len(all_files)
    assert all(f"{ice.CELL_X_COL}=" in f for f in kept_files)
    # and the pruned scan returns exactly the bbox rows
    want = (
        spark.read.parquet(path)
        .filter(f"phash % {C.COORD_MASK} < {3 * C.CELL}")
        .count()
    )
    assert pruned.count() == want > 0


def test_tile_pyramid_is_one_shuffle(spark):
    """The whole pyramid (zooms 0..3) must be ONE explode + ONE
    aggregation shuffle over the base raster — a per-level iteration
    would show one Exchange per zoom. The base raster's own groupBy and
    its doc/bytes join account for the rest; the pyramid itself adds
    exactly one hash-aggregate Exchange (keyed zoom, cell, px, py)."""
    import re

    def shuffles(plan: str) -> int:
        # shuffle exchanges only: "(N) Exchange" detail headers, which
        # exclude BroadcastExchange and appear once per node
        return len(re.findall(r"\(\d+\) Exchange\b", plan))

    base_plan = plan_of(_q("tile_raster", spark))
    pyr_plan = plan_of(_q("tile_pyramid", spark))
    added = shuffles(pyr_plan) - shuffles(base_plan)
    assert added == 1, f"pyramid adds {added} shuffles over the base raster"
    assert len(re.findall(r"\(\d+\) Generate\b", pyr_plan)) == 1


def test_corpus_gate_stays_jvm_side(spark):
    """The composed gate is three derivations of ONE documents scan
    joined on doc_id: no Python eval anywhere, and the final plan
    performs partial (map-side) aggregation for the dedup group."""
    plan = plan_of(_q("corpus_gate", spark))
    assert "BatchEvalPython" not in plan and "PythonUDF" not in plan
    assert "partial_" in plan or "HashAggregate" in plan
