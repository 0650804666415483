"""Checkpoint/resume: per-partition lineage + metrics (north rule)."""

import json
import shutil
import sys
import threading
import time

import pytest

from conftest import SF_DIR
from pfaedle_spark.plans.checkpoint import CheckpointedPipeline, Stage, checkpointed_flagship


def test_flagship_checkpoints_and_resumes(spark, tmp_path):
    root = str(tmp_path / "cp")

    tiles1, cp1 = checkpointed_flagship(spark, SF_DIR, root)
    n1 = tiles1.count()
    assert n1 > 0
    assert cp1.computed == ["points", "edges", "candidates", "viterbi", "tiles"]
    assert cp1.skipped == []

    # manifest: every stage complete, with lineage + per-partition stats
    entries = [json.loads(line) for line in open(f"{root}/MANIFEST.jsonl")]
    by_stage = {e["stage"]: e for e in entries}
    assert by_stage["candidates"]["inputs"] == ["points", "edges"]
    for e in entries:
        assert e["status"] == "complete"
        assert e["n_rows"] == sum(p["rows"] for p in e["partitions"])
        assert all(p["bytes"] > 0 for p in e["partitions"])

    # "kill + rerun": a fresh run resumes every stage from checkpoint
    tiles2, cp2 = checkpointed_flagship(spark, SF_DIR, root)
    assert cp2.computed == []
    assert cp2.skipped == ["points", "edges", "candidates", "viterbi", "tiles"]
    assert tiles2.count() == n1

    # partial failure: losing one mid-pipeline checkpoint recomputes it
    # and (lineage cascade) its downstream stages; upstream stays resumed
    shutil.rmtree(f"{root}/viterbi")
    tiles3, cp3 = checkpointed_flagship(spark, SF_DIR, root)
    assert cp3.computed == ["viterbi", "tiles"]
    assert cp3.skipped == ["points", "edges", "candidates"]
    assert tiles3.count() == n1


def test_invalidate_forces_recompute(spark, tmp_path):
    root = str(tmp_path / "cp2")
    cp = CheckpointedPipeline(spark, root)
    df = cp.stage("ten", lambda: spark.range(10).toDF("n"))
    assert df.count() == 10 and cp.computed == ["ten"]

    cp2 = CheckpointedPipeline(spark, root)
    cp2.invalidate("ten")
    cp2.stage("ten", lambda: spark.range(10).toDF("n"))
    assert cp2.computed == ["ten"]


def test_lifecycle_checkpoints_and_resumes(spark, tmp_path):
    """The composed §3.1 chain: graph build -> snap/splits -> collapse ->
    components -> candidates -> full Viterbi -> shapes -> GTFS sink,
    resumable at stage granularity; shapes rows survive the round trip."""
    import os

    from pfaedle_spark.plans.lifecycle import checkpointed_lifecycle

    root = str(tmp_path / "lc")
    shapes1, cp1 = checkpointed_lifecycle(spark, SF_DIR, root)
    n1 = shapes1.count()
    assert n1 > 0
    assert cp1.computed == [
        "snaps", "graph_nodes", "graph_edges", "components",
        "candidates", "viterbi", "shapes", "gtfs_shapes", "gtfs_tables",
        "gtfs_feed",
    ]
    # the S5 sink wrote the COMPLETE fixed-name GTFS feed; shapes row
    # count matches the assembled result
    feed = os.path.join(root, "feed", "shapes.txt")
    with open(feed) as f:
        assert sum(1 for _ in f) == n1 + 1  # header
    from pfaedle_spark.sources import gtfs as _g

    for t in ["stops", "trips", "stop_times"] + _g.PASS_THROUGH:
        assert os.path.exists(os.path.join(root, "feed", f"{t}.txt")), t
    # pass-through fidelity end-to-end: the calendar a real feed carries
    # comes out of the lifecycle sink bit-identical
    cal_in = sorted(
        tuple(r)
        for r in _g.synthetic_feed(spark, SF_DIR)["calendar"].collect()
    )
    cal_out = sorted(
        tuple(r)
        for r in _g.read_table(spark, os.path.join(root, "feed"),
                               "calendar").collect()
    )
    assert cal_in == cal_out

    # kill + rerun: everything resumes, nothing recomputes — including
    # the feed sinks (their own effect stages) and the transitions build
    # (deferred into the DP stage lambdas), so a clean resume is
    # metadata-only
    shapes2, cp2 = checkpointed_lifecycle(spark, SF_DIR, root)
    assert cp2.computed == [] and len(cp2.skipped) == 10
    assert "gtfs_feed" in cp2.skipped
    assert shapes2.count() == n1

    # losing the viterbi checkpoint recomputes only the DP tail and
    # shapes.txt; the (expensive) graph-construction prefix and the
    # input feed's tables stay resumed
    shutil.rmtree(f"{root}/viterbi")
    shapes3, cp3 = checkpointed_lifecycle(spark, SF_DIR, root)
    assert cp3.computed == ["viterbi", "shapes", "gtfs_shapes", "gtfs_feed"]
    assert "gtfs_tables" in cp3.skipped
    assert set(cp3.skipped) == {
        "snaps", "graph_nodes", "graph_edges", "components", "candidates",
        "gtfs_tables",
    }
    assert shapes3.count() == n1


def test_lifecycle_graph_composed_once_on_partial_resume(spark, tmp_path, monkeypatch):
    """graph_nodes and graph_edges run at once when both are lost but
    snaps is complete; they share ONE composition of the road graph."""
    from pfaedle_spark.plans import lifecycle

    root = str(tmp_path / "lc")
    lifecycle.checkpointed_lifecycle(spark, SF_DIR, root)
    shutil.rmtree(f"{root}/graph_nodes")
    shutil.rmtree(f"{root}/graph_edges")
    calls = []
    orig = lifecycle.composed_graph

    def counted(s):
        calls.append(threading.get_ident())
        time.sleep(0.5)  # widen the window in which the two stages overlap
        return orig(s)

    monkeypatch.setattr(lifecycle, "composed_graph", counted)
    _, cp = lifecycle.checkpointed_lifecycle(spark, SF_DIR, root)
    assert len(calls) == 1
    assert cp.computed[:2] == ["graph_nodes", "graph_edges"]
    assert "snaps" in cp.skipped


# -- the stage-DAG runner, on toy spark.range pipelines -------------------

def _range(spark, n=3):
    return spark.range(n).toDF("n")


def _manifest(root):
    with open(f"{root}/MANIFEST.jsonl") as f:
        return [json.loads(line) for line in f]


def test_run_overlaps_independent_stages(spark, tmp_path):
    """Two stages with no dependency run at once: each waits at a
    two-party barrier for the other. One after the other, the barrier
    breaks."""
    def stages(barrier):
        def meet():
            barrier.wait()
            return _range(spark)
        return [Stage("a", meet, ("documents",)), Stage("b", meet, ("documents",))]

    cp = CheckpointedPipeline(spark, str(tmp_path / "dag"))
    out = cp.run(stages(threading.Barrier(2, timeout=120)))
    assert cp.computed == ["a", "b"]
    assert out["a"].count() == out["b"].count() == 3

    seq = CheckpointedPipeline(spark, str(tmp_path / "seq"))
    with pytest.raises(threading.BrokenBarrierError):
        for s in stages(threading.Barrier(2, timeout=1)):
            seq.stage(s.name, s.fn, list(s.inputs))


def test_run_starts_dependent_after_input_manifest_line(spark, tmp_path):
    root = str(tmp_path / "dag")
    seen = []

    def b(a):
        seen.extend((e["stage"], e["status"]) for e in _manifest(root))
        return a.selectExpr("n * 2 AS m")

    def slow_a():
        time.sleep(0.5)
        return _range(spark)

    cp = CheckpointedPipeline(spark, root)
    out = cp.run([Stage("a", slow_a), Stage("b", b, ("a",))])
    assert seen == [("a", "complete")]
    assert sorted(r.m for r in out["b"].collect()) == [0, 2, 4]
    assert [e["inputs"] for e in _manifest(root)] == [[], ["a"]]


def test_run_lists_stages_in_declaration_order(spark, tmp_path):
    """``computed`` follows the declaration even when the first-declared
    stage finishes last."""
    root = str(tmp_path / "dag")
    cp = CheckpointedPipeline(spark, root)

    def slow():
        deadline = time.time() + 120
        while "fast" not in cp.computed and time.time() < deadline:
            time.sleep(0.05)
        return _range(spark)

    cp.run([Stage("slow", slow), Stage("fast", lambda: _range(spark))])
    assert [e["stage"] for e in _manifest(root)] == ["fast", "slow"]
    assert cp.computed == ["slow", "fast"]

    cp2 = CheckpointedPipeline(spark, root)
    cp2.run([Stage("slow", slow), Stage("fast", lambda: _range(spark))])
    assert cp2.computed == [] and cp2.skipped == ["slow", "fast"]


def test_run_failure_stops_dependents_and_resumes(spark, tmp_path):
    """A raising stage reaches the caller; its dependent never starts;
    neither gets a complete entry; a stage already running finishes, and
    a re-run resumes it."""
    root = str(tmp_path / "dag")
    called = []

    def boom():
        raise RuntimeError("boom")

    def dependent(a):
        called.append("b")
        return a

    def independent():
        time.sleep(0.5)  # still running when "a" raises
        return _range(spark)

    cp = CheckpointedPipeline(spark, root)
    with pytest.raises(RuntimeError, match="boom"):
        cp.run([Stage("a", boom), Stage("b", dependent, ("a",)), Stage("c", independent)])
    assert called == []
    assert [(e["stage"], e["status"]) for e in _manifest(root)] == [("c", "complete")]
    assert cp.computed == ["c"]

    cp2 = CheckpointedPipeline(spark, root)
    cp2.run([Stage("a", lambda: _range(spark)), Stage("b", dependent, ("a",)),
             Stage("c", independent)])
    assert called == ["b"]
    assert cp2.computed == ["a", "b"] and cp2.skipped == ["c"]


def test_run_rejects_input_naming_a_later_stage(spark, tmp_path):
    called = []
    cp = CheckpointedPipeline(spark, str(tmp_path / "dag"))
    with pytest.raises(ValueError, match="later"):
        cp.run([
            Stage("a", lambda b: called.append("a"), ("b",)),
            Stage("b", lambda: called.append("b")),
        ])
    assert called == [] and cp.computed == []


def test_run_bookkeeping_under_contention(spark, tmp_path):
    """Many more stage threads than cores, switching threads as often as
    the interpreter allows: no manifest line or list entry is lost."""
    root = str(tmp_path / "dag")
    names = [f"s{i:02d}" for i in range(32)]
    cp = CheckpointedPipeline(spark, root)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        cp.run([Stage(n, lambda: None, effect=True) for n in names])
    finally:
        sys.setswitchinterval(interval)
    assert sorted(e["stage"] for e in _manifest(root)) == names
    assert cp.computed == names and cp.skipped == []

    cp2 = CheckpointedPipeline(spark, root)
    cp2.run([Stage(n, lambda: None, effect=True) for n in names])
    assert cp2.computed == [] and cp2.skipped == names
