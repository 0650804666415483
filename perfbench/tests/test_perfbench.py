"""Tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import gen  # noqa: E402
import layertrace  # noqa: E402
import procstat  # noqa: E402
import run  # noqa: E402


def _digest(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


# ----------------------------------------------------------------------
# generator
# ----------------------------------------------------------------------

def test_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.write_documents(str(tmp_path / "a"), seed=5, n_docs=4_000)
    b = gen.write_documents(str(tmp_path / "b"), seed=5, n_docs=4_000)
    c = gen.write_documents(str(tmp_path / "c"), seed=6, n_docs=4_000)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


@pytest.mark.parametrize("seed", [0, 1, 17, 2**31 - 1])
def test_generator_block_is_trip_aligned(seed):
    t = gen.documents_table(seed, 800).to_pandas()
    ids = t["doc_id"]
    assert ids.iloc[0] % gen.TRIP_LEN == 0
    assert (ids.diff().dropna() == 1).all()
    assert len(t) % gen.TRIP_LEN == 0
    assert ids.max() < gen.MAX_DOC_ID
    words = {w for text in t["text"] for w in text.split()}
    assert words <= set(gen.VOCAB)
    n = t["text"].str.split().map(len)
    assert n.between(gen.MIN_WORDS, gen.MAX_WORDS).all()
    assert (t["n_chars"] == t["text"].str.len()).all()


def test_generator_schema_matches_testdata_documents(tmp_path):
    path = gen.write_documents(str(tmp_path), seed=3, n_docs=80)
    schema = pq.read_schema(path)
    assert [(f.name, str(f.type)) for f in schema] == [
        ("doc_id", "int64"), ("text", "string"), ("lang", "string"),
        ("source", "string"), ("n_chars", "int64"),
    ]


def test_generator_rejects_partial_trips():
    with pytest.raises(ValueError):
        gen.doc_block(1, 801)


# ----------------------------------------------------------------------
# span arithmetic
# ----------------------------------------------------------------------

def _span(i, parent, start, end, layer="x", py=(0.0, 0.0)):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer,
            "py_start": py[0], "py_end": py[1], "rows_out": 0}


def test_self_time_subtracts_direct_children_only():
    spans = [
        _span(0, None, 0.0, 10.0, layer=None),
        _span(1, 0, 1.0, 6.0),      # child of root
        _span(2, 1, 2.0, 4.0),      # grandchild: charged to 1, not to 0
        _span(3, 0, 7.0, 9.5),
    ]
    got = layertrace.self_values(spans, "start", "end")
    assert got == pytest.approx({0: 10.0 - 5.0 - 2.5, 1: 5.0 - 2.0, 2: 2.0, 3: 2.5})
    assert sum(got.values()) == pytest.approx(10.0)


def test_uncovered_merges_overlapping_cover():
    assert layertrace.uncovered((0.0, 10.0), []) == pytest.approx(10.0)
    assert layertrace.uncovered((0.0, 10.0), [(1, 3), (2, 4), (8, 12)]) == pytest.approx(5.0)
    assert layertrace.uncovered((0.0, 10.0), [(-5, 20)]) == pytest.approx(0.0)


def test_driver_time_excludes_children_and_jobs():
    spans = [_span(0, None, 0.0, 10.0, layer=None), _span(1, 0, 2.0, 5.0)]
    jobs = [(1.0, 3.0), (6.0, 7.0)]
    drv = layertrace.driver_times(spans, jobs)
    # root self part = [0,2) + [5,10); jobs cover 1..2 and 6..7 of it
    assert drv[0] == pytest.approx(7.0 - 1.0 - 1.0)
    # child [2,5): job covers 2..3
    assert drv[1] == pytest.approx(2.0)


def test_layer_metrics_attribute_groups_and_self_cpu():
    spans = [
        _span(0, None, 0.0, 10.0, layer=None, py=(0.0, 9.0)),
        _span(1, 0, 1.0, 6.0, layer="routing", py=(1.0, 6.0)),
        _span(2, 1, 2.0, 3.0, layer="cells", py=(2.0, 3.0)),
    ]
    spans[1]["rows_out"], spans[2]["rows_out"] = 40, 7
    group = dict(jobs=2, stages=3, tasks=12, exec_cpu_s=1.5, shuffle_write_mb=0.25, output_mb=0.0)
    log = {"groups": {"span-1": group}, "jobs": [], "task_failures": 0}
    m = layertrace.layer_metrics(spans, log)
    assert m["routing"]["wall_s"] == pytest.approx(4.0)
    assert m["routing"]["py_cpu_s"] == pytest.approx(4.0)
    assert m["routing"]["tasks"] == 12 and m["routing"]["rows_out"] == 40
    assert m["cells"]["wall_s"] == pytest.approx(1.0) and m["cells"]["jobs"] == 0
    assert m["dedup"] == dict.fromkeys(layertrace.LAYER_METRICS, 0.0)


# ----------------------------------------------------------------------
# process tree
# ----------------------------------------------------------------------

def test_summed_rss_skips_children_sharing_their_parents_pages():
    gb = 1 << 30
    stats = {  # pid -> (ppid, comm, cpu, rss, vsize)
        10: (1, "python3", 1.0, gb // 4, 2 * gb),
        11: (10, "java", 9.0, 2 * gb, 8 * gb),
        12: (11, "Executor task l", 0.0, 2 * gb, 8 * gb),  # spawned, not yet exec'd
        13: (11, "python3", 2.0, gb // 8, gb),             # worker daemon
        14: (13, "python3", 3.0, gb // 8, gb),             # fresh fork of it
        15: (13, "python3", 3.0, gb // 4, gb),             # a worker that did work
        20: (1, "other", 0.0, 5 * gb, 9 * gb),             # not in the tree
    }
    assert procstat.summed_rss(stats, 10) == gb // 4 + 2 * gb + gb // 8 + gb // 4


# ----------------------------------------------------------------------
# repetitions
# ----------------------------------------------------------------------

def test_failing_session_setup_marks_the_repetition_failed(tmp_path, monkeypatch):
    def new_session(event_log_dir):
        raise RuntimeError("no JVM")

    monkeypatch.setattr(run, "new_session", new_session)
    rec = run.one_rep("match", {"output": str(tmp_path / "out")}, oracle=dict, n_docs=8,
                      traced=False, sampler=None, extra_setups=0)
    assert len(rec["errors"]) == 1 and "no JVM" in rec["errors"][0]
    assert "setup_s" not in rec and "wall_s" not in rec


# ----------------------------------------------------------------------
# reported names == BENCHMARK.json
# ----------------------------------------------------------------------

def _bench_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _rep(traced: bool, wall: float) -> dict:
    layers = {ly: dict.fromkeys(layertrace.LAYER_METRICS, 1.0) for ly in layertrace.LAYERS}
    return {"traced": traced, "errors": [], "wall_s": wall, "cpu_s": 3.0,
            "peak_rss_mb": 900.0, "setup_s": 8.0, "warm_setups": [0.2, 0.3, 0.25],
            "layers": layers, "written_mb": 0.5, "task_failures": 0}


def test_end_to_end_names_and_units_match_benchmark_json():
    got = run.summarize_e2e([_rep(False, 10.0)], n_docs=1000)
    want = {m["name"]: m["unit"] for m in _bench_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["images_per_s"]["value"] == pytest.approx(100.0)
    assert got["setup_s"]["value"] == pytest.approx(0.25)


def test_per_layer_names_and_units_match_benchmark_json():
    got = run.summarize_trace([_rep(True, 12.0), _rep(False, 10.0)], n_docs=1000)
    want = {m["name"]: m["unit"] for m in _bench_json()["per_layer"]}
    assert {k: v["unit"] for k, v in got.items()} == want
    assert got["trace_overhead_s"]["value"] == pytest.approx(2.0)


def test_benchmark_json_workloads_are_cli_choices():
    names = [w["name"] for w in _bench_json()["workloads"]]
    assert names and set(names) <= set(run.WORKLOAD_NAMES)
