"""Per-layer spans for a traced repetition, recorded from outside the
program.

:class:`Tracer` replaces the public functions of each layer module (see
:data:`LAYER_FUNCS`) with wrappers for the duration of one repetition
and restores them afterwards; the program itself is not edited. Each
wrapper call opens a span that:

* records its name, layer, start, end and parent;
* runs its Spark jobs under its own job group, so the event log's
  task metrics can be attributed to the layer;
* materializes a lazy DataFrame result (``localCheckpoint(eager=True)``)
  before it closes, so the layer's execution counts toward the layer
  and not toward whichever consumer first runs it. A bare file scan
  is returned as is, since there is nothing to materialize and reading
  it in full is work the program does not do;
* reads the Python-worker CPU counter at both ends.

Row counting happens after the span closes, under a separate job group,
and its time is recorded as a layer-less child so no layer is charged
for it. A span's *self* value of any additive quantity is its own value
minus what its children cover (:func:`self_values`).
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import time

import procstat

# layer -> (module, attribute) pairs; "Class.method" patches a method
LAYER_FUNCS: dict[str, list[tuple[str, str]]] = {
    "datagen": [
        ("pfaedle_spark.datagen", f)
        for f in ("points", "edges", "nodes", "stations", "dedup_corpus", "images", "with_bytes")
    ],
    "candidates": [("pfaedle_spark.operators.candidates", "candidate_edges")],
    "routing": [("pfaedle_spark.operators.routing", "viterbi_align")],
    "cells": [("pfaedle_spark.operators.cells", "tile_assign")],
    "snap": [("pfaedle_spark.operators.snap", "snap_with_splits")],
    "graph_passes": [
        ("pfaedle_spark.operators.graph_passes", f)
        for f in ("fix_gaps", "delete_orphan_edges", "collapse_edges")
    ],
    "graph_ops": [
        ("pfaedle_spark.operators.graph_ops", f)
        for f in ("connected_components", "write_odir_edges")
    ],
    "edge_routing": [
        ("pfaedle_spark.operators.edge_routing", f)
        for f in ("build_variant_transitions", "viterbi_full", "shape_assembly", "directed_full_pdf")
    ],
    "lifecycle": [("pfaedle_spark.plans.lifecycle", "composed_graph")],
    "checkpoint": [
        ("pfaedle_spark.plans.checkpoint", f"CheckpointedPipeline.{m}")
        for m in ("stage", "effect_stage")
    ],
    "gtfs": [("pfaedle_spark.sources.gtfs", f) for f in ("write_table", "synthetic_feed")],
    "dedup": [("pfaedle_spark.operators.dedup", "dedup_chain")],
    "tiles": [("pfaedle_spark.operators.tiles", f) for f in ("tile_raster", "tile_pyramid")],
}
LAYERS = list(LAYER_FUNCS)
LAYER_METRICS = {
    "wall_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "exec_cpu_s": "s",
    "py_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "rows_out": "rows",
}
ROOT_GROUP = "bench-root"
COUNT_GROUP = "bench-rowcount"


# ----------------------------------------------------------------------
# span arithmetic (pure; unit-tested)
# ----------------------------------------------------------------------

def self_values(spans: list[dict], start_key: str, end_key: str) -> dict[int, float]:
    """span id -> its own ``end - start`` minus the same quantity summed
    over its direct children."""
    out = {s["id"]: s[end_key] - s[start_key] for s in spans}
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s[end_key] - s[start_key]
    return out


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def uncovered(interval: tuple[float, float], cover: list[tuple[float, float]]) -> float:
    """Length of ``interval`` not covered by any of ``cover``."""
    lo, hi = interval
    left = hi - lo
    for a, b in _merge(cover):
        left -= max(0.0, min(b, hi) - max(a, lo))
    return left


def driver_times(spans: list[dict], jobs: list[tuple[float, float]]) -> dict[int, float]:
    """span id -> time in its self part (not covered by its children)
    while no Spark job was running."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: uncovered((s["start"], s["end"]), kids.get(s["id"], []) + jobs)
        for s in spans
    }


# ----------------------------------------------------------------------
# event log
# ----------------------------------------------------------------------

def parse_event_log(path: str) -> dict:
    """Job intervals plus per-job-group jobs / stages / tasks / executor
    CPU / shuffle-write bytes / output bytes, and failed task count."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    jobs: list[tuple[float, float]] = []
    failures = 0

    def g(name: str) -> dict:
        return groups.setdefault(
            name,
            {"jobs": 0, "stages": 0, "tasks": 0, "exec_cpu_s": 0.0,
             "shuffle_write_mb": 0.0, "output_mb": 0.0},
        )

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                g(grp)["jobs"] += 1
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000.0
            elif kind == "SparkListenerJobEnd":
                t0 = job_start.pop(ev["Job ID"], None)
                if t0 is not None:
                    jobs.append((t0, ev["Completion Time"] / 1000.0))
            elif kind == "SparkListenerStageSubmitted":
                grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                stage_group[ev["Stage Info"]["Stage ID"]] = grp
            elif kind == "SparkListenerStageCompleted":
                g(stage_group.get(ev["Stage Info"]["Stage ID"], ""))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                acc = g(stage_group.get(ev["Stage ID"], ""))
                acc["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    failures += 1
                m = ev.get("Task Metrics") or {}
                acc["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["shuffle_write_mb"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 1e6
                )
                acc["output_mb"] += m.get("Output Metrics", {}).get("Bytes Written", 0) / 1e6
    return {"groups": groups, "jobs": jobs, "task_failures": failures}


def event_log_path(log_dir: str, app_id: str) -> str:
    hits = [p for p in glob.glob(os.path.join(log_dir, "*" + app_id + "*"))
            if not p.endswith(".inprogress")]
    if len(hits) != 1:
        raise RuntimeError(f"expected one finished event log for {app_id}, found {hits}")
    return hits[0]


# ----------------------------------------------------------------------
# tracer
# ----------------------------------------------------------------------

def _is_file_scan(df) -> bool:
    """True for a bare ``spark.read`` of files (e.g. a checkpoint stage's
    return): its data is already on disk, and the program's consumers
    scan it lazily with column pruning."""
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName() == "LogicalRelation"


def _materialize(res):
    from pyspark.sql import DataFrame

    if isinstance(res, DataFrame):
        return res if _is_file_scan(res) else res.localCheckpoint(eager=True)
    if isinstance(res, tuple):
        return tuple(_materialize(r) for r in res)
    return res


def _rows(res) -> int:
    from pyspark.sql import DataFrame

    if isinstance(res, DataFrame):
        return res.count()
    if isinstance(res, tuple):
        return sum(_rows(r) for r in res)
    if hasattr(res, "shape") and hasattr(res, "columns"):  # pandas
        return len(res)
    return 0


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _group(self) -> str:
        return f"span-{self._stack[-1]}" if self._stack else ROOT_GROUP

    def _open(self, layer: str | None, name: str) -> dict:
        sp = {
            "id": len(self.spans), "layer": layer, "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "py_start": procstat.python_worker_cpu_s(),
            "rows_out": 0,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        self.sc.setJobGroup(self._group(), name)
        return sp

    def close(self, sp: dict) -> None:
        sp["py_end"] = procstat.python_worker_cpu_s()
        sp["end"] = time.time()
        self._stack.pop()
        self.sc.setJobGroup(self._group(), "")

    def call(self, layer: str, name: str, fn, args, kwargs):
        sp = self._open(layer, name)
        try:
            res = _materialize(fn(*args, **kwargs))
        finally:
            self.close(sp)
        # bookkeeping: a layer-less child of the caller's span, so the
        # caller's self time excludes it
        book = {"id": len(self.spans), "layer": None, "name": "rowcount",
                "parent": sp["parent"], "start": time.time(), "rows_out": 0}
        self.sc.setJobGroup(COUNT_GROUP, "rowcount")
        sp["rows_out"] = _rows(res)
        self.sc.setJobGroup(self._group(), "")
        book["end"] = time.time()
        book["py_start"] = book["py_end"] = 0.0
        self.spans.append(book)
        return res

    def root(self, name: str) -> dict:
        return self._open(None, name)

    # -- patching --------------------------------------------------------
    def install(self) -> None:
        for layer, funcs in LAYER_FUNCS.items():
            for mod_name, attr in funcs:
                owner = importlib.import_module(mod_name)
                *cls, fname = attr.split(".")
                if cls:
                    owner = getattr(owner, cls[0])
                orig = owner.__dict__[fname]
                self._saved.append((owner, fname, orig))
                setattr(owner, fname, self._wrap(layer, attr, orig))

    def uninstall(self) -> None:
        while self._saved:
            owner, fname, orig = self._saved.pop()
            setattr(owner, fname, orig)

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.call(layer, name, fn, args, kwargs)

        return traced


def layer_output_mb(spans: list[dict], log: dict, layer: str) -> float:
    """MB the layer's own tasks wrote to sinks (output metrics)."""
    return sum(
        log["groups"].get(f"span-{s['id']}", {}).get("output_mb", 0.0)
        for s in spans
        if s["layer"] == layer
    )


def layer_metrics(spans: list[dict], log: dict) -> dict[str, dict[str, float]]:
    """layer -> the nine LAYER_METRICS for one traced repetition."""
    wall = self_values(spans, "start", "end")
    py = self_values(spans, "py_start", "py_end")
    drv = driver_times(spans, log["jobs"])
    by_id = {s["id"]: s for s in spans}
    out = {layer: dict.fromkeys(LAYER_METRICS, 0.0) for layer in LAYERS}
    for s in spans:
        layer = s["layer"]
        if layer is None:
            continue
        m = out[layer]
        m["wall_s"] += wall[s["id"]]
        m["driver_s"] += drv[s["id"]]
        m["py_cpu_s"] += py[s["id"]]
        parent = by_id.get(s["parent"])
        if parent is None or parent["layer"] != layer:
            m["rows_out"] += s["rows_out"]
        grp = log["groups"].get(f"span-{s['id']}")
        if grp:
            for k in ("jobs", "stages", "tasks", "exec_cpu_s", "shuffle_write_mb"):
                m[k] += grp[k]
    return out
