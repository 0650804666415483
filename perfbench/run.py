#!/usr/bin/env python3
"""Closed-loop benchmark: one client, one batch job at a time, on
``local[<cpus>]`` in this process.

    python3 perfbench/run.py --workload {match_corpus,lifecycle,match,corpus} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. Each run generates its input from the
seed (gen.py) and computes the expected output with the DuckDB oracles
(check.py) while the first JVM starts. Every repetition then runs the
workload in a fresh JVM and SparkContext, as a ``spark-submit`` user
would, so no session memo or worker cache of an earlier repetition
serves it. Repetitions start until ``--seconds`` have passed (at least
one). Every repetition's output is checked; one that raises or
mismatches counts as failed, and so does one whose session set-up or
expected output raises.

``--trace 0`` reports the end-to-end metrics, medians over the
repetitions. ``setup_s`` is the median of SETUP_CYCLES fresh-context
set-ups (new SparkContext plus its first job) in the first
repetition's JVM; the cold JVM launch of a later repetition, which no
oracle work overlaps, is the per-layer metric ``session.jvm_start_s``.
``--trace 1`` runs one traced and then one untraced repetition and
reports the per-layer metrics (layertrace.py) plus the tracing
overhead. The traced one runs first so that, when the run budget has no
room for both, it is the overhead that goes missing (reported as 0),
not the per-layer metrics. The last line of stdout is the JSON result.
All files go under ``.perfbench/`` in the current directory; the spans
of traced repetitions are kept in ``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "wall_s": "s",
    "images_per_s": "images/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}
EXTRA_LAYER_METRICS = {
    "candidates.cand_per_image": "cand/image",
    "dedup.lsh_precision": "fraction",
    "checkpoint.written_mb": "MB",
    "task_failures": "count",
    "trace_overhead_s": "s",
    "session.jvm_start_s": "s",
}
WORKLOAD_NAMES = ("match_corpus", "lifecycle", "match", "corpus")
SETUP_CYCLES = 3      # fresh-context set-ups per untraced run (setup_s)
RUN_BUDGET_S = 150.0  # start no repetition that would end past this
REAP_TIMEOUT_S = 20.0  # SIGTERM leftover processes this long, then SIGKILL


def per_layer_units() -> dict[str, str]:
    import layertrace as trace

    units = {
        f"{layer}.{m}": unit
        for layer in trace.LAYERS
        for m, unit in trace.LAYER_METRICS.items()
    }
    units.update(EXTRA_LAYER_METRICS)
    return units


# ----------------------------------------------------------------------
# host / session hygiene
# ----------------------------------------------------------------------

def host_env(work: str) -> dict[str, str]:
    """Session sizing from the host and every scratch path inside
    ``work``; PYTHONPATH lets Python workers import the program."""
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) // (1 << 20)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def _submit_args(event_log_dir: str | None) -> str:
    """JVM launch options: temp files inside the work dir, and for a
    traced repetition an uncompressed single-file event log."""
    confs = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
    }
    if event_log_dir:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    return shlex.join(args + ["pyspark-shell"])


def new_session(event_log_dir: str | None = None):
    """A SparkContext that has finished its first job; returns (spark,
    seconds it took). With no JVM running this launches one (cold)."""
    from pyspark import SparkContext

    from pfaedle_spark.session import get_spark

    if SparkContext._gateway is None:
        os.environ["PYSPARK_SUBMIT_ARGS"] = _submit_args(event_log_dir)
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _become_subreaper() -> None:
    """Orphaned grandchildren (Python workers) re-parent to this process,
    so :func:`reap_children` can wait for them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def reap_children() -> None:
    import procstat

    deadline = time.time() + REAP_TIMEOUT_S
    sig = signal.SIGTERM
    while True:
        kids = procstat.descendants()
        if not kids:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL
        for pid in kids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


# ----------------------------------------------------------------------
# repetitions
# ----------------------------------------------------------------------

def one_rep(name: str, paths: dict, oracle, n_docs: int, traced: bool,
            sampler, extra_setups: int) -> dict:
    """One repetition in a fresh JVM: cold session set-up, the timed
    workload, ``extra_setups`` fresh-context set-ups in the now warm
    JVM, JVM shutdown, then the output check (untimed). ``oracle()``
    waits for the expected output. An exception anywhere, in the session
    set-up or the oracle too, marks the repetition failed."""
    import check
    import layertrace as trace
    import procstat
    from workloads import WORKLOADS

    out_dir = paths["output"]
    shutil.rmtree(out_dir, ignore_errors=True)
    rec = {"traced": traced, "errors": [], "warm_setups": []}
    try:
        spark, rec["setup_s"] = new_session(paths["eventlog"] if traced else None)
        exp = oracle()  # computed while the first JVM was starting
        tracer = trace.Tracer(spark.sparkContext) if traced else None
        try:
            sampler.reset()
            cpu0 = procstat.tree_cpu_s()
            t0 = time.perf_counter()
            if tracer:
                tracer.install()
                root = tracer.root(name)
            try:
                WORKLOADS[name](spark, paths["input"], out_dir)
            finally:
                if tracer:
                    tracer.close(root)
                    tracer.uninstall()
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_s"] = procstat.tree_cpu_s() - cpu0
            rec["peak_rss_mb"] = sampler.sample() / 1e6
        finally:
            app_id = spark.sparkContext.applicationId
            spark.stop()
        for _ in range(extra_setups):
            spark, s = new_session()
            spark.stop()
            rec["warm_setups"].append(s)
        stop_jvm()
        rec["errors"] += check.verify(name, out_dir, exp, n_docs)
        if traced and not rec["errors"]:
            log = trace.parse_event_log(trace.event_log_path(paths["eventlog"], app_id))
            rec.update(
                layers=trace.layer_metrics(tracer.spans, log),
                written_mb=trace.layer_output_mb(tracer.spans, log, "checkpoint"),
                task_failures=log["task_failures"],
                spans=tracer.spans,
            )
            if "dedup" in exp:
                rec["lsh_precision"] = check.lsh_precision(out_dir)
    except Exception:
        rec["errors"].append(traceback.format_exc())
    finally:
        stop_jvm()
    for e in rec["errors"]:
        print(f"perfbench: {name} repetition failed: {e}", file=sys.stderr)
    print(f"perfbench: {name} traced={traced} setup_s={rec.get('setup_s', 0):.3f} "
          f"wall_s={rec.get('wall_s', 0):.3f} cpu_s={rec.get('cpu_s', 0):.2f}", file=sys.stderr)
    return rec


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def summarize_e2e(reps: list[dict], n_docs: int) -> dict:
    ok = [r for r in reps if not r["errors"]]
    vals = {
        "wall_s": _median([r["wall_s"] for r in ok]),
        "images_per_s": _median([n_docs / r["wall_s"] for r in ok]),
        "cpu_s": _median([r["cpu_s"] for r in ok]),
        "peak_rss_mb": _median([r["peak_rss_mb"] for r in ok]),
        "setup_s": _median([s for r in reps for s in r["warm_setups"]]),
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def summarize_trace(reps: list[dict], n_docs: int) -> dict:
    import layertrace as trace

    units = per_layer_units()
    traced = [r for r in reps if r["traced"] and not r["errors"]]
    plain = [r["wall_s"] for r in reps if not r["traced"] and not r["errors"]]
    vals = {
        f"{layer}.{m}": _median([r["layers"][layer][m] for r in traced])
        for layer in trace.LAYERS
        for m in trace.LAYER_METRICS
    }
    vals["candidates.cand_per_image"] = vals["candidates.rows_out"] / n_docs
    vals["dedup.lsh_precision"] = _median([r.get("lsh_precision", 0.0) for r in traced])
    vals["checkpoint.written_mb"] = _median([r["written_mb"] for r in traced])
    vals["task_failures"] = sum(r["task_failures"] for r in traced)
    # both kinds of repetition start from a cold JVM, and the timed part
    # starts after the oracle has finished, so they compare directly
    vals["trace_overhead_s"] = (
        _median([r["wall_s"] for r in traced]) - _median(plain) if traced and plain else 0.0
    )
    # the first repetition's start overlaps the oracle, so it is left out
    vals["session.jvm_start_s"] = _median([r["setup_s"] for r in reps[1:] if not r["errors"]])
    return {k: {"value": vals[k], "unit": units[k]} for k in units}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    t_start = time.time()

    sys.path.insert(0, ROOT)
    try:
        import pfaedle_spark  # noqa: F401
        import __spark_entry__  # noqa: F401  (the oracles)
    except ImportError as exc:
        print(f"perfbench: the program is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import check
    import gen
    import procstat
    from workloads import N_DOCS

    base = os.path.join(os.getcwd(), ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    paths = {d: os.path.join(work, d) for d in
             ("tmp", "spark-local", "eventlog", "input", "output")}
    for d in paths.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(host_env(work))
    tempfile.tempdir = None  # re-read TMPDIR on next use
    _become_subreaper()

    n_docs = N_DOCS[args.workload]
    reps: list[dict] = []
    try:
        gen.write_documents(paths["input"], args.seed, n_docs)
        with ThreadPoolExecutor(1) as pool, procstat.RssSampler() as sampler:
            pending = pool.submit(check.expected, args.workload, paths["input"], args.seed, work)
            oracle = pending.result
            t_meas = time.time()
            longest = 0.0
            while True:
                i = len(reps)
                if args.trace and i == 2:
                    break  # one traced and one untraced repetition
                if not args.trace and i >= 1 and time.time() - t_meas >= args.seconds:
                    break
                if i >= 1 and time.time() - t_start + longest > RUN_BUDGET_S:
                    break
                t_rep = time.time()
                reps.append(one_rep(
                    args.workload, paths, oracle, n_docs,
                    traced=bool(args.trace) and i == 0, sampler=sampler,
                    extra_setups=SETUP_CYCLES if not args.trace and i == 0 else 0,
                ))
                longest = max(longest, time.time() - t_rep)
    finally:
        stop_jvm()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(1 for r in reps if r["errors"])
    if failed == len(reps):
        print("perfbench: every repetition failed; nothing to report", file=sys.stderr)
        return 1
    if args.trace:
        metrics = summarize_trace(reps, n_docs)
        spans_dir = os.path.join(base, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump([r["spans"] for r in reps if r.get("spans")], fh)
    else:
        metrics = summarize_e2e(reps, n_docs)
    summary = " ".join(
        f"{k}={m['value']:.4g} {m['unit']}" for k, m in metrics.items() if "." not in k
    )
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: {summary} "
          f"failed_runs={failed / len(reps):.2f} fraction ({failed}/{len(reps)})")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(reps),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
