#!/usr/bin/env python3
"""CPU of one benchmark workload run, split by process role and by JVM
thread class.

    python3 tools/cpu_split.py --workload {match_corpus,lifecycle,match,corpus} \\
        --seed N [--docs N]

Generates the workload's input with ``perfbench/gen.py`` (``--docs``
images, by default the benchmark's size for the workload), starts a
fresh driver JVM through ``pfaedle_spark.session.get_spark`` with the
benchmark's environment (``perfbench/run.py`` ``host_env``), runs the
workload from ``perfbench/workloads.py`` once and prints the CPU
seconds spent while it ran:

* by role: this driver Python process, the JVM, and the Python worker
  processes below the JVM (the daemon and its forked workers, reaped
  or not);
* JVM CPU by thread class, read from ``/proc/<jvm>/task/*/stat``: the
  JIT compiler threads (C1, C2), executor task threads, the py4j
  connection threads that serve the driver's Python threads (query
  planning, code generation, collects), GC, VM threads, the rest, and
  threads that exited during the run;
* the ten JVM thread names (digits as ``#``) with the most CPU.

The JVM is started with ``-XX:-UseDynamicNumberOfCompilerThreads``, so
every compiler thread lives for the whole run and its CPU shows under
its class, not among the exited threads. The other threads are sampled
every 0.2 s, so one that exits keeps what it had used by its last
sample. The window is the one ``perfbench/run.py`` reports as
``cpu_s``: from after the session's first job to the end of the
workload. The output is not checked (run perfbench for that). The last
line of stdout is the result as JSON. The perfbench modules are only
imported, and the program is the one of the checkout this file lives
in.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PERFBENCH = os.path.join(ROOT, "perfbench")

_TICK = os.sysconf("SC_CLK_TCK")

# JVM thread name prefix (as /proc shows it: at most 15 characters) -> class
THREAD_CLASSES = (
    ("C2 CompilerThre", "jit_c2"),
    ("C1 CompilerThre", "jit_c1"),
    ("Executor task l", "executor_tasks"),
    ("Thread-", "py4j"),  # a py4j connection: planning, codegen, collects of a Python thread
    ("GC Thread", "gc"),
    ("G1 ", "gc"),
    ("VM ", "vm"),
)


def thread_class(comm: str) -> str:
    return next((cls for prefix, cls in THREAD_CLASSES if comm.startswith(prefix)), "other")


def _stat(path: str) -> tuple[int, str, float, float]:
    """(ppid, comm, own CPU s, reaped children's CPU s) of one
    ``/proc/.../stat`` file."""
    with open(path) as fh:
        raw = fh.read()
    head, _, rest = raw.rpartition(")")
    f = rest.split()
    # fields after "(comm)": state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return (int(f[1]), head.partition("(")[2],
            (int(f[11]) + int(f[12])) / _TICK, (int(f[13]) + int(f[14])) / _TICK)


def _processes() -> dict[int, tuple[int, str, float, float]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                out[int(name)] = _stat(f"/proc/{name}/stat")
            except OSError:
                pass  # exited meanwhile
    return out


def _below(procs: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def jvm_threads(jvm: int) -> dict[int, tuple[str, float]]:
    """tid -> (name, CPU seconds) of the JVM's live threads."""
    out = {}
    for tid in os.listdir(f"/proc/{jvm}/task"):
        try:
            _, comm, cpu, _ = _stat(f"/proc/{jvm}/task/{tid}/stat")
        except OSError:
            continue  # exited meanwhile
        out[int(tid)] = (comm, cpu)
    return out


class ThreadSampler:
    """Polls the JVM's threads every ``interval`` seconds, so a thread
    that exits mid-run (a py4j connection thread, a pool thread) keeps
    the CPU of its last sample; ``seen`` maps tid -> (name, CPU)."""

    def __init__(self, jvm: int, interval: float = 0.2):
        self.jvm, self.interval = jvm, interval
        self.seen: dict[int, tuple[str, float]] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.seen.update(jvm_threads(self.jvm))

    def __enter__(self) -> "ThreadSampler":
        self.seen.update(jvm_threads(self.jvm))
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.seen.update(jvm_threads(self.jvm))


def roles(jvm: int) -> dict[str, float]:
    """CPU seconds so far of each process role."""
    procs = _processes()
    return {
        "driver_python": procs[os.getpid()][2],
        "jvm": procs[jvm][2],
        # the worker daemon reaps its forked workers, and the JVM reaps
        # the daemon: count reaped children's CPU as well
        "python_workers": procs[jvm][3] + sum(sum(procs[p][2:]) for p in _below(procs, jvm)),
    }


def split(before: dict, after: dict, threads0: dict, threads1: dict) -> dict:
    """Role and thread-class CPU between two points. ``exited`` is the
    JVM CPU no thread sample accounts for: threads that exited, after
    their last sample."""
    by_role = {k: after[k] - before[k] for k in before}
    classes: dict[str, float] = {}
    names: dict[str, float] = {}
    for tid, (comm, cpu) in threads1.items():
        delta = cpu - threads0.get(tid, ("", 0.0))[1]
        cls = thread_class(comm)
        classes[cls] = classes.get(cls, 0.0) + delta
        name = re.sub(r"\d+", "#", comm)
        names[name] = names.get(name, 0.0) + delta
    classes["exited"] = by_role["jvm"] - sum(classes.values())
    return {"roles": by_role, "jvm_threads": classes, "jvm_thread_names": names}


def main(argv: list[str] | None = None) -> int:
    sys.path[:0] = [ROOT, PERFBENCH]
    import gen
    from run import host_env
    from workloads import N_DOCS, WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--docs", type=int, help="input images (default: the benchmark's)")
    args = ap.parse_args(argv)
    n_docs = args.docs or N_DOCS[args.workload]

    work = tempfile.mkdtemp(prefix="cpu_split-")
    try:
        os.environ.update(host_env(work))
        for d in ("tmp", "spark-local"):
            os.makedirs(os.path.join(work, d), exist_ok=True)
        tempfile.tempdir = None  # re-read TMPDIR on next use
        gen.write_documents(os.path.join(work, "input"), args.seed, n_docs)
        opts = (f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads")
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(
            ["--conf", f"spark.driver.extraJavaOptions={opts}", "pyspark-shell"]
        )
        from pyspark import SparkContext

        from pfaedle_spark.session import get_spark

        spark = get_spark("cpu_split")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        jvm = SparkContext._gateway.proc.pid
        threads0, before = jvm_threads(jvm), roles(jvm)
        with ThreadSampler(jvm) as sampler:
            t0 = time.perf_counter()
            WORKLOADS[args.workload](spark, os.path.join(work, "input"), os.path.join(work, "output"))
            wall = time.perf_counter() - t0
            after = roles(jvm)
        res = split(before, after, threads0, sampler.seen)
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res.update(workload=args.workload, seed=args.seed, docs=n_docs, wall_s=wall,
               cpu_s=sum(res["roles"].values()))
    print(f"cpu_split {args.workload} seed={args.seed} docs={n_docs}: "
          f"wall {wall:.1f} s, cpu {res['cpu_s']:.1f} s")
    for title, part, top in (("role", res["roles"], None),
                             ("jvm thread class", res["jvm_threads"], None),
                             ("jvm thread names (digits as #)", res["jvm_thread_names"], 10)):
        print(f"  {title}")
        for k, v in sorted(part.items(), key=lambda kv: -kv[1])[:top]:
            print(f"    {k:<18}{v:8.2f} s")
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
