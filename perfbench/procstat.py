"""CPU and RSS of this process tree (driver Python, the Spark JVM it
launches, and the JVM's Python workers), read from ``/proc``.

CPU counts ``utime + stime + cutime + cstime``: the Python worker
daemon reaps its forked workers, so a worker's CPU stays in the tree
after it exits. RSS leaves out children that still share their
parent's address space (:func:`summed_rss`).
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
RSS_INTERVAL_S = 0.1  # RssSampler period


def _read_stats() -> dict[int, tuple[int, str, float, int, int]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss bytes,
    virtual size bytes)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        head, _, rest = raw.rpartition(")")
        comm = head.partition("(")[2]
        f = rest.split()
        # fields after "(comm)": state=0 ppid=1 ... utime=11 stime=12
        # cutime=13 cstime=14 ... vsize=20 (bytes) rss=21 (pages)
        cpu = (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK
        out[int(name)] = (int(f[1]), comm, cpu, int(f[21]) * _PAGE, int(f[20]))
    return out


def _tree(stats: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in stats.items():
        children.setdefault(ppid, []).append(pid)
    seen, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
            todo.extend(children.get(pid, ()))
    return seen


def descendants() -> list[int]:
    """Live and zombie processes below this process."""
    root = os.getpid()
    return [p for p in _tree(_read_stats(), root) if p != root]


def tree_cpu_s() -> float:
    """CPU seconds of this process and its descendants."""
    stats = _read_stats()
    return sum(stats[p][2] for p in _tree(stats, os.getpid()))


def python_worker_cpu_s() -> float:
    """CPU seconds of the Python processes below the JVM(s) this process
    launched: the Spark Python worker daemon and its workers."""
    root = os.getpid()
    stats = _read_stats()
    return sum(
        stats[p][2]
        for p in _tree(stats, root)
        if p != root and stats[p][1].startswith("python")
    )


def summed_rss(stats: dict, root: int) -> int:
    """RSS bytes summed over ``root`` and its descendants, leaving out a
    child whose virtual size and RSS equal its parent's. Such a child
    still shares the parent's pages: the JVM starts each Python worker
    daemon through a vfork-style child that, until its exec, reports
    the whole JVM's RSS, and a fresh fork has copied no page yet.
    Counting it would add the parent's memory a second time."""
    total = 0
    for pid in _tree(stats, root):
        ppid, _, _, rss, vsize = stats[pid]
        parent = stats.get(ppid)
        if pid == root or parent is None or (parent[3], parent[4]) != (rss, vsize):
            total += rss
    return total


class RssSampler:
    """Background sampler of the summed RSS of the process tree; ``peak``
    is the largest sum seen since the last :meth:`reset`."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        self.peak = max(self.peak, summed_rss(_read_stats(), os.getpid()))
        return self.peak

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.sample()

    def reset(self) -> None:
        self.peak = 0
        self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
