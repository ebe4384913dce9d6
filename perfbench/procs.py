"""Process-tree sampler: CPU seconds and resident memory of this process and
every descendant (the driver JVM and its Python workers), read from /proc.

CPU includes each process's reaped children (cutime/cstime), so Python
workers that exit between two readings still count. `split()` attributes
CPU to the benchmark's own Python driver, the JVM, and the Python workers
under the JVM."""

from __future__ import annotations

import glob
import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _table() -> dict[int, tuple[int, str, float, int]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    procs = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                head, rest = f.read().rsplit(") ", 1)
            pid = int(head.split(" ", 1)[0])
            fields = rest.split()
            cpu = sum(int(x) for x in fields[11:15]) / _TICK
            procs[pid] = (int(fields[1]), head.split("(", 1)[1], cpu,
                          int(fields[21]) * _PAGE)
        except (OSError, IndexError, ValueError):
            continue
    return procs


def _tree(procs, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in procs:
            out.append(p)
            stack.extend(children.get(p, []))
    return out


def split() -> dict[str, float]:
    """CPU seconds so far: total, driver (this process), jvm, python workers
    (Python processes below the JVM)."""
    procs = _table()
    me = os.getpid()
    out = {"total": 0.0, "driver": procs[me][2], "jvm": 0.0, "python": 0.0}
    for pid in _tree(procs, me):
        out["total"] += procs[pid][2]
        if pid != me and "java" in procs[pid][1]:
            out["jvm"] += procs[pid][2]
            out["python"] += sum(procs[p][2] for p in _tree(procs, pid)
                                 if "python" in procs[p][1])
    return out


def delta(a: dict[str, float], b: dict[str, float]) -> dict[str, float]:
    return {k: b[k] - a[k] for k in a}


class RssPeak:
    """Background sampler of the tree's summed RSS; `peak_mb` is the highest
    reading since the last `reset()`."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            procs = _table()
            self.peak = max(self.peak,
                            sum(procs[p][3] for p in _tree(procs, me)))
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self.peak = 0

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
