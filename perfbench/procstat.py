"""Process-tree CPU and RSS from ``/proc`` (no psutil).

The tree is the benchmark process and every descendant: the Spark JVM,
the PySpark daemon and its Python workers. CPU of a live process is its
``utime + stime``; CPU of children that already exited and were reaped
is in their parent's ``cutime + cstime``, so summing all four over the
live tree counts every process exactly once.
"""

from __future__ import annotations

import bisect
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, cpu seconds incl. reaped children) of one process."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces or parens: fields start after the LAST ')'
    f = raw[raw.rindex(b")") + 2 :].split()
    return int(f[1]), (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (the forked PySpark workers and their daemon) split among
    them, so summing over the tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
            for line in fh:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree(root: int | None = None) -> dict[int, float]:
    """pid -> cpu seconds for ``root`` (default: this process) and all
    of its descendants."""
    root = os.getpid() if root is None else root
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)], cpu[int(name)] = st
    out = {}
    for pid in cpu:
        p = pid
        while p and p != root and p in parent:
            p = parent[p]
        if p == root:
            out[pid] = cpu[pid]
    return out


def tree_cpu_s() -> float:
    return sum(tree().values())


class Sampler:
    """Background sampler of process-tree CPU seconds and memory.

    ``cpu_at(t)`` interpolates tree CPU at a ``time.time()`` instant, so
    any interval measured outside (a round, a phase) can be charged its
    CPU after the fact; ``peak_rss`` is the largest summed PSS seen.
    PSS is read at most every ``MEM_INTERVAL_S``: the kernel walks the
    page tables for it, ~25 ms for a 2 GB JVM, under the JVM's mmap lock."""

    MEM_INTERVAL_S = 1.0

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.times: list[float] = []
        self.cpus: list[float] = []
        self.peak_rss = 0
        self._mem_t = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        t = time.time()
        pids = tree()
        self.times.append(t)
        self.cpus.append(sum(pids.values()))
        if t - self._mem_t >= self.MEM_INTERVAL_S:
            self._mem_t = t
            self.peak_rss = max(self.peak_rss, sum(_pss_bytes(p) for p in pids))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "Sampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    def cpu_at(self, t: float) -> float:
        i = bisect.bisect_left(self.times, t)
        if i <= 0:
            return self.cpus[0]
        if i >= len(self.times):
            return self.cpus[-1]
        t0, t1 = self.times[i - 1], self.times[i]
        c0, c1 = self.cpus[i - 1], self.cpus[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0) if t1 > t0 else c1

    def cpu_between(self, t0: float, t1: float) -> float:
        return self.cpu_at(t1) - self.cpu_at(t0)
