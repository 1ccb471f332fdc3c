"""Process-tree accounting read from ``/proc``: CPU, resident memory,
and the busy cores of everything else on the host.

The tree is this Python process, the Spark JVM it launches and the
Python workers the JVM forks. CPU follows the same pairing rule as
``bench.py``'s ``_proc_sample``/``_ext_cores``: survivors count by
delta, processes born in the window count whole, and processes that
died in it are corrected through their parent's reaped-child time.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _procs() -> dict[int, tuple[int, int, int]]:
    """{pid: (ppid, self jiffies, reaped-children jiffies)}."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
            out[int(d)] = (int(parts[1]), int(parts[11]) + int(parts[12]),
                           int(parts[13]) + int(parts[14]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def tree_pids(procs: dict[int, tuple[int, int, int]] | None = None
              ) -> list[int]:
    """This process and its descendants."""
    procs = procs if procs is not None else _procs()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _s, _c) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    seen, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        if p in procs:
            seen.append(p)
        stack.extend(kids.get(p, []))
    return seen


class Sample:
    """Host busy jiffies and per-pid CPU of our tree at one instant."""

    def __init__(self) -> None:
        with open("/proc/stat") as fh:
            vals = [int(x) for x in fh.readline().split()[1:]]
        self.busy = sum(vals) - vals[3] - vals[4]  # minus idle, iowait
        procs = _procs()
        self.own = {p: (procs[p][1], procs[p][2]) for p in tree_pids(procs)}
        self.t = time.perf_counter()


def own_jiffies(s0: Sample, s1: Sample) -> int:
    own = 0
    for pid, (self1, reaped1) in s1.own.items():
        prev = s0.own.get(pid)
        if prev is not None:
            own += (self1 - prev[0]) + (reaped1 - prev[1])
        else:
            own += self1 + reaped1
    own -= sum(j0 + r0 for pid, (j0, r0) in s0.own.items()
               if pid not in s1.own)
    return max(own, 0)


def cpu_seconds(s0: Sample, s1: Sample) -> float:
    """CPU seconds our tree spent between two samples."""
    return own_jiffies(s0, s1) / CLK_TCK


def external_cores(s0: Sample, s1: Sample) -> float:
    """Average busy cores outside our tree between two samples."""
    wall = max(s1.t - s0.t, 1e-9)
    return max(0.0, ((s1.busy - s0.busy) - own_jiffies(s0, s1))
               / CLK_TCK / wall)


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (the forked Python workers
    share their parent's) count once across the processes sharing them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return "?"


class RssPeak:
    """Samples the tree's summed proportional set size on a thread
    until closed; ``peak`` is the largest sum seen and ``at_peak`` its
    split by process name."""

    def __init__(self, interval: float = 0.5) -> None:
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._interval = interval
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        by: dict[str, int] = {}
        for pid in tree_pids():
            name = _comm(pid)
            by[name] = by.get(name, 0) + _pss_bytes(pid)
        total = sum(by.values())
        if total > self.peak:
            self.peak, self.at_peak = total, by

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._interval)

    def close(self) -> int:
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self._sample()
        return self.peak
