"""Process-tree probes read from /proc (no psutil on the box).

The tree is this Spark driver process and every descendant: the JVM that
PySpark launches, the pyspark daemon it forks and the Python workers
the daemon forks.
"""

from __future__ import annotations

import os
import threading
from typing import Dict, List

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> List[str]:
    with open(f"/proc/{pid}/stat", "rb") as f:
        raw = f.read().decode("ascii", "replace")
    # comm may hold spaces and parens: split after its closing paren
    return raw[raw.rindex(")") + 2:].split()


def _parents() -> Dict[int, int]:
    parent: Dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            parent[int(name)] = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
    return parent


def tree_pids(root: int, parent: Dict[int, int] = None) -> List[int]:
    parent = _parents() if parent is None else parent
    out, frontier = [root], [root]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier]
        out += kids
        frontier = kids
    return out


def tree_rss(root: int) -> Dict[str, int]:
    """Resident bytes of the tree, summed per command name.

    A child that shares its parent's address space (the JVM spawns
    Python workers through vfork, and between vfork and exec the child
    shows the whole JVM footprint) has a statm identical to its
    parent's and is skipped, so the JVM is not counted twice."""
    parent = _parents()
    statm: Dict[int, bytes] = {}
    comm: Dict[int, str] = {}
    for pid in tree_pids(root, parent):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                statm[pid] = f.read()
            with open(f"/proc/{pid}/comm") as f:
                comm[pid] = f.read().strip()
        except OSError:
            continue
    out: Dict[str, int] = {}
    for pid, raw in statm.items():
        if statm.get(parent.get(pid)) == raw:
            continue
        rss = int(raw.split()[1]) * _PAGE
        out[comm[pid]] = out.get(comm[pid], 0) + rss
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the live tree, plus what each live
    process has reaped from its exited children."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
            ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        except (OSError, ValueError, IndexError):
            continue
    return ticks / _TICK


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def steal_jiffies() -> List[int]:
    """Machine-wide [steal, all] CPU jiffies from /proc/stat. Steal is
    time the hypervisor ran other guests on this machine's vCPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return [ticks[7], sum(ticks)]


class RssSampler:
    """Samples the tree's RSS every `period` seconds on a thread and
    keeps the peak; `reset()` starts a new peak window."""

    def __init__(self, root: int, period: float = 0.2) -> None:
        self.root = root
        self.period = period
        self.peak = 0
        self.peak_by_comm: Dict[str, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            by_comm = tree_rss(self.root)
            rss = sum(by_comm.values())
            with self._lock:
                if rss > self.peak:
                    self.peak, self.peak_by_comm = rss, by_comm
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def reset(self) -> None:
        with self._lock:
            self.peak = 0
            self.peak_by_comm = {}

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self) -> float:
        with self._lock:
            return self.peak / (1 << 20)
