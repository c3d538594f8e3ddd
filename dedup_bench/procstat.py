"""Process-tree CPU and memory, and host CPU shares, read from /proc.

The Spark JVM is a child of the benchmark process and its Python workers
are the JVM's descendants, so "the program" is the process tree rooted at
the JVM's pid.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, cpu ticks including reaped children), or None when the
    process has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # fields after the parenthesised command name; comm may hold spaces
    f = raw[raw.rindex(")") + 2 :].split()
    return int(f[1]), sum(int(x) for x in f[11:15])


def _tree_stats(root: int) -> list[tuple[int, tuple[int, int]]]:
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of ``root`` and all its descendants, live
    and reaped."""
    return sum(st[1] for _, st in _tree_stats(root)) / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Proportional set size of the tree: forked Python workers share
    pages with their daemon, so summed RSS would count those pages once
    per worker."""
    return sum(_pss_kb(pid) for pid, _ in _tree_stats(root)) / 1024


def tree_pids(root: int) -> list[int]:
    """Pids of ``root`` and its live descendants."""
    return [pid for pid, _ in _tree_stats(root)]


def alive(pids: list[int]) -> bool:
    return any(os.path.exists(f"/proc/{pid}") for pid in pids)


class PeakRss:
    """Samples the tree's resident memory (``tree_pss_mb``) on a thread;
    ``peak_mb`` is the largest value seen between ``start`` and ``stop``."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            self._stop.wait(self.period_s)

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb


def host_cpu() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal (ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Steal and busy shares of all host CPU time between two readings.
    Busy counts every process on the host, this benchmark's included."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    idle = d[3] + d[4]
    return {"steal_frac": d[7] / total, "busy_frac": (total - idle) / total}
