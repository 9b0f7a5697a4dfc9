"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is rooted at the benchmark's driver process, so it covers the
driver, the Spark JVM it launched and every ``pyspark.daemon`` worker the
JVM forked. CPU time of a process that exits during a measurement is not
lost: once its parent reaps it, it shows in the parent's cutime/cstime.
Resident memory is the sum of VmRSS over the tree; pages shared between a
forked worker and its daemon count once per process.
"""

from __future__ import annotations

import os
import threading

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PAGE_B = os.sysconf("SC_PAGE_SIZE")
_SAMPLE_S = 0.05


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat from field 3 (state) on, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


class ProcessTree:
    """This process and all its descendants."""

    def __init__(self):
        self.root = os.getpid()

    def _stats(self) -> dict[int, list[str]]:
        """pid -> stat fields for the root and all its descendants."""
        stats, children = {}, {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                fields = _stat_fields(int(name))
                if fields is not None:
                    stats[int(name)] = fields
                    children.setdefault(int(fields[1]), []).append(int(name))
        tree, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats and pid not in tree:
                tree[pid] = stats[pid]
                todo.extend(children.get(pid, ()))
        return tree

    def cpu_seconds(self) -> dict[int, float]:
        """pid -> utime + stime + cutime + cstime, in seconds."""
        return {
            pid: sum(int(v) for v in f[11:15]) * _TICK_S
            for pid, f in self._stats().items()
        }

    def rss_bytes(self) -> int:
        return sum(int(f[21]) for f in self._stats().values()) * _PAGE_B


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the tree spent between two ``cpu_seconds`` snapshots.

    A process reaped in between reappears, whole, in its parent's cutime, so
    the share it had already spent at ``before`` is taken off again."""
    gone = sum(t for pid, t in before.items() if pid not in after)
    return sum(t - before.get(pid, 0.0) for pid, t in after.items()) - gone


class PeakRss:
    """Background sampler of the tree's summed RSS; use as a context manager
    and call ``take`` to get the peak since the previous ``take``."""

    def __init__(self, tree: ProcessTree):
        self.tree = tree
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self):
        while True:
            rss = self.tree.rss_bytes()
            with self._lock:
                self._peak = max(self._peak, rss)
            if self._stop.wait(_SAMPLE_S):
                return

    def take(self) -> int:
        rss = self.tree.rss_bytes()
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
