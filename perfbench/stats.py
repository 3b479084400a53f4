"""Small statistics helpers shared by the workloads and the report."""

from __future__ import annotations

import os
import statistics
import threading


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    """Geometric mean: the summary of a set of unlike operations in which
    each contributes equally (the TPC-H power metric uses it the same way)."""
    xs = list(xs)
    return statistics.geometric_mean(xs) if xs else 0.0


def tail(xs, min_beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile that still has at least ``min_beyond`` samples
    strictly above its rank: returns (percentile, value, n), or None when
    there are too few samples for any such percentile.

    With n sorted samples, the value at 1-based rank r has n - r samples
    beyond it, so the highest admissible rank is n - min_beyond and the
    percentile is 100 * r / n (nearest-rank definition)."""
    xs = sorted(xs)
    n = len(xs)
    rank = n - min_beyond
    if rank < 1:
        return None
    return 100.0 * rank / n, xs[rank - 1], n


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _statm_rss(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as fh:
        return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")


def _pss(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as fh:
        for line in fh:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_resident_bytes(root: int) -> tuple[int, int]:
    """Resident bytes of ``root`` (its RSS) and of every process below it
    (their PSS summed, so pages forked workers share with their parent
    count once). The root's PSS would cost a page-table walk under its
    memory lock on every sample; it forks nothing that shares its pages."""
    try:
        own = _statm_rss(root)
    except OSError:
        return 0, 0
    kids = _children()
    todo = list(kids.get(root, []))
    below = 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            below += _pss(pid)
        except (OSError, ValueError):
            pass
    return own, below


class PeakMem:
    """Peak resident memory of the Spark JVM outside its heap plus the
    Python workers it forks, sampled every ``period`` seconds. The heap is
    fixed, committed and touched at JVM start, so its ``heap_bytes`` are
    resident throughout and RSS minus them is the JVM's memory outside the
    heap; the heap's own use is read separately (``live_heap``)."""

    def __init__(self, pid: int, heap_bytes: int, period: float = 0.2):
        self.pid, self.heap_bytes, self.period, self.peak = pid, heap_bytes, period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        jvm, workers = tree_resident_bytes(self.pid)
        return jvm - self.heap_bytes + workers

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.sample())


def live_heap(spark) -> int:
    """Bytes of the driver JVM's heap still reachable: heap in use right
    after a full collection. A collected heap's in-use peak is set by its
    size and the collector's pacing, not by the program; what the program
    holds on to is what survives a full collection."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    return jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage().getUsed()
