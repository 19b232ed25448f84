"""Measurement primitives shared by the workloads: spans and self
time, the tail-percentile rule, process-tree RSS sampling, Spark
job/stage counters read from the status store, and the host readings
the run stamp records."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# statistics


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _rank(pct: float, n: int) -> int:
    """1-based nearest rank; rounded first so 99.9% of 10 000 is 9990."""
    return max(1, math.ceil(round(pct * n / 100.0, 9)))


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """Nearest-rank percentile of already sorted values."""
    return sorted_values[_rank(pct, len(sorted_values)) - 1]


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(values, beyond: int = 10) -> tuple[float, float, int]:
    """``(pct, value, n)``: the highest percentile on ``TAIL_LADDER``
    with at least ``beyond`` samples strictly above its rank, its
    nearest-rank value and the sample count.  When no ladder step
    qualifies (fewer than ``2 * beyond`` samples) the median is
    returned as the 50th percentile, and the caller reports ``n``."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 50.0, 0.0, 0
    for pct in TAIL_LADDER:
        rank = _rank(pct, n)
        if n - rank >= beyond:
            return pct, xs[rank - 1], n
    return 50.0, statistics.median(xs), n


# ---------------------------------------------------------------------------
# spans


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: str


@dataclass
class Tracer:
    """In-memory span recorder; a disabled tracer records nothing.
    Spans nest per thread; each thread names its own trace id."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    bookkeeping_s: float = 0.0
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _local: threading.local = field(default_factory=threading.local)
    _next_id: int = 0

    @contextmanager
    def span(self, name: str, trace_id: str | None = None):
        if not self.enabled:
            yield
            return
        b0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        tid = trace_id or (parent.trace_id if parent else f"t{sid}")
        sp = Span(sid, name, 0.0, 0.0, parent.span_id if parent else None, tid)
        stack.append(sp)
        sp.start = time.perf_counter()
        self.bookkeeping_s += sp.start - b0
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(sp)
                self.bookkeeping_s += time.perf_counter() - sp.end

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")


def covered_length(intervals, lo: float, hi: float) -> float:
    """Length of ``[lo, hi]`` covered by the union of ``intervals``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: the summed duration minus the part of each
    span's interval covered by its children (overlapping children
    are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - covered_length(children.get(s.span_id, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


# ---------------------------------------------------------------------------
# process resources


def _children(pid: int) -> list[int]:
    """Children of every thread of ``pid``: the JVM forks the Python
    workers from worker threads, not from its main thread."""
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return []
    kids: list[int] = []
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids += [int(x) for x in fh.read().split()]
        except OSError:
            pass
    return kids


def descendants(root: int) -> list[int]:
    out, todo = [], _children(root)
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """RSS of every descendant of ``root`` (the driver JVM and its
    Python workers), excluding ``root`` itself."""
    return sum(_rss_kb(pid) for pid in descendants(root)) / 1024.0


class RssSampler:
    """Background sampler of :func:`tree_rss_mb`; keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_jiffies() -> dict[str, int]:
    """Aggregate CPU jiffies from /proc/stat (user..steal)."""
    keys = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    with open("/proc/stat") as fh:
        fields = fh.readline().split()[1 : 1 + len(keys)]
    return dict(zip(keys, (int(f) for f in fields)))


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


# ---------------------------------------------------------------------------
# Spark counters, read from outside the program


class SparkCounters:
    """Jobs, tasks, shuffle and spill bytes of the jobs run under a
    job group, read from the status tracker and the status store.
    Only used on traced runs: groups cost nothing to set, but reading
    the store after each call does."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self._seq = 0

    @contextmanager
    def group(self, label: str, into: dict[str, float]):
        """Run the block under a fresh job group; add its counters to
        ``into`` (keys ``jobs tasks failed_tasks shuffle_bytes
        spill_bytes``)."""
        if not self.enabled:
            yield
            return
        self._seq += 1
        gid = f"perfbench-{self._seq}-{label}"
        self.sc.setJobGroup(gid, label)
        try:
            yield
        finally:
            self.sc.setJobGroup("perfbench-idle", "idle")
            for k, v in self.read(gid).items():
                into[k] = into.get(k, 0) + v

    def read(self, gid: str) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = dict(jobs=0, tasks=0, failed_tasks=0, shuffle_bytes=0, spill_bytes=0)
        for job_id in tracker.getJobIdsForGroup(gid):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            out["jobs"] += 1
            for stage_id in info.stageIds:
                try:
                    sd = store.lastStageAttempt(int(stage_id))
                except Py4JJavaError:  # a skipped stage never ran an attempt
                    continue
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["failed_tasks"] += sd.numFailedTasks()
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out


def persisted_blocks(spark) -> int:
    """Cached partitions still held by persisted RDDs."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.numCachedPartitions()) for i in infos)


def release_persisted(spark) -> None:
    """Drop every cached table and persisted RDD the last call left."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)


# ---------------------------------------------------------------------------
# what a workload hands back


@dataclass
class Inputs:
    """Prepared inputs: where they are, their size, and what the
    workload drew for itself."""

    path: str
    nbytes: int
    extra: dict = field(default_factory=dict)


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: defaultdict[str, float] = field(default_factory=lambda: defaultdict(float))
    report: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; report a failure by name."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.report.append(f"FAILED {what}")
