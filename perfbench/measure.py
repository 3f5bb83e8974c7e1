"""Measurement primitives: the tail-percentile rule, in-memory spans with
self time, per-operation Spark scheduler counts, peak memory and
warehouse file statistics. Nothing here imports the engine."""

from __future__ import annotations

import gc
import json
import os
import resource
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

TAIL_MIN_BEYOND = 10


def tail(values: list[float], min_beyond: int = TAIL_MIN_BEYOND) -> tuple[float, float, int]:
    """``(value, percentile, n)`` at the highest percentile that still has
    at least ``min_beyond`` samples strictly above its rank.

    With the samples sorted ascending, the value at 1-based rank ``r``
    has ``n - r`` samples beyond it, so the highest qualifying rank is
    ``n - min_beyond`` and its percentile is ``100 * r / n``. A tail is
    never reported below the median: when that percentile is under 50
    (fewer than ``2 * min_beyond`` samples), the median is returned with
    percentile 50. The caller reports the percentile and ``n`` with the
    value."""
    if not values:
        raise ValueError("tail of an empty sample")
    xs = sorted(values)
    n = len(xs)
    r = n - min_beyond
    if 2 * r < n:
        return statistics.median(xs), 50.0, n
    return xs[r - 1], 100.0 * r / n, n


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    sid: int


@dataclass
class Tracer:
    """Spans kept in memory (name, start, end, parent span, op id) and
    written out once, at the end. Disabled, ``span`` only times."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)
    _next_id: int = 0
    op: int | None = None

    def span(self, name: str):
        return _SpanCtx(self, name)

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the part of its
        interval covered by its child spans."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            covered = _union_length([(c.start, c.end) for c in children[s.sid]])
            out[s.name].append(max(0.0, (s.end - s.start) - covered))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                [
                    {
                        "id": s.sid,
                        "name": s.name,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        "op": s.op,
                    }
                    for s in self.spans
                ],
                fh,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name
        self.elapsed = 0.0

    def __enter__(self):
        t = self.tracer
        self.sid = t._next_id
        t._next_id += 1
        self.parent = t._stack[-1] if t._stack else None
        if t.enabled:
            t._stack.append(self.sid)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        end = time.perf_counter()
        self.elapsed = end - self.start
        t = self.tracer
        if t.enabled:
            t._stack.pop()
            t.spans.append(Span(self.name, self.start, end, self.parent, t.op, self.sid))
        return False


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@dataclass
class OpCounts:
    jobs: int
    stages: int
    tasks: int
    failed_tasks: int


class SparkCounter:
    """Scheduler counts per operation, read from ``statusTracker()`` under
    one job group per operation.

    The status store keeps only the last ``spark.ui.retainedJobs`` jobs
    (and ``retainedStages`` stages); a listing cut by that limit would
    undercount silently. ``finish`` therefore refuses a group whose job
    listing reaches the limit, whose job ids are not contiguous, or whose
    job or stage records are already evicted."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        conf = sc.getConf()
        self.retained_jobs = int(conf.get("spark.ui.retainedJobs", "1000"))
        self._n = 0

    def start(self, op_type: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{op_type}"
        self.sc.setJobGroup(group, op_type, interruptOnCancel=False)
        return group

    def finish(self, group: str) -> OpCounts:
        self.sc.setJobGroup("perfbench-idle", "between operations", interruptOnCancel=False)
        self._drain_listeners()
        ids = sorted(self.tracker.getJobIdsForGroup(group))
        if len(ids) >= self.retained_jobs:
            raise RuntimeError(
                f"{group}: {len(ids)} jobs reach spark.ui.retainedJobs="
                f"{self.retained_jobs}; the listing may be truncated"
            )
        if ids and ids[-1] - ids[0] + 1 != len(ids):
            raise RuntimeError(f"{group}: job ids {ids} are not contiguous")
        stages = tasks = failed = 0
        for jid in ids:
            info = self.tracker.getJobInfo(jid)
            if info is None:
                raise RuntimeError(f"{group}: job {jid} already evicted")
            for sid in info.stageIds:
                st = self.tracker.getStageInfo(sid)
                if st is None:
                    raise RuntimeError(f"{group}: stage {sid} already evicted")
                if st.numCompletedTasks > 0:  # skipped stages ran nothing
                    stages += 1
                    tasks += st.numCompletedTasks
                failed += st.numFailedTasks
        return OpCounts(len(ids), stages, tasks, failed)

    def _drain_listeners(self) -> None:
        """Job and stage end events reach the status store through the
        asynchronous listener bus; wait until it has delivered them."""
        bus = self.sc._jsc.sc().listenerBus()
        bus.waitUntilEmpty()


def live_mb(spark) -> dict[str, float]:
    """Memory the engine still holds after the work: JVM heap in use after
    this process has dropped its garbage and Spark's cleaner has released
    what that garbage pinned (broadcasts, shuffles, cached blocks), plus
    this process's resident memory. Unlike peak RSS, which follows when
    the collector happens to run, this should repeat from run to run."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heaps = []
    # the cleaner thread frees asynchronously: collect until the heap
    # stops shrinking (two readings within 1 MB, at least 4 rounds: the
    # release goes Python GC -> JVM GC -> cleaner -> JVM GC)
    while len(heaps) < 4 or (heaps[-2] - heaps[-1] > 1.0 and len(heaps) < 12):
        gc.collect()  # drop Python proxies so their JVM objects become unreachable
        jvm.System.gc()
        time.sleep(0.25)
        heaps.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
    heap = heaps[-1]
    with open("/proc/self/status") as fh:
        rss = next(int(line.split()[1]) for line in fh if line.startswith("VmRSS:")) / 1024.0
    return {"live_mb": heap + rss, "jvm_heap_mb": heap, "python_rss_mb": rss, "gc_rounds": len(heaps)}


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this process plus the JVM (VmHWM)."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        with open(f"/proc/{jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
                    break
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def table_files(warehouse: str) -> dict[str, set[str]]:
    """Data files per catalog table directory (a local listing, no job)."""
    out = {}
    if not os.path.isdir(warehouse):
        return out
    for name in os.listdir(warehouse):
        d = os.path.join(warehouse, name)
        if os.path.isdir(d) and not name.startswith("."):
            out[name] = {f for f in os.listdir(d) if f.startswith("part-")}
    return out


def max_files_per_bucket(files: set[str]) -> int:
    """Bucketed part files end ``_<bucket>.c000...``; the largest number
    of files any one bucket holds (the scan fan-in a read pays)."""
    per: dict[str, int] = defaultdict(int)
    for f in files:
        stem = f.split(".c0", 1)[0]
        bucket = stem.rsplit("_", 1)[-1]
        if bucket.isdigit():
            per[bucket] += 1
    return max(per.values(), default=0)


def median(values) -> float:
    """The median; an empty sample raises ``statistics.StatisticsError``."""
    return statistics.median(list(values))
