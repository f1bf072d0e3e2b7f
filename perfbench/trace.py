"""Spans around calls into albedo_spark modules, and the Spark counters
attributed to them.

A span records a layer name, its parent, and wall-clock start and end. In
a traced run each span also sets its own Spark job group, so every job
submitted while the span is the innermost one open belongs to it. After a
pass the counters of those jobs are read from ``statusTracker()`` and the
in-process status store (``sc._jsc.sc().statusStore()``); no UI and no
REST endpoint is involved. With tracing off a span only yields.

The interval arithmetic (self time, driver-only time) and the tail
percentile rule are plain functions so they can be tested without Spark.
"""

from __future__ import annotations

import itertools
import math
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

Interval = tuple[float, float]

#: Candidate percentiles for the latency tail, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``p``%
    of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest candidate percentile with at least ten samples strictly
    beyond it → ``(percentile, value, samples_beyond)``. With too few
    samples for any candidate, the median is returned with its count."""
    for p in TAIL_PERCENTILES:
        v = percentile(values, p)
        beyond = sum(1 for x in values if x > v)
        if beyond >= TAIL_MIN_BEYOND:
            return p, v, beyond
    v = percentile(values, 50.0)
    return 50.0, v, sum(1 for x in values if x > v)


def union(intervals: list[Interval]) -> list[Interval]:
    """Merge overlapping intervals into a sorted disjoint list."""
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def subtract(base: list[Interval], cuts: list[Interval]) -> list[Interval]:
    """The parts of ``base`` that no interval of ``cuts`` covers."""
    result: list[Interval] = []
    cuts = union(cuts)
    for a, b in union(base):
        cur = a
        for c, d in cuts:
            if d <= cur or c >= b:
                continue
            if c > cur:
                result.append((cur, c))
            cur = max(cur, d)
            if cur >= b:
                break
        if cur < b:
            result.append((cur, b))
    return result


def length(intervals: list[Interval]) -> float:
    return sum(b - a for a, b in union(intervals))


@dataclass
class Span:
    sid: int
    parent: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    group: str = ""
    children: list[int] = field(default_factory=list)


def self_intervals(spans: dict[int, Span], sid: int) -> list[Interval]:
    """A span's own time: its interval minus what its children cover."""
    s = spans[sid]
    kids = [(spans[c].start, spans[c].end) for c in s.children]
    return subtract([(s.start, s.end)], kids)


def driver_time(own: list[Interval], jobs: list[Interval]) -> float:
    """Seconds of ``own`` during which none of ``jobs`` was running: the
    span's busy time that the driver spent alone."""
    return length(subtract(own, jobs))


class Tracer:
    """Span recorder. ``sc`` is the SparkContext when tracing is on, else
    ``None`` and every span is a no-op."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: dict[int, Span] = {}
        # span ids, and so job-group names, are unique for the whole process:
        # reset() clears the spans but the status store keeps every job
        self._ids = itertools.count()
        self.stack: list[int] = []
        self.counts: dict[str, float] = {}
        self.overhead_s = 0.0

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def _set_group(self, sid: int | None) -> None:
        if sid is None:
            self.sc._jsc.clearJobGroup()
        else:
            s = self.spans[sid]
            self.sc.setJobGroup(s.group, f"{s.layer}: {s.name}")

    @contextmanager
    def span(self, layer: str, name: str = ""):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sid = next(self._ids)
        parent = self.stack[-1] if self.stack else None
        s = Span(sid, parent, layer, name or layer, 0.0, group=f"perfbench-{sid}")
        self.spans[sid] = s
        if parent is not None:
            self.spans[parent].children.append(sid)
        self.stack.append(sid)
        self._set_group(sid)
        self.overhead_s += time.perf_counter() - t0
        s.start = time.time()
        try:
            yield
        finally:
            s.end = time.time()
            t0 = time.perf_counter()
            self.stack.pop()
            self._set_group(self.stack[-1] if self.stack else None)
            self.overhead_s += time.perf_counter() - t0

    def count(self, key: str, value: float) -> None:
        """Record a row count at a layer boundary (traced runs only)."""
        if self.enabled:
            self.counts[key] = self.counts.get(key, 0) + value

    def reset(self) -> None:
        self.spans.clear()
        self.stack.clear()
        self.counts.clear()
        self.overhead_s = 0.0


def _epoch_s(opt) -> float | None:
    """Scala ``Option[java.util.Date]`` → epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def wait_for_listeners(sc) -> None:
    """Block until the listener bus has delivered every event, so the
    status store holds the jobs that already returned."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def layer_counters(sc, tracer: Tracer) -> tuple[dict, dict]:
    """Per-layer counters of the spans recorded since the last reset →
    ``({layer: {counter: value}}, spark_totals)``.

    Each Spark stage is counted once, for the first job that ran it;
    skipped stages (reused shuffle output) count nothing."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    seen_stages: set[int] = set()
    layers: dict[str, dict[str, float]] = {}
    totals = {"stages": 0, "wait_s": 0.0, "failed_tasks": 0}
    spans = tracer.spans
    for sid in sorted(spans):
        s = spans[sid]
        own = self_intervals(spans, sid)
        job_iv: list[Interval] = []
        c = layers.setdefault(s.layer, {
            "busy_s": 0.0, "driver_s": 0.0, "jobs": 0, "tasks": 0,
            "task_s": 0.0, "shuffle_bytes": 0, "gc_s": 0.0,
        })
        for jid in sorted(tracker.getJobIdsForGroup(s.group)):
            job = store.job(jid)
            c["jobs"] += 1
            a, b = _epoch_s(job.submissionTime()), _epoch_s(job.completionTime())
            if a is not None and b is not None:
                job_iv.append((a, b))
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                st_id = stage_ids.apply(i)
                if st_id in seen_stages:
                    continue
                st = store.lastStageAttempt(st_id)
                sub = _epoch_s(st.submissionTime())
                # a reused shuffle stage keeps the record of the earlier job
                # that ran it; it is not this job's work
                if st.status().toString() == "SKIPPED" or sub is None or (
                    a is not None and sub < a
                ):
                    continue
                seen_stages.add(st_id)
                c["tasks"] += st.numCompleteTasks()
                c["task_s"] += st.executorRunTime() / 1000.0
                c["shuffle_bytes"] += st.shuffleWriteBytes()
                c["gc_s"] += st.jvmGcTime() / 1000.0
                totals["stages"] += 1
                totals["failed_tasks"] += st.numFailedTasks()
                first = _epoch_s(st.firstTaskLaunchedTime())
                if first is not None:
                    totals["wait_s"] += max(0.0, first - sub)
        c["busy_s"] += length(own)
        c["driver_s"] += driver_time(own, job_iv)
    return layers, totals


def storage_bytes(sc) -> int:
    """Bytes held by cached RDDs (memory plus disk) right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def jvm_gc_s(sc) -> float:
    """Cumulative garbage-collection time of the driver JVM."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def jvm_pid(sc) -> int:
    name = sc._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getName()
    return int(str(name).split("@", 1)[0])


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (``VmHWM``) of ``pids``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
