"""Per-call Spark accounting read from outside the engine.

A traced call runs under its own job group.  When it returns, the
listener bus is drained and Spark's status store is read for every job the
call started: job intervals, and per stage the completed tasks, executor
CPU time, input bytes, shuffle-write bytes and GC time.  Nothing inside
the package is instrumented.

Jobs submitted from threads the call starts itself (the build's write
pool) do not inherit the job group, so they are picked up by id: the
benchmark is a single client, so every job newer than the last one seen
belongs to the call in flight.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


@dataclass
class CallTrace:
    kind: str
    wall_s: float
    jobs: int = 0
    tasks: int = 0
    driver_s: float = 0.0
    executor_cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    gc_s: float = 0.0


@dataclass
class Tracer:
    """Times calls; with ``enabled`` also attributes Spark work to them."""

    spark: object
    enabled: bool
    calls: list[CallTrace] = field(default_factory=list)
    read_s: float = 0.0
    _seq: int = 0
    _last_job: int = -1

    def __post_init__(self) -> None:
        self._sc = self.spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def _ungrouped_jobs(self) -> list[int]:
        return list(self._sc.statusTracker().getJobIdsForGroup(None))

    def run(self, kind: str, fn):
        """Run ``fn()``; return ``(result, wall_s)``.  With tracing on, the
        call's Spark work is appended to ``calls``; ``wall_s`` excludes the
        status-store read that follows the call (``read_s`` sums those)."""
        if not self.enabled:
            t0 = time.perf_counter()
            out = fn()
            return out, time.perf_counter() - t0
        # jobs run since the last traced call are not this call's
        self._last_job = max(self._ungrouped_jobs(), default=self._last_job)
        self._seq += 1
        group = f"perfbench-{self._seq}"
        self._sc.setJobGroup(group, kind)
        t0_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        try:
            out = fn()
        finally:
            wall = time.perf_counter() - t0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        r0 = time.perf_counter()
        self.calls.append(self._collect(kind, group, wall, t0_ms))
        self.read_s += time.perf_counter() - r0
        return out, wall

    def _collect(self, kind: str, group: str, wall: float, t0_ms: float) -> CallTrace:
        self._jsc.listenerBus().waitUntilEmpty()
        ids = set(self._sc.statusTracker().getJobIdsForGroup(group))
        ids |= {j for j in self._ungrouped_jobs() if j > self._last_job}
        if ids:
            self._last_job = max(self._last_job, max(ids))
        store = self._jsc.statusStore()
        ct = CallTrace(kind, wall, jobs=len(ids))
        intervals, stages = [], set()
        for j in ids:
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            seq = jd.stageIds()
            stages.update(seq.apply(i) for i in range(seq.length()))
        for s in stages:
            sd = store.lastStageAttempt(s)
            ct.tasks += sd.numCompleteTasks()
            ct.executor_cpu_s += sd.executorCpuTime() / 1e9
            ct.input_bytes += sd.inputBytes()
            ct.shuffle_write_bytes += sd.shuffleWriteBytes()
            ct.gc_s += sd.jvmGcTime() / 1e3
        ct.driver_s = max(0.0, wall - _union_s(intervals, t0_ms, t0_ms + wall * 1000.0))
        return ct


def _union_s(intervals: list[tuple[int, int]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] (ms) covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total / 1000.0


#: per-call Spark figures: metric name -> (CallTrace field, unit)
FIELDS = {
    "jobs_per_call": ("jobs", "count"),
    "driver_s_per_call": ("driver_s", "s"),
    "tasks_per_call": ("tasks", "count"),
    "executor_cpu_s_per_call": ("executor_cpu_s", "s"),
    "input_bytes_per_call": ("input_bytes", "bytes"),
    "shuffle_write_bytes_per_call": ("shuffle_write_bytes", "bytes"),
    "gc_s_per_call": ("gc_s", "s"),
}


def summarize(calls: list[CallTrace], prefix: str) -> dict[str, float]:
    """Mean Spark work per call over ``calls``, named ``<prefix>.<metric>``."""
    n = max(1, len(calls))
    return {
        f"{prefix}.{name}": sum(getattr(c, f) for c in calls) / n
        for name, (f, _) in FIELDS.items()
    }
