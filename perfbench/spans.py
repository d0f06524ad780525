"""Per-call Spark counters read from outside the engine.

Each traced call runs under its own Spark job group. After the call the
tracer waits for the listener bus to drain, then reads the group's jobs
from ``statusTracker()`` and each stage's last attempt from the status
store. Nothing inside the engine is instrumented, so a traced call runs
the same plans as an untraced one; the cost of tracing is the drain and
the status-store reads between calls.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class CallStats:
    """What one traced call cost. Times in seconds, bytes in MB."""

    wall_s: float = 0.0
    jobs: int = 0
    stages_active_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    failed_tasks: int = 0
    extra: dict[str, float] = field(default_factory=dict)

    @property
    def driver_gap_s(self) -> float:
        """Wall time in which no stage of the call was active: the time
        executors waited on the driver (planning, job launch, collects)."""
        return max(0.0, self.wall_s - self.stages_active_s)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    end = float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


class Tracer:
    """Wraps calls in job groups and collects their :class:`CallStats`."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._tracker = self._sc.statusTracker()
        self._n = 0

    @contextmanager
    def call(self, name: str):
        """``with tracer.call("module.fn") as st: ...`` fills ``st`` on exit."""
        self._n += 1
        group = f"perfbench-{self._n}"
        self._sc.setJobGroup(group, name)
        st = CallStats()
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield st
        finally:
            st.wall_s = time.perf_counter() - p0
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
            self._collect(group, st, t0, t0 + st.wall_s)

    def _collect(self, group: str, st: CallStats, t0: float, t1: float) -> None:
        self._jsc.listenerBus().waitUntilEmpty()
        job_ids = self._tracker.getJobIdsForGroup(group)
        st.jobs = len(job_ids)
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        intervals = []
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # py4j: stage skipped (never attempted)
                continue
            st.exec_cpu_s += sd.executorCpuTime() / 1e9
            st.shuffle_mb += sd.shuffleWriteBytes() / 1e6
            st.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
            st.failed_tasks += sd.numFailedTasks()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                lo = max(t0, sub.get().getTime() / 1e3)
                hi = min(t1, done.get().getTime() / 1e3)
                if hi > lo:
                    intervals.append((lo, hi))
        st.stages_active_s = _union_length(intervals)


class NullTracer:
    """Same interface as :class:`Tracer`; times the call and nothing else."""

    @contextmanager
    def call(self, name: str):
        st = CallStats()
        p0 = time.perf_counter()
        try:
            yield st
        finally:
            st.wall_s = time.perf_counter() - p0
