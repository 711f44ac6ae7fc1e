"""Per-layer counters read from Spark's status store, outside the program.

A span is one call into a public function of the package. Every job
submitted between the span's entry and its exit belongs to it: the
span remembers the newest job id before the call and, once the call
returns, takes every job with a larger id (a job-id window). Job
groups are not used, because plain ``ThreadPoolExecutor`` threads
inside the package do not inherit the caller's job group and their
jobs would go uncounted. The harness is a closed loop with one
client, so no other caller submits jobs inside a window.

The listener bus is drained before every read, and each span is read
right after it returns: the status store keeps only the newest
``spark.ui.retainedJobs`` jobs and ``spark.ui.retainedStages`` stages
(1,000 each by default).
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, fields

#: counters every span reports, in metric-name order
COUNTERS = ("wall_s", "jobs", "tasks", "exec_cpu_s", "shuffle_write_mb", "driver_gap")
COUNTER_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "exec_cpu_s": "s",
    "shuffle_write_mb": "MB",
    "driver_gap": "ratio",
}


@dataclass
class SpanStats:
    """Counters of one or more calls of a span, summed."""

    wall_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    failed_tasks: int = 0
    output_mb: float = 0.0
    #: seconds of the wall during which at least one job was active
    job_active_s: float = 0.0
    #: seconds the tracer itself spent around the call (draining the
    #: listener bus, reading the status store): what tracing adds
    trace_s: float = 0.0

    @property
    def driver_gap(self) -> float:
        """Share of the wall with no job active: 1 - union(job intervals) / wall."""
        if self.wall_s <= 0:
            return 0.0
        return 1.0 - self.job_active_s / self.wall_s

    def add(self, other: SpanStats) -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))

    def counters(self) -> dict[str, float]:
        return {name: getattr(self, name) for name in COUNTERS}


def _union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals``, clipped to [lo, hi]."""
    total = 0.0
    end = lo
    for start, stop in sorted(intervals):
        start, stop = max(start, end), min(stop, hi)
        if stop > start:
            total += stop - start
            end = stop
    return total


class StatusStore:
    """Reads jobs and stages of the live application over Py4J."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        jsc = self._sc._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def newest_job_id(self) -> int:
        """Largest job id submitted so far, -1 before the first job."""
        self._drain()
        jobs = self._store.jobsList(None)  # newest first
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    def _jobs_after(self, job_id: int) -> list:
        self._drain()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.length()):
            job = jobs.apply(i)
            if job.jobId() <= job_id:
                break
            out.append(job)
        return out

    def measure(self, call):
        """Run ``call()``; return its result and the span's counters."""
        enter = time.perf_counter()
        before = self.newest_job_id()
        t0 = time.time()
        start = time.perf_counter()
        result = call()
        wall = time.perf_counter() - start
        stats = self.stats_since(before, t0, t0 + wall)
        stats.trace_s = time.perf_counter() - enter - wall
        return result, stats

    def stats_since(self, job_id: int, t0: float, t1: float) -> SpanStats:
        """Counters of the jobs newer than ``job_id``, for a span [t0, t1]."""
        jobs = self._jobs_after(job_id)
        stats = SpanStats(wall_s=t1 - t0, jobs=len(jobs))
        intervals = []
        stage_ids = set()
        for job in jobs:
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                stop = done.get().getTime() / 1000 if done.isDefined() else t1
                intervals.append((sub.get().getTime() / 1000, stop))
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.length()))
        stats.job_active_s = _union_seconds(intervals, t0, t1)
        for sid in sorted(stage_ids):
            stage = self._store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            failed = stage.numFailedTasks()
            stats.tasks += stage.numCompleteTasks() + failed + stage.numKilledTasks()
            stats.failed_tasks += failed
            stats.exec_cpu_s += stage.executorCpuTime() / 1e9
            stats.shuffle_write_mb += stage.shuffleWriteBytes() / 1e6
            stats.output_mb += stage.outputBytes() / 1e6
        return stats

    def group_job_count(self, group: str) -> int:
        self._drain()
        return len(self._sc.statusTracker().getJobIdsForGroup(group))


def self_test(spark, store: StatusStore) -> dict[str, int]:
    """Pin job-id-window attribution: one job from the calling thread
    and two from plain pool threads must all land in the span, though
    the pool threads drop the caller's job group.

    Returns the counts; the caller fails the run unless
    ``window_jobs == expected_jobs``.
    """
    sc = spark.sparkContext
    group = "perfbench-self-test"

    def one_job() -> int:
        return sc.parallelize(range(4), 2).count()

    def call() -> None:
        one_job()
        with ThreadPoolExecutor(max_workers=2) as pool:
            for future in [pool.submit(one_job) for _ in range(2)]:
                future.result()

    sc.setJobGroup(group, "job-id window self-test")
    try:
        _, stats = store.measure(call)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return {
        "expected_jobs": 3,
        "window_jobs": stats.jobs,
        "group_jobs": store.group_job_count(group),
    }
