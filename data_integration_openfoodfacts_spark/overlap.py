"""Overlap independent Spark jobs from one driver.

Spark runs jobs submitted from different driver threads concurrently,
so independent actions (the sinks of a star schema, the deltas of one
store batch) can fill each other's straggler tails instead of leaving
the local cluster idle between them. A plain thread pool loses the
caller's local properties, though: PySpark pins each Python thread to
its own JVM thread, so a job group (and everything keyed on it —
status-tracker counters, ``cancelJobGroup``) misses the pooled jobs.
``run_independent`` is the one primitive that overlaps jobs without
losing them.
"""

from __future__ import annotations

import threading
import uuid
from typing import Any, Callable, Sequence

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

__all__ = ["run_independent"]


def run_independent(
    spark: SparkSession, thunks: Sequence[Callable[[], Any]]
) -> list[Any]:
    """Run every thunk on its own thread; return their results in the
    caller's order.

    Contract: the thunks are independent — each writes a store (table,
    directory, sidecar) that no other thunk and nobody else touches
    while this call runs. Nothing here orders their side effects, so
    whatever must happen in a defined order (a version log, a commit
    marker) belongs to the caller, before or after this call.

    - Each thread starts from the caller's local properties
      (``inheritable_thread_target``): the job group, scheduler pool
      and job tags set by the caller reach every job a thunk runs.
    - On the first failure every sibling's jobs are cancelled through
      a per-call job tag, also the ones a sibling launches after it.
    - The failure re-raised is the first in CALLER order, never the
      first in time, so the error a caller sees does not depend on
      thread timing. A sibling's job that failed only because this
      call cancelled it is not a failure of its own.
    """
    sc = spark.sparkContext
    tag = f"run_independent-{uuid.uuid4().hex}"
    results: list[Any] = [None] * len(thunks)
    errors: list[BaseException | None] = [None] * len(thunks)
    failed = threading.Event()

    def body(i: int, thunk: Callable[[], Any]) -> None:
        sc.addJobTag(tag)
        try:
            results[i] = thunk()
        except BaseException as e:  # noqa: BLE001 — re-raised below
            errors[i] = e
            failed.set()
            sc.cancelJobsWithTag(tag)

    threads = [
        threading.Thread(
            target=inheritable_thread_target(spark)(body), args=(i, t)
        )
        for i, t in enumerate(thunks)
    ]
    for t in threads:
        t.start()
    try:
        for t in threads:
            while t.is_alive():
                t.join(0.1)
                if failed.is_set():
                    # a sibling between two jobs when the first cancel
                    # went out would otherwise run its next job in full
                    sc.cancelJobsWithTag(tag)
    except BaseException:
        sc.cancelJobsWithTag(tag)
        raise
    raised = [e for e in errors if e is not None]
    if raised:
        own = [e for e in raised if tag not in str(e)]
        raise (own or raised)[0]
    return results
