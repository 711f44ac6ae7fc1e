"""`overlap.run_independent`: the one primitive that overlaps
independent Spark jobs — caller-order results, job-group inheritance,
sibling cancellation on failure, caller-order error selection."""

from __future__ import annotations

import time
import uuid

import pytest

from data_integration_openfoodfacts_spark.overlap import run_independent


def _wait_for_active_job(sc, timeout=60.0):
    deadline = time.time() + timeout
    while not sc.statusTracker().getActiveJobsIds():
        if time.time() > deadline:
            raise TimeoutError("no job started")
        time.sleep(0.05)


def test_results_in_caller_order(spark):
    def make(i):
        def thunk():
            # later thunks finish first
            time.sleep(0.1 * (3 - i))
            return i
        return thunk

    assert run_independent(spark, [make(i) for i in range(4)]) == [0, 1, 2, 3]
    assert run_independent(spark, []) == []


def test_every_job_lands_in_the_callers_group(spark):
    sc = spark.sparkContext
    group = f"overlap-{uuid.uuid4().hex}"

    def two_jobs():
        sc.parallelize(range(8), 2).count()
        return sc.parallelize(range(8), 2).count()

    sc.setJobGroup(group, "run_independent job-group test")
    try:
        assert run_independent(spark, [two_jobs] * 3) == [8, 8, 8]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 6


def test_failure_cancels_sibling_and_surfaces_its_own_error(spark):
    sc = spark.sparkContext

    def long_running():
        # minutes of work if nothing cancels it
        return spark.range(0, 10**13, 1, 2).selectExpr("sum(id)").first()

    def failing():
        _wait_for_active_job(sc)
        raise ValueError("injected failure")

    t0 = time.time()
    # the cancelled sibling comes FIRST in caller order: its
    # cancellation must not mask the error that caused it
    with pytest.raises(ValueError, match="injected failure"):
        run_independent(spark, [long_running, failing])
    assert time.time() - t0 < 60
    assert not sc.statusTracker().getActiveJobsIds()


def test_first_failure_in_caller_order_is_raised(spark):
    def fails_late():
        time.sleep(0.5)
        raise KeyError("first in caller order")

    def fails_early():
        raise ValueError("first in time")

    with pytest.raises(KeyError, match="first in caller order"):
        run_independent(spark, [fails_late, fails_early])
