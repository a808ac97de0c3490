"""`parallel.run_concurrently`: results in argument order, an error
re-raised only once every thunk has ended, and every job in the
caller's job group."""

from __future__ import annotations

import time

import pytest

from full_etl_pipeline_for_algerian_pharmaceutical_insurance_predictor_using_databricks__spark.parallel import (
    run_concurrently,
)


def _after(delay: float, value):
    def thunk():
        time.sleep(delay)
        return value

    return thunk


def test_results_come_back_in_argument_order():
    assert run_concurrently(_after(0.2, "a"), _after(0.0, "b"), _after(0.1, "c")) == [
        "a",
        "b",
        "c",
    ]
    assert run_concurrently(_after(0.0, 1)) == [1]
    assert run_concurrently() == []


def test_error_is_raised_after_every_thunk_has_finished():
    finished = []

    def slow():
        time.sleep(0.3)
        finished.append("slow")

    def fails_now():
        raise ValueError("first")

    def fails_later():
        time.sleep(0.1)
        raise KeyError("second")

    # the calling thread's thunk fails at once; the others still end
    with pytest.raises(ValueError, match="first"):
        run_concurrently(fails_now, slow, fails_later)
    assert finished == ["slow"]
    # a thread's failure waits for the calling thread's thunk
    with pytest.raises(KeyError, match="second"):
        run_concurrently(slow, fails_later)
    assert finished == ["slow", "slow"]


def test_jobs_land_in_the_callers_job_group(spark):
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    before = max(tracker.getJobIdsForGroup(None), default=-1)
    sc.setJobGroup("run-concurrently-test", "three counts")
    try:
        counts = run_concurrently(
            lambda: spark.range(10).count(),
            lambda: spark.range(20).count(),
            lambda: spark.range(30).count(),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert counts == [10, 20, 30]
    assert len(tracker.getJobIdsForGroup("run-concurrently-test")) >= 3
    # job ids only grow: an ungrouped id above `before` left the group
    assert [j for j in tracker.getJobIdsForGroup(None) if j > before] == []
