"""Contract of the one overlap primitive every concurrent leg in the
package goes through (:func:`quty_server_spark.operators._helpers.overlap`):
leg-ordered results, every leg joined, no swallowed worker failure, and
the caller's Spark local properties visible to worker legs."""

from __future__ import annotations

import threading
import time

import pytest

from quty_server_spark.operators._helpers import overlap


def test_results_come_back_in_leg_order():
    def slow(v):
        def leg():
            time.sleep(0.05 * (3 - v))
            return v

        return leg

    assert overlap(slow(0), slow(1), slow(2)) == [0, 1, 2]
    assert overlap(lambda: "only") == ["only"]


def test_failing_worker_leg_raises_when_caller_leg_succeeds():
    done = []

    def worker():
        time.sleep(0.05)
        raise ValueError("worker leg")

    with pytest.raises(ValueError, match="worker leg"):
        overlap(lambda: done.append("caller"), worker)
    assert done == ["caller"]


def test_first_failure_in_leg_order_raised_with_others_attached():
    finished = threading.Event()

    def caller():
        raise KeyError("first")

    def worker():
        time.sleep(0.1)  # fails AFTER the caller leg: still joined
        finished.set()
        raise RuntimeError("second")

    with pytest.raises(KeyError) as ei:
        overlap(caller, worker)
    assert finished.is_set()
    notes = getattr(ei.value, "__notes__", [])
    assert any("second" in n for n in notes), notes


def test_worker_leg_sees_callers_job_group(spark):
    sc = spark.sparkContext
    key = "spark.jobGroup.id"
    old = sc.getLocalProperty(key)
    sc.setLocalProperty(key, "overlap-test-group")
    try:
        seen = overlap(
            lambda: sc.getLocalProperty(key),
            lambda: sc.getLocalProperty(key),
            lambda: spark.range(10).count(),  # a job from a worker leg
        )
    finally:
        sc.setLocalProperty(key, old)
    assert seen == ["overlap-test-group", "overlap-test-group", 10]
