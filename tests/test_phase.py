"""The phase/overlap primitives in session.py: ``phase`` names a block's
Spark jobs and records its wall time, ``overlapped`` runs job chains on
driver threads that inherit the caller's job group and never outlive the
block."""

from __future__ import annotations

import threading
import time

import pytest

from pcap_converter_spark.session import overlapped, phase, phase_times

_DESC = "spark.job.description"


def test_phase_sets_and_restores_description(spark):
    sc = spark.sparkContext
    sc.setLocalProperty(_DESC, "outer")
    try:
        with phase(spark, "inner"):
            assert sc.getLocalProperty(_DESC) == "inner"
        assert sc.getLocalProperty(_DESC) == "outer"
        with pytest.raises(RuntimeError):
            with phase(spark, "failing"):
                assert sc.getLocalProperty(_DESC) == "failing"
                raise RuntimeError("boom")
        assert sc.getLocalProperty(_DESC) == "outer"
    finally:
        sc.setLocalProperty(_DESC, None)
    with phase(spark, "alone"):
        pass
    assert sc.getLocalProperty(_DESC) is None
    phase_times(spark)


def test_phase_records_duration_and_phase_times_clears(spark):
    phase_times(spark)
    with phase(spark, "a"):
        time.sleep(0.01)
    with phase(spark, "b"):
        pass
    times = phase_times(spark)
    assert set(times) == {"a", "b"}
    assert times["a"] >= 0.01
    assert times["b"] > 0
    assert phase_times(spark) == {}


def test_submit_error_reraises_from_result(spark):
    def fail():
        raise ValueError("background")

    with overlapped(spark) as submit:
        fut = submit("bg", fail)
        with pytest.raises(ValueError, match="background"):
            fut.result()
    phase_times(spark)


def test_caller_error_joins_background_first(spark):
    started, finished = threading.Event(), threading.Event()

    def slow():
        started.set()
        time.sleep(0.5)
        finished.set()

    with pytest.raises(RuntimeError, match="caller"):
        with overlapped(spark) as submit:
            submit("bg", slow)
            assert started.wait(10)
            raise RuntimeError("caller")
    assert finished.is_set(), "the block let the exception out before the join"
    phase_times(spark)


def test_overlap_jobs_join_the_callers_job_group(spark):
    """A job group's cancelJobGroup only reaches jobs that carry the
    group. An overlap thread inherits it; a plain thread does not, so
    jobs started there escape a caller's cancellation."""
    sc = spark.sparkContext
    sc.setJobGroup("g-overlap", "phase test")
    try:
        with overlapped(spark) as submit:
            submit("count", lambda: spark.range(10).count()).result()
        overlap_jobs = sc.statusTracker().getJobIdsForGroup("g-overlap")

        sc.setJobGroup("g-plain", "phase test")
        th = threading.Thread(target=lambda: spark.range(10).count())
        th.start()
        th.join()
        plain_jobs = sc.statusTracker().getJobIdsForGroup("g-plain")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty(_DESC, None)
    assert len(overlap_jobs) >= 1
    assert plain_jobs == []
    assert "count" in phase_times(spark)
