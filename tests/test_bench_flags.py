"""bench.py's input check, host verdict and stall guard: any argument is
refused before a session starts, the record's host block is clean exactly
while no timed window lost more than perfbench's STEAL_MAX to the
hypervisor, and a hung entry costs one flagged entry, not the run."""

from __future__ import annotations

import os
import subprocess
import sys

import bench
from perfbench.run import STEAL_MAX

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_refuses_any_argument_before_a_session(tmp_path):
    """A flag bench.py no longer has (or never had) exits 2 with a usage
    line and no stdout record. JAVA_HOME points nowhere, so a JVM launch
    attempt would fail with a different exit code and a Java error."""
    env = dict(os.environ, JAVA_HOME=str(tmp_path / "no-jdk"))
    for argv in (["--require-idle"], ["--require_idle"], ["extra-positional"]):
        p = subprocess.run(
            [sys.executable, "bench.py", *argv], cwd=_REPO, env=env,
            capture_output=True, text=True, timeout=120,
        )
        assert p.returncode == 2, (argv, p.stderr)
        assert p.stdout == ""
        assert "usage" in p.stderr
        assert "JAVA_HOME" not in p.stderr and "Java gateway" not in p.stderr


def test_host_block_is_clean_until_a_window_steals_past_steal_max():
    def spans(*steals):
        return [{"steal": s} for s in steals]

    assert bench._host_block(spans(0.0, 0.01, STEAL_MAX)) == {
        "steal_max": round(STEAL_MAX, 4), "clean": True,
    }
    dirty = bench._host_block(spans(0.0, STEAL_MAX + 0.001, 0.01))
    assert dirty["clean"] is False
    assert dirty["steal_max"] == round(STEAL_MAX + 0.001, 4)
    assert bench._host_block([]) == {"steal_max": 0.0, "clean": True}


def test_window_cpu_survives_a_worker_exiting_mid_window():
    """A process of the tree that exits inside the window (an idle Python
    worker stopped by Spark, auto-reaped by the daemon) takes its CPU out
    of a whole-tree total; the per-process sum only loses its share of
    the window, and a reused pid counts as a new process."""
    before = {(1, 100): 50.0, (2, 200): 9.0, (3, 300): 4.0}
    after = {(1, 100): 51.5, (3, 300): 4.5, (4, 400): 0.25, (2, 900): 0.5}
    assert bench._window_cpu_s(before, after) == 1.5 + 0.5 + 0.25 + 0.5
    assert sum(after.values()) - sum(before.values()) < 0  # the old total

    live = bench._tree_cpu_by_process()
    assert any(pid == os.getpid() for pid, _ in live)
    assert all(v >= 0 for v in live.values())


def test_stall_guard_cancels_hung_entry(spark):
    """r14: a wedged entry must cost ONE flagged entry, not the whole
    artifact — the watchdog cancels the Spark jobs after the budget and
    the entry's action raises; a fast entry passes through untouched
    with its result intact."""
    import time as _t

    import pytest as _pt
    from py4j.protocol import Py4JJavaError

    # fast path: result returned, watchdog never fires
    assert bench._stall_guarded(spark, "fast", lambda: 42, budget_s=5.0) == 42

    # hung path: tasks that sleep for an hour — only a cancellation can
    # end this job. Budget 3 s so the stage is definitely RUNNING when
    # the watchdog fires (a cancel during planning is a no-op).
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _sleepy(s):
        _t.sleep(3600)
        return s

    _sleepy.__annotations__ = {"s": pd.Series, "return": pd.Series}
    sleepy = pandas_udf("long")(_sleepy)

    def long_job():
        return spark.range(8, numPartitions=4).select(sleepy("id")).collect()

    t0 = _t.monotonic()
    with _pt.raises(Py4JJavaError):
        bench._stall_guarded(spark, "hung", long_job, budget_s=3.0)
    assert _t.monotonic() - t0 < 120, "cancel did not interrupt the job"
