"""Tests for the benchmark's own helpers: the percentile rule, the CPU-time
counter, the process clean-up, span bookkeeping, and the event-log reader
on a tiny local session.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.trace import Tracer, event_log_files, read_event_log  # noqa: E402
from perfbench.workloads import cpu_seconds  # noqa: E402


def test_percentile_interpolates():
    assert stats.percentile([1, 2, 3, 4], 50) == 2.5
    assert stats.percentile([5], 90) == 5
    assert stats.percentile(list(range(101)), 90) == 90


def test_geomean():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    assert stats.geomean([0.5, 0.5, 0.5]) == pytest.approx(0.5)


def test_tail_needs_ten_samples_beyond():
    assert stats.reportable(100, 90)
    assert not stats.reportable(99, 90)
    assert stats.reportable(20, 50)
    assert not stats.reportable(19, 50)
    assert not stats.reportable(999, 99)
    assert stats.tail(list(range(99)), 90) is None
    assert stats.tail(list(range(100)), 90) == pytest.approx(89.1)


def test_cpu_seconds_counts_child_processes():
    import subprocess

    c0 = cpu_seconds()
    subprocess.run([sys.executable, "-c", "sum(i * i for i in range(3_000_000))"], check=True)
    assert cpu_seconds() - c0 >= 0.1


def test_stop_children_ends_children_and_grandchildren():
    import subprocess
    import textwrap

    from perfbench.run import _alive

    script = textwrap.dedent(
        """
        import os, subprocess, sys, time
        sys.path.insert(0, sys.argv[1])
        from perfbench.run import adopt_orphans, descendants, stop_children
        adopt_orphans()
        subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60"])
        time.sleep(0.5)
        started = descendants(os.getpid())
        stop_children(grace=0.2)
        print(" ".join(map(str, sorted(started))))
        print(len(descendants(os.getpid())))
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", script, ROOT], capture_output=True, text=True, check=True
    ).stdout.splitlines()
    started = [int(p) for p in out[0].split()]
    assert len(started) >= 2  # the shell or its foreground sleep, and the background sleep
    assert out[1] == "0"  # no process below it, not even a zombie
    assert not any(_alive(pid) for pid in started)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("a", "op") as s:
        assert s is None
    assert t.spans == []


def test_span_tree_and_totals():
    t = Tracer(enabled=True)
    with t.span("op", "op") as op:
        with t.span("construct", "plans") as c1:
            pass
        with t.span("exec", "exec") as c2:
            pass
    assert (c1.parent, c2.parent, op.parent) == (op.id, op.id, None)
    assert t.children(op) == [c1, c2]
    c1.spark, c2.spark = {"jobs": 1}, {"jobs": 2, "tasks": 4}
    assert t.totals([op]) == {"jobs": 3, "tasks": 4}
    # a span listed twice, or with its parent, is counted once
    assert t.totals([op, c2]) == {"jobs": 3, "tasks": 4}


@pytest.fixture(scope="module")
def traced_session(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("events")
    spark = (
        SparkSession.builder.master("local[1]")
        .appName("perfbench-trace-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    t = Tracer(spark, enabled=True)

    def passthrough(batches):
        yield from batches

    with t.span("outer", "op") as outer:
        spark.range(10).selectExpr("sum(id)").collect()
        with t.span("inner", "exec") as inner:
            spark.range(0, 100, 1, 4).mapInArrow(passthrough, "id long").groupBy(
                "id"
            ).count().collect()
    spark.range(5).collect()  # untagged: belongs to no span
    spark.stop()
    per_group = read_event_log(event_log_files(str(log_dir)))
    t.attach(per_group)
    return t, outer, inner, per_group


def test_jobs_map_to_the_span_that_launched_them(traced_session):
    t, outer, inner, per_group = traced_session
    assert set(per_group) == {outer.id, inner.id}
    assert outer.spark["jobs"] >= 1 and inner.spark["jobs"] >= 1
    assert outer.spark["py_nodes"] == 0
    assert t.totals([outer])["jobs"] == outer.spark["jobs"] + inner.spark["jobs"]


def test_event_log_reads_tasks_shuffle_and_python_metrics(traced_session):
    _t, _outer, inner, _g = traced_session
    s = inner.spark
    assert s["stages"] >= 2 and s["tasks"] >= s["stages"]
    assert s["task_run_ms"] >= 0 and s["task_cpu_ns"] > 0
    assert s["shuffle_write_bytes"] > 0 and s["shuffle_read_bytes"] > 0
    assert s["py_nodes"] == 1
    assert s["py_sent_bytes"] > 0 and s["py_received_bytes"] > 0
    assert s["py_task_run_ms"] <= s["task_run_ms"]
