"""The benchmark's correctness gates must fail on a corrupted view.

    python3 -m pytest perfbench/test_gates.py -q

Each test drives one workload at a tiny size through a few closed-loop
refreshes, checks that its gates pass, then corrupts a view through
the package's public calls and checks that the gates report it.
"""

from __future__ import annotations

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import run  # noqa: E402  (pins the environment before pyspark loads)

WORK = os.path.join(run.ROOT, ".perfbench_work", f"test-{os.getpid()}")


@pytest.fixture(scope="module")
def spark():
    shutil.rmtree(WORK, ignore_errors=True)
    run.pin_environment(WORK)
    from datafusion_delta_queries_spark.session import get_spark

    session = get_spark("perfbench-test")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    run.stop_spark(session)
    shutil.rmtree(WORK, ignore_errors=True)


def _tiny(spark, cls, name: str, **consts):
    import spans

    tiny = type(f"Tiny{cls.__name__}", (cls,), consts)
    w = tiny(spark, os.path.join(WORK, name), 7, spans.Tracer(False))
    w.setup()
    w.prepare()
    return w


def _loop(w, n: int) -> None:
    for _ in range(n):
        w.stage_next()
        w.step()


def test_append_join_gate_catches_a_duplicated_delta_row(spark):
    from workloads import AppendJoin

    w = _tiny(spark, AppendJoin, "aj", SF=0.002, BUCKETS=10, BASE=4, PRELOAD=1)
    _loop(w, 2)
    w.finish()
    assert w.failures == []
    v = w.view.latest_version()
    w.view.write_version(w.view.changes(spark, v - 1, v).limit(1))
    w.gate()
    assert any("view vs recompute" in f for f in w.failures)


def test_cdc_agg_gates_catch_a_corrupt_aggregate_and_join_view(spark):
    from pyspark.sql import functions as F

    from workloads import CdcAgg

    w = _tiny(spark, CdcAgg, "cdc", SF=0.002, CHECKPOINT_EVERY=2)
    _loop(w, 3)
    w.finish()
    assert w.failures == []

    # a change that never reached the log, applied to the stored state
    snap = w.cdf.snapshot(spark, w.version)
    ghost = snap.limit(1).withColumn("_change_type", F.lit("insert"))
    w.agg.refresh_signed(ghost, base_new_df=snap)
    w.gate()
    assert any("stored aggregate" in f for f in w.failures)
    assert not any("join view" in f for f in w.failures)

    # a signed join-view batch with one row too many
    w.failures.clear()
    v = w.view.latest_version()
    w.view.write_version(w.view.changes(spark, v - 1, v).limit(1))
    w.gate()
    assert any("join view" in f for f in w.failures)


def test_cdc_agg_gate_catches_a_commit_the_generator_did_not_make(spark):
    from pyspark.sql import functions as F

    from workloads import CdcAgg

    w = _tiny(spark, CdcAgg, "cdc2", SF=0.002, CHECKPOINT_EVERY=2)
    _loop(w, 1)
    extra = w.cdf.snapshot(spark, w.version).limit(1)
    w.version = w.cdf.write_version(extra.withColumn("_change_type", F.lit("delete")))
    w.finish()
    assert any("snapshot" in f for f in w.failures)
