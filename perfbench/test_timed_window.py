"""The query timer must cover every Spark job a query starts.

`pin()` runs `localCheckpoint(eager=False)` under AQE, which executes the
upstream shuffle stages while the query is being *built*, inside `fn()`. A
harness that starts its clock at the write misses that work. These tests
pin the benchmark's harness to the call-to-result window, and show that the
window check catches a harness that times only the write.

    python3 -m pytest perfbench/test_timed_window.py -q
"""

from __future__ import annotations

import os
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import batch  # noqa: E402
import gen  # noqa: E402
import probe  # noqa: E402


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from bigdata_streaming_absa_vehicle_spark.session import get_spark

    spark = get_spark("perfbench-test")
    sf_dir = str(tmp_path_factory.mktemp("sf"))
    gen.write_tables(gen.make_tables(7, 0.001, ("lineitem",)), sf_dir)
    yield spark, probe.SparkCounters(spark), sf_dir


def _pricing_summary():
    from bigdata_streaming_absa_vehicle_spark.queries import all_queries

    return all_queries()["q09_pricing_summary"].fn


def test_harness_window_covers_every_job(session):
    spark, counters, sf_dir = session
    fn = _pricing_summary()
    t_call, t_built, t_done = batch.timed_call(
        spark, fn, sf_dir, "t:harness", probe.Tracer(False), None)
    assert batch.window_violations(spark, counters, "t:harness", t_call, t_done) == []
    # the check only means something if building the query starts jobs
    assert batch.build_jobs(spark, counters, "t:harness", t_call, t_built) > 0


def test_write_only_timer_is_caught(session):
    spark, counters, sf_dir = session
    fn = _pricing_summary()
    spark.sparkContext.setJobGroup("t:write-only", "t:write-only")
    df = fn(spark, sf_dir)
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    t1 = time.time()
    assert batch.window_violations(spark, counters, "t:write-only", t0, t1) != []
