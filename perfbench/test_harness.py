"""The harness's result checks are not vacuous: a deliberately wrong batch
result or streaming twin raises ``failed_share`` while the other queries
still pass.

Run from the repository root: ``python3 -m pytest perfbench/test_harness.py``
"""

from __future__ import annotations

import dataclasses
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import run as harness  # noqa: E402
from workloads import Twin, Workload  # noqa: E402

WL = Workload(
    batch=("q6_forecast_revenue", "events_tumbling_hourly"),
    twins=(Twin("stream_tumbling_counts", "events_tumbling_hourly"),),
    tables=("lineitem", "events"),
)


@pytest.fixture(scope="module")
def bench_env(tmp_path_factory):
    run_dir = str(tmp_path_factory.mktemp("perfbench"))
    harness.isolate(run_dir)
    sf_dir = os.path.join(run_dir, "data")
    made = datagen.generate(sf_dir, seed=7, scale=0.02, tables=WL.tables)
    stream_dir = os.path.join(run_dir, "stream")
    datagen.write_event_stream(made["events"], stream_dir)
    from mapreduce_4sl08_spark.session import get_session
    spark = get_session("perfbench-test",
                        extra_conf=harness.session_conf(run_dir))
    yield spark, run_dir, sf_dir, stream_dir, made["events"]
    harness.stop_spark(spark)


def _check(bench_env, tag: str) -> harness.Run:
    spark, run_dir, sf_dir, stream_dir, events = bench_env
    run = harness.Run(spark, WL, sf_dir, stream_dir,
                      os.path.join(run_dir, "ckpt", tag), events)
    oracle = harness.oracle_runner(sf_dir, WL.tables, run.batch, run.queries)
    run.check_pass(oracle)
    return run


def test_correct_results_pass(bench_env):
    run = _check(bench_env, "ok")
    assert run.failures == {}
    assert run.attempted == 3
    assert run.failed_share == 0.0


def test_wrong_batch_result_raises_failed_share(bench_env, monkeypatch):
    from pyspark.sql import functions as F

    from mapreduce_4sl08_spark.plans import QUERIES
    spec = QUERIES["q6_forecast_revenue"]

    def off_by_a_cent(spark, sf_dir):
        df = spec.fn(spark, sf_dir)
        first = df.columns[0]
        return df.withColumn(first, F.col(first) + F.lit(0.01))

    monkeypatch.setitem(QUERIES, spec.name,
                        dataclasses.replace(spec, fn=off_by_a_cent))
    run = _check(bench_env, "bad_batch")
    assert set(run.failures) == {"q6_forecast_revenue"}
    assert run.failed_share == pytest.approx(1 / 3)
    assert "q6_forecast_revenue" not in run.batch  # left out of later passes
    assert run.batch == ["events_tumbling_hourly"]


def test_wrong_twin_result_raises_failed_share(bench_env, monkeypatch):
    from pyspark.sql import functions as F

    from mapreduce_4sl08_spark.streaming import ops
    real = ops.stream_tumbling_counts

    def drops_clicks(events, **kw):
        return real(events, **kw).filter(F.col("event_type") != "click")

    monkeypatch.setattr(ops, "stream_tumbling_counts", drops_clicks)
    run = _check(bench_env, "bad_twin")
    assert set(run.failures) == {"stream_tumbling_counts"}
    assert run.failed_share == pytest.approx(1 / 3)
    assert run.twins == []
