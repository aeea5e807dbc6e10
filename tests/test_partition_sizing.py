"""Partition counts on the two paths AQE does not size by default.

Cached frames: with `canChangeCachedPlanOutputPartitioning` off (the
Spark 4.1 default) a `.cache()`d shuffled frame keeps every one of
`spark.sql.shuffle.partitions`, and each downstream scan runs that
many near-empty tasks.  Streaming state: AQE never resizes a state
store, so `run_to_table` starts each query at `defaultParallelism`
shuffle partitions and restores the session value afterwards.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ondemand_dask_spark.session import (
    _parallelism_first,
    build_session,
    ensure_session_conf,
)
from ondemand_dask_spark.streaming.jobs import (
    read_events_stream,
    run_to_table,
    tumbling_agg,
)

_CACHED = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
_SHUFFLE = "spark.sql.shuffle.partitions"


@pytest.fixture
def wide_shuffle(spark):
    """Session shuffle-partition count well above the cluster width,
    restored after the test."""
    prior = spark.conf.get(_SHUFFLE)
    wide = max(32, 4 * spark.sparkContext.defaultParallelism)
    spark.conf.set(_SHUFFLE, str(wide))
    yield wide
    spark.conf.set(_SHUFFLE, prior)


def test_cached_shuffled_frame_coalesces_to_cluster_width(spark, wide_shuffle):
    assert spark.conf.get(_CACHED) == "true"
    cached = (
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().cache()
    )
    try:
        assert cached.count() == 7
        n = cached.select("k").rdd.getNumPartitions()
        assert n <= spark.sparkContext.defaultParallelism < wide_shuffle
    finally:
        cached.unpersist()


def test_ensure_session_conf_enables_cached_plan_coalescing(spark):
    spark.conf.set(_CACHED, "false")
    try:
        ensure_session_conf(spark)
        assert spark.conf.get(_CACHED) == "true"
    finally:
        spark.conf.set(_CACHED, "true")


def _tumbling_stream(spark, sf_dir):
    return tumbling_agg(read_events_stream(spark, sf_dir))


def test_run_to_table_state_follows_default_parallelism(
    spark, sf_dir, wide_shuffle, monkeypatch
):
    started = []
    real_start = DataStreamWriter.start

    def spy(self, *a, **kw):
        q = real_start(self, *a, **kw)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", spy)
    out = run_to_table(spark, _tumbling_stream(spark, sf_dir), "t_sizing", "complete")
    assert out.count() > 0
    assert spark.conf.get(_SHUFFLE) == str(wide_shuffle)
    (q,) = started
    ops = q.lastProgress["stateOperators"]
    assert ops, "tumbling aggregation should report a state operator"
    width = spark.sparkContext.defaultParallelism
    assert all(op["numShufflePartitions"] == width for op in ops)


def test_run_to_table_restores_partitions_when_start_raises(
    spark, sf_dir, wide_shuffle, monkeypatch
):
    seen = []

    def failing_start(self, *a, **kw):
        seen.append(spark.conf.get(_SHUFFLE))
        raise RuntimeError("start failed")

    monkeypatch.setattr(DataStreamWriter, "start", failing_start)
    with pytest.raises(RuntimeError, match="start failed"):
        run_to_table(spark, _tumbling_stream(spark, sf_dir), "t_fail", "complete")
    assert seen == [str(spark.sparkContext.defaultParallelism)]
    assert spark.conf.get(_SHUFFLE) == str(wide_shuffle)


@pytest.mark.parametrize("raw, want", [("TRUE", "true"), (" false ", "false")])
def test_parallelism_first_accepts_true_false_any_case(monkeypatch, raw, want):
    monkeypatch.setenv("SPARK_GRAFT_PARALLELISM_FIRST", raw)
    assert _parallelism_first() == want


def test_parallelism_first_defaults_to_true(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_PARALLELISM_FIRST", raising=False)
    assert _parallelism_first() == "true"


@pytest.mark.parametrize("raw", ["1", "yes", ""])
def test_parallelism_first_rejects_other_values(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_PARALLELISM_FIRST", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_PARALLELISM_FIRST"):
        build_session()
