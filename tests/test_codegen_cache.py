"""The session's cache of Janino-compiled classes holds the working set.

Spark's default `spark.sql.codegen.cache.maxEntries` is 100 classes,
fewer than one pass of the pipeline workload generates, so the LRU
cache thrashed and every warm query compiled its classes again.
`build_session` sizes it to `CODEGEN_CACHE_ENTRIES`; the conf is
static, so a session the engine did not build only gets a warning.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from ondemand_dask_spark.session import CODEGEN_CACHE_ENTRIES, ensure_session_conf

_KEY = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    """JVM-wide count of Janino compilations (cache misses)."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _projection_round(spark, n: int) -> None:
    for i in range(n):
        df = spark.range(4, numPartitions=1).select(
            (F.col("id") * F.lit(i) + F.lit(7 * i)).alias("x")
        )
        df.write.format("noop").mode("overwrite").save()


def test_build_session_sizes_codegen_cache(spark):
    assert spark.conf.get(_KEY) == str(CODEGEN_CACHE_ENTRIES)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ensure_session_conf(spark)


def test_warm_queries_reuse_compiled_classes(spark):
    before = _compiles(spark)
    _projection_round(spark, 150)
    first = _compiles(spark) - before
    # More distinct classes than Spark's default cap of 100 ...
    assert first > 100
    _projection_round(spark, 150)
    # ... and the second round compiles none of them again.
    assert _compiles(spark) - before == first


class _Conf:
    def __init__(self, entries: int):
        self.entries = str(entries)

    def set(self, key, value):
        raise RuntimeError("stub session: conf is read-only")

    def get(self, key):
        assert key == _KEY
        return self.entries


class _Session:
    def __init__(self, entries: int):
        self.conf = _Conf(entries)


def test_ensure_session_conf_warns_on_small_codegen_cache():
    with pytest.warns(UserWarning, match=rf"{_KEY}=100 .*{CODEGEN_CACHE_ENTRIES}"):
        ensure_session_conf(_Session(100))


def test_ensure_session_conf_quiet_on_large_codegen_cache():
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        ensure_session_conf(_Session(CODEGEN_CACHE_ENTRIES))
