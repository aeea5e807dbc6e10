"""operators.checkpoint.release_local_checkpoint — the storage truth.

Pins the two facts the helper exists for: (1) plain unpersist() on a
localCheckpointed frame does NOT free its blocks (if Spark ever fixes
this, the xfail-style assertion below flags the helper as obsolete);
(2) the LogicalRDD-level release DOES free them, immediately visible
in getRDDStorageInfo.
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from ondemand_dask_spark.operators.checkpoint import release_local_checkpoint


def _cached_rdd_ids(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def test_unpersist_is_noop_but_release_frees(spark):
    df = spark.range(50_000).select(
        F.col("id").alias("a"), (F.col("id") * 3).alias("b")
    )
    before = _cached_rdd_ids(spark)
    ck = df.localCheckpoint()
    with_ck = _cached_rdd_ids(spark) - before
    assert with_ck, "localCheckpoint should register cached blocks"

    ck.unpersist(True)
    assert with_ck <= _cached_rdd_ids(spark), (
        "DataFrame.unpersist() now releases checkpoint blocks — "
        "release_local_checkpoint may be obsolete"
    )

    assert release_local_checkpoint(ck)
    assert not (with_ck & _cached_rdd_ids(spark))


def test_release_is_safe_on_non_checkpointed(spark):
    df = spark.range(10).select(F.col("id").alias("a"))
    assert release_local_checkpoint(df) is False
    cached = df.cache()
    cached.count()
    assert release_local_checkpoint(cached) is False  # cache path untouched
    cached.unpersist()


def test_retained_caches_evicts_checkpointed_and_cached(spark):
    """RetainedCaches.evict must free BOTH kinds of retained frame:
    plain caches via unpersist, localCheckpoints via the LogicalRDD
    release (the round-5 ADVICE fix — graph.py's old evict used bare
    unpersist, a silent no-op on its checkpointed k-core edges)."""
    from ondemand_dask_spark.operators.checkpoint import RetainedCaches

    rc = RetainedCaches()
    before = _cached_rdd_ids(spark)
    ck = rc.retain(spark.range(20_000).localCheckpoint())
    ca = rc.retain(spark.range(20_000).cache())
    ca.count()
    held = _cached_rdd_ids(spark) - before
    assert held, "retained frames should hold storage blocks"
    rc.evict()
    assert not (held & _cached_rdd_ids(spark)), (
        "evict() left retained storage blocks behind"
    )


def test_module_caches_use_release_aware_eviction():
    """Every query module with a retain/evict discipline must use the
    shared RetainedCaches (release-aware) — not a local bare-unpersist
    copy, which is how the graph.py leak slipped in."""
    import ondemand_dask_spark.queries.composed as composed
    import ondemand_dask_spark.queries.dedup as dedup
    import ondemand_dask_spark.queries.graph as graph
    import ondemand_dask_spark.queries.text as text
    from ondemand_dask_spark.operators.checkpoint import RetainedCaches

    for mod in (dedup, graph, text, composed):
        assert isinstance(mod._CACHES, RetainedCaches), mod.__name__


@pytest.mark.parametrize("query", ["agg_groupby_quantile", "agg_winsorize"])
def test_ranged_quantile_queries_release_previous_call(
    spark, sf_dir, monkeypatch, query
):
    """Both retaining quantile queries evict at entry: on the ranged
    path (forced here; it fires past ~1M rows per group) two
    consecutive calls leave at most one call's pinned blocks."""
    import ondemand_dask_spark.operators.quantile as quantile
    import ondemand_dask_spark.queries.aggregations as aggs

    monkeypatch.setattr(quantile, "choose_quantile_path", lambda *a, **k: "ranged")
    fn = getattr(aggs, query)
    before = _cached_rdd_ids(spark)
    fn(spark, sf_dir).collect()
    first = _cached_rdd_ids(spark) - before
    assert first, "the ranged path should pin storage blocks"
    fn(spark, sf_dir).collect()
    deadline = time.monotonic() + 10
    while first & _cached_rdd_ids(spark) and time.monotonic() < deadline:
        time.sleep(0.1)  # checkpoint release is non-blocking
    assert not (first & _cached_rdd_ids(spark)), (
        f"{query} left the previous call's blocks pinned"
    )
    assert _cached_rdd_ids(spark) - before, "the latest call's pin stays"
    aggs._CACHES.evict()
