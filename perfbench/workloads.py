"""Workload definitions and the metric catalogue the benchmark prints.

Each workload is a fixed list of registered queries run closed loop by
one client against data generated at one scale factor.  The seed only
permutes the query order of each pass; the data itself is generated by
`tools/gen_scale_data.py`, whose salts are fixed.
"""

from __future__ import annotations

import random
from collections.abc import Iterator
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # scale factor, as passed to gen_scale_data.py --sf
    queries: tuple[str, ...]
    why: str


# One workload whose query time goes mostly to executing the plan (the
# noop write) and one whose query time goes mostly to the eager work
# inside `fn()` (iterative loops, checkpoints, micro-batches) over six
# times as many tasks, so a change to one side shows on one workload
# and not on the other.  Traced on 4 cores: olap_sf01 spends 57-61% of
# query time in the write and runs 207 tasks per pass; pipeline_sf001
# spends 78-81% inside `fn()` and runs about 1,200.  One
# query per program module keeps every layer measured while a run
# stays near one minute (set-up, oracle check and 15 s of passes).
WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "olap_sf01",
            "0.1",
            (
                "tpch_q1",
                "join_inner",
                "agg_groupby_quantile",
                "window_cumsum",
                "asof_join_backward",
                "merge_upsert",
                "topk_per_group",
            ),
            "star-schema scans, joins, sorts, an exact quantile, an upsert and "
            "a top-k at sf0.1: ~60% of query time executes the plan, ~210 tasks a pass",
        ),
        Workload(
            "pipeline_sf001",
            "0.01",
            (
                "dedup_cc_star_contraction",
                "graph_degree_stats",
                "text_tfidf_top_term",
                "ann_cosine_topk",
                "source_csv_roundtrip",
                "stream_tumbling_agg",
            ),
            "minhash dedup into star-contraction components, text, vectors, graph, "
            "csv and a stream at sf0.01: ~80% of query time inside fn(), ~1,200 tasks a pass",
        ),
    )
}


def pass_orders(queries: tuple[str, ...], seed: int) -> Iterator[list[str]]:
    """The query order of each pass, endlessly: a seeded permutation per pass."""
    rng = random.Random(seed)
    while True:
        order = list(queries)
        rng.shuffle(order)
        yield order


# (name, unit, better) of every end-to-end metric, printed with --trace 0.
# Per-query latency percentiles are per-layer, not end-to-end: a run
# takes 12-28 query samples, too few for a p90 with ten samples beyond
# it, and a p50 over six or seven different queries jumps between two
# of them.
END_TO_END: tuple[tuple[str, str, str], ...] = (
    ("setup_s", "s", "lower"),
    ("pass_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
)

# Layers whose plan/exec self time is reported: the module of each
# workload query, as `queries.<module>` or `streaming.jobs`, with the
# workload whose queries live there.
QUERY_LAYERS: dict[str, str] = {
    "queries.tpch": "olap_sf01",
    "queries.joins": "olap_sf01",
    "queries.aggregations": "olap_sf01",
    "queries.windows": "olap_sf01",
    "queries.composed": "olap_sf01",
    "queries.incremental": "olap_sf01",
    "queries.pipeline": "olap_sf01",
    "queries.dedup": "pipeline_sf001",
    "queries.text": "pipeline_sf001",
    "queries.similarity": "pipeline_sf001",
    "queries.graph": "pipeline_sf001",
    "queries.sources": "pipeline_sf001",
    "streaming.jobs": "pipeline_sf001",
}

# Program modules whose public functions are wrapped in spans in a
# traced run: (module, span name).  Nested spans report self time.
WRAPPED_MODULES: tuple[tuple[str, str], ...] = (
    ("ondemand_dask_spark.io", "io"),
    ("ondemand_dask_spark.sources.readers", "sources.readers"),
    ("ondemand_dask_spark.operators.quantile", "operators.quantile"),
    ("ondemand_dask_spark.operators.asof", "operators.asof"),
    ("ondemand_dask_spark.operators.graphcc", "operators.graphcc"),
    ("ondemand_dask_spark.operators.checkpoint", "checkpoint"),
    ("ondemand_dask_spark.functions.texthash", "functions.texthash"),
    ("ondemand_dask_spark.functions.vectors", "functions.vectors"),
)

# (name, unit, the end-to-end metric and workload it should move) of
# every per-layer metric, printed with --trace 1.  Times and counts are
# per traced pass unless the name says otherwise.
_OLAP, _PIPE = "olap_sf01", "pipeline_sf001"
PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("latency.query_p50_s", "s", "pass_s, all workloads (untraced passes)"),
    ("latency.query_p90_s", "s", "pass_s, all workloads (untraced passes)"),
    ("latency.query_samples", "count", "sample count of the two percentiles above"),
    ("session.build_s", "s", "setup_s, all workloads (re-built in a running JVM)"),
    ("registry.load_s", "s", "setup_s, all workloads (re-loaded in a running JVM)"),
    ("io.load_table_s", "s", f"query_p50_s on {_PIPE}"),
    ("io.load_table_calls", "count", f"query_p50_s on {_PIPE}"),
    ("sources.readers_s", "s", f"pass_s on {_PIPE}"),
    ("sources.readers_calls", "count", f"pass_s on {_PIPE}"),
    *(
        (f"{layer}.{part}_s", "s", f"pass_s on {workload}")
        for layer, workload in QUERY_LAYERS.items()
        for part in ("plan", "exec")
    ),
    ("operators.quantile_s", "s", f"query_p90_s on {_OLAP}"),
    ("operators.asof_s", "s", f"pass_s on {_OLAP}"),
    ("operators.graphcc_s", "s", f"pass_s on {_PIPE}"),
    ("checkpoint.evict_s", "s", f"pass_s on {_PIPE}"),
    ("checkpoint.release_calls", "count", f"pass_s on {_PIPE}"),
    ("functions.texthash_calls", "count", f"cpu_s on {_PIPE}"),
    ("functions.vectors_calls", "count", f"cpu_s on {_PIPE}"),
    ("cache.persisted_rdds", "count", f"pass_s on {_PIPE}"),
    ("cache.storage_mb", "MB", f"pass_s on {_PIPE}"),
    ("spark.jobs", "count", f"pass_s on {_PIPE}"),
    ("spark.stages", "count", f"pass_s on {_PIPE}"),
    ("spark.tasks", "count", f"pass_s on {_PIPE}"),
    ("spark.failed_tasks", "count", "pass_s, all workloads"),
    ("spark.task_s", "s", f"pass_s on {_OLAP}"),
    ("spark.task_cpu_s", "s", f"cpu_s on {_OLAP}"),
    ("spark.idle_core_s", "s", f"pass_s on {_OLAP}"),
    ("spark.gc_s", "s", f"pass_s on {_OLAP}"),
    ("driver.jvm_cpu_s", "s", f"pass_s on {_PIPE}"),
    ("driver.py_cpu_s", "s", f"pass_s on {_PIPE}"),
    ("memory.peak_rss_mb", "MB", "none gated: JVM heap growth varies run to run"),
    ("shuffle.write_mb", "MB", f"pass_s on {_OLAP}"),
    ("shuffle.read_mb", "MB", f"pass_s on {_OLAP}"),
    ("shuffle.fetch_wait_s", "s", f"pass_s on {_OLAP}"),
    ("spill.disk_mb", "MB", f"pass_s on {_OLAP}"),
    ("scan.input_mb", "MB", f"pass_s on {_OLAP}"),
    ("scan.input_rows", "count", f"pass_s on {_OLAP}"),
    ("write.output_mb", "MB", f"pass_s on {_PIPE}"),
    ("write.output_rows", "count", f"pass_s on {_PIPE}"),
    ("plans.shuffles", "count", "a plan-shape claim: exact count per workload"),
    ("plans.broadcast_joins", "count", "a plan-shape claim: exact count per workload"),
    ("plans.sort_merge_joins", "count", "a plan-shape claim: exact count per workload"),
    ("plans.python_evals", "count", "a plan-shape claim: exact count per workload"),
    ("trace.pass_s", "s", "tracing overhead: traced pass"),
    ("trace.overhead_s", "s", "tracing overhead: traced minus untraced pass_s"),
    ("trace.unattributed_s", "s", "query time outside plan and exec spans"),
)
