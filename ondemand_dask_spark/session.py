"""SparkSession bootstrap.

The reference (ondemand-dask) provisions a sized, self-expiring Dask
cluster on demand (SURVEY.md §3.3). The Spark-native analogue is pure
configuration: one `build_session` helper owns every setting the
engine depends on, so no query module can forget them:

- `spark.sql.legacy.parquet.nanosAsLong=true`: the `events` table
  stores `ts` as parquet INT64 TIMESTAMP(NANOS); without the flag
  Spark 4 refuses the file outright (SURVEY.md §0.5.1).
- UTC session timezone: keeps timestamp arithmetic aligned with the
  DuckDB oracle (both naive/UTC).
- Arrow on: fast toPandas / pandas-UDF exchange.
- AQE on (default in Spark 4, asserted explicitly): runtime
  broadcast-join conversion, skew-join splitting, partition
  coalescing — the levers that make the same declarative plan hold
  from sf0.001 up to 100 TB without per-query tuning.
- `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`:
  Spark 4.1 defaults it to false, which keeps every `.cache()`d /
  `.persist()`ed frame at all `spark.sql.shuffle.partitions` — AQE
  never coalesces a cached plan's final stage, so each downstream
  scan of a tiny cached frame fans out into 32 near-empty tasks.
  With it on, cached plans coalesce like uncached ones.  Measured on
  `dedup_cc_star_contraction` (minhash frames cached per stage;
  sf0.01, local[4] on a 4-core Xeon VM, median of 3 warm reps, query
  plus noop write): 1,042 → 110 tasks, 5.1 → 3.4 s.
- `spark.sql.codegen.cache.maxEntries=CODEGEN_CACHE_ENTRIES` (16384):
  the LRU cache of Janino-compiled classes.  Spark's default of 100
  is below one pass of the pipeline workload, so the cache thrashed
  and every warm pass compiled its classes again (and ran them
  interpreted until the JIT warmed up).  It is a static conf — the
  JVM builds the cache once, on first use — so it is set here at
  build; `ensure_session_conf` can only warn.  Measured working sets
  (distinct classes; local[4], 4-core Xeon VM): pipeline_sf001 205
  over 7 passes, olap_sf01 95, the whole test suite (816 tests, all
  registered query families) 6,010 in one JVM; 16384 leaves 2.7×
  headroom over the largest.  Compiles per warm pass at 100 → 16384
  entries: pipeline_sf001 191 → 0 (≤ 4 in the first two warm
  passes), olap_sf01 24 → 0 (9 in the first).  Metaspace after 7
  pipeline passes: 172.9 MB at 100, 173.4 MB at 16384 (classes
  evicted from the cache are not unloaded promptly anyway); after
  the whole test suite, which keeps its ~6,000 classes, 234 → 278 MB.

`shuffle_partitions` defaults to the parallelism of the master; at
real cluster scale the caller passes cores*executors*2-3 (or relies
on AQE coalescing from a high initial number).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Entries in Spark's LRU cache of compiled classes (module docstring).
CODEGEN_CACHE_ENTRIES = 16384


def _parallelism_first() -> str:
    """`SPARK_GRAFT_PARALLELISM_FIRST`, validated: only true/false
    (any case) reach the conf, anything else fails here by name
    rather than as an opaque Spark parse error at session build."""
    raw = os.environ.get("SPARK_GRAFT_PARALLELISM_FIRST", "true")
    v = raw.strip().lower()
    if v not in ("true", "false"):
        raise ValueError(
            f"SPARK_GRAFT_PARALLELISM_FIRST must be 'true' or 'false', got {raw!r}"
        )
    return v


def build_session(
    app_name: str = "ondemand_dask_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Parameters mirror the reference's ``spawn(name, cpu, ram, ...)``
    knobs where they make sense for Spark: sizing is expressed via
    ``master`` locally and executor configs in cluster mode.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # events.ts is parquet INT64 TIMESTAMP(NANOS,false); Spark 4
        # throws PARQUET_TYPE_ILLEGAL without this flag.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r15: back to Spark's DEFAULT (true).  The r6-era "false"
        # (coalesce purely by the 64MB advisory) was tuned to the
        # sf0.1 bench and starved every 20-50MB post-shuffle stage
        # down to ONE task at sf1 — profiled single-task stages of
        # 2-14s with 31 cores idle in agg_groupby_quantile,
        # text_bm25_topk, text_keyphrase_rake, dedup_duplicate_spans,
        # window_ewm_bounded, sessionize_gap — and measured SLOWER
        # even at sf0.1 (8-query interleaved probe: 9.52s false vs
        # 4.93s true; sf1 18.86 vs 7.83).  parallelismFirst keeps
        # post-shuffle parallelism at cluster width until partitions
        # hit minPartitionSize; the advisory byte target still governs
        # once data is large enough for bytes to matter — which is
        # exactly Spark's documented intent for this flag.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            _parallelism_first(),
        )
        # AQE may coalesce cached plans too (module docstring).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Static: holds the whole compiled-class working set.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # Dimension tables (region/nation/supplier/part) are tiny at
        # every SF; raise the auto-broadcast threshold so they always
        # take the broadcast-hash path even before AQE kicks in.
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # managed tables (bucketed-join layouts) land in scratch, not
        # the repo working dir
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_WAREHOUSE_DIR", "/tmp/ondemand_dask_spark_warehouse"
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_session_conf(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable configs to a session we did
    not build (the driver hands us one).  Static configs like the
    nanos flag cannot be set post-start; `io.load_table` therefore has
    a pyarrow fallback for `events` (see io.py).  A codegen class
    cache smaller than `CODEGEN_CACHE_ENTRIES` cannot be fixed either;
    it only warns, since warm queries then recompile their classes.
    """
    runtime = {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    }
    for k, v in runtime.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    key = "spark.sql.codegen.cache.maxEntries"
    have = int(spark.conf.get(key))
    if have < CODEGEN_CACHE_ENTRIES:
        warnings.warn(
            f"{key}={have} is below the engine's {CODEGEN_CACHE_ENTRIES}; "
            "it is static, so set it when building the session or warm "
            "queries recompile their generated classes",
            stacklevel=2,
        )
    return spark
