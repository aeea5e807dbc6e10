"""Run one workload of the repository benchmark and print its metrics.

    python3 perfbench/run.py --workload olap_sf01 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  A run:

1. pins the environment: it unsets the variables that override the
   program's session defaults and keeps every scratch file (temp
   files, Spark local dirs, warehouse, generated data) under
   `perfbench/.work/`;
2. generates the workload's tables once with `tools/gen_scale_data.py`
   (cached in `perfbench/.work/data/`);
3. times the set-up: from process start (less any data generation)
   through the program import, `session.build_session` with program
   defaults and `master=local[<cpus>]` (which launches the JVM) and
   `registry.all_queries`; then stops the session and sets up three
   more times in the same JVM with the program modules re-imported,
   for the per-layer build and load times;
4. runs every workload query once and checks its output against the
   registry's DuckDB oracle (this pass also warms the JVM);
5. runs closed-loop passes, one client, each pass in a seeded order,
   each query as `fn(spark, data)` plus a noop write of its result,
   until `--seconds` have elapsed.

With `--trace 1` untraced and traced passes alternate for the same
time.  Traced passes record spans around every query's plan and exec
phases and around the public functions of the program modules in
`workloads.WRAPPED_MODULES`, plus Spark status-store counters per
query; the difference between the two kinds of pass is the tracing
overhead.  Spans are written to `perfbench/.work/out/`.

The last stdout line is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (end-to-end metrics untraced, per-layer metrics
traced).  Exit code 0 when every output matched its oracle, 1 when a
query failed or mismatched, 2 when the checkout cannot run at all.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

import oracle
import probes
import stats
from spans import Tracer, install, uninstall
from workloads import END_TO_END, PER_LAYER, QUERY_LAYERS, WORKLOADS, WRAPPED_MODULES, pass_orders

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "ondemand_dask_spark"
GENERATOR = os.path.join(ROOT, "tools", "gen_scale_data.py")

# Environment overrides of the program's session defaults: a stray
# value must not change what is measured.
UNSET_ENV = (
    "SPARK_SHUFFLE_PARTITIONS",
    "SPARK_GRAFT_PARALLELISM_FIRST",
    "SPARK_GRAFT_SHARED_EDGES",
    "SPARK_GRAFT_CHECK_BROADCAST",
    "SPARK_GRAFT_CPUS",
    "SPARK_DRIVER_MEMORY",
    "SPARK_CONF_DIR",
    "PYSPARK_SUBMIT_ARGS",
)
WARM_SETUPS = 3

# per-layer time metric -> span-name prefix whose self time it sums
SPAN_TIMES = {
    "io.load_table_s": "io.load_table",
    "sources.readers_s": "sources.readers",
    "operators.quantile_s": "operators.quantile",
    "operators.asof_s": "operators.asof",
    "operators.graphcc_s": "operators.graphcc",
    "checkpoint.evict_s": "checkpoint",
    **{f"{l}.{p}_s": f"{l}.{p}" for l in QUERY_LAYERS for p in ("plan", "exec")},
}
# per-layer count metric -> span-name prefix whose calls it counts
SPAN_COUNTS = {
    "io.load_table_calls": "io.load_table",
    "sources.readers_calls": "sources.readers",
    "checkpoint.release_calls": "checkpoint.release_local_checkpoint",
    "functions.texthash_calls": "functions.texthash",
    "functions.vectors_calls": "functions.vectors",
}
# per-layer metric -> probes.SparkCounters key, summed over queries
COUNTER_METRICS = {
    "spark.jobs": "jobs",
    "spark.stages": "stages",
    "spark.tasks": "tasks",
    "spark.failed_tasks": "failed_tasks",
    "spark.task_s": "task_s",
    "spark.task_cpu_s": "task_cpu_s",
    "spark.gc_s": "gc_s",
    "shuffle.write_mb": "shuffle_write_mb",
    "shuffle.read_mb": "shuffle_read_mb",
    "shuffle.fetch_wait_s": "shuffle_fetch_wait_s",
    "spill.disk_mb": "spill_disk_mb",
    "scan.input_mb": "input_mb",
    "scan.input_rows": "input_rows",
    "write.output_mb": "output_mb",
    "write.output_rows": "output_rows",
}
PLAN_COUNTS = {
    "plans.shuffles": "shuffle_count",
    "plans.broadcast_joins": "broadcast_join_count",
    "plans.sort_merge_joins": "sort_merge_join_count",
    "plans.python_evals": "python_eval_count",
}


class SetupError(Exception):
    """The checkout cannot run the benchmark."""


def log(*parts) -> None:
    print(*parts, flush=True)


def pin_environment() -> None:
    for k in UNSET_ENV:
        os.environ.pop(k, None)
    scratch = {k: os.path.join(WORK, k) for k in ("tmp", "spark-local", "warehouse")}
    for path in scratch.values():
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
    os.makedirs(os.path.join(WORK, "out"), exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = scratch["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = scratch["spark-local"]
    os.environ["SPARK_WAREHOUSE_DIR"] = scratch["warehouse"]
    # the JVM's own temp files (native-library extraction, perf data)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={scratch['tmp']} -XX:-UsePerfData"
    os.chdir(WORK)


def ensure_data(sf: str) -> tuple[str, dict]:
    """Generate the sf tables once; return their dir and per-table
    row and byte counts."""
    data_dir = os.path.join(WORK, "data", f"sf{float(sf):g}")
    marker = os.path.join(data_dir, "sizes.json")
    if not os.path.exists(marker):
        log(f"generating sf{sf} tables into {data_dir}")
        with open(os.path.join(WORK, "gen.log"), "w") as gen_log:
            proc = subprocess.run(
                [sys.executable, GENERATOR, "--sf", sf, "--out", os.path.dirname(data_dir)],
                stdout=gen_log, stderr=subprocess.STDOUT, timeout=800,
            )
        if proc.returncode != 0:
            raise SetupError(f"data generation failed (see {gen_log.name})")
        import pyarrow.parquet as pq

        sizes = {}
        for entry in sorted(os.listdir(data_dir)):
            if entry.endswith(".parquet"):
                files = [os.path.join(data_dir, entry, f)
                         for f in os.listdir(os.path.join(data_dir, entry)) if f.endswith(".parquet")]
                sizes[entry[: -len(".parquet")]] = {
                    "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                    "bytes": sum(os.path.getsize(f) for f in files),
                }
        with open(marker, "w") as f:
            json.dump(sizes, f, indent=1)
    with open(marker) as f:
        return data_dir, json.load(f)


def purge_program_modules() -> None:
    for name in [n for n in sys.modules if n == PKG or n.startswith(PKG + ".")]:
        del sys.modules[name]


def set_up(master: str):
    """Import the program, build its session, load its registry.
    Returns (spark, queries, build seconds, load seconds)."""
    t0 = time.perf_counter()
    session = importlib.import_module(f"{PKG}.session")
    spark = session.build_session(master=master)
    t1 = time.perf_counter()
    queries = importlib.import_module(f"{PKG}.registry").all_queries()
    return spark, queries, t1 - t0, time.perf_counter() - t1


def stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def query_layer(q) -> str:
    layer = q.fn.__module__.removeprefix(PKG + ".")
    if layer not in QUERY_LAYERS:
        raise SetupError(f"{q.name}: module {layer} is not a benchmark layer")
    return layer


class Runner:
    """Runs a workload's queries in seeded pass orders and counts what
    it attempted and what failed."""

    def __init__(self, spark, queries, data_dir, names, seed):
        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.orders = pass_orders(names, seed)
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.checkpoint = sys.modules[f"{PKG}.operators.checkpoint"]

    def _fail(self, name: str, reason: str) -> None:
        self.failures.append((name, reason))
        log(f"FAIL {name}: {reason[:500]}")

    def check_pass(self, plan_counts: dict | None) -> None:
        """Run each query once and compare its output with its oracle."""
        inspect = importlib.import_module(f"{PKG}.plans.inspect")
        con = oracle.connect(self.data_dir, list(sys.modules[f"{PKG}.io"].TABLES))
        for name in next(self.orders):
            q = self.queries[name]
            self.attempted += 1
            try:
                if not q.oracle:
                    raise SetupError("no oracle SQL registered")
                df = q.fn(self.spark, self.data_dir)
                if plan_counts is not None:
                    for metric, fn in PLAN_COUNTS.items():
                        plan_counts[metric] += getattr(inspect, fn)(df)
                reason = oracle.check(con, df.toArrow(), q.oracle)
            except Exception as e:  # any failure of the program counts
                reason = f"{type(e).__name__}: {e}"
            self.checkpoint.evict_all_retained()
            if reason:
                self._fail(name, reason)
        con.close()

    def run_pass(self, tracer: Tracer | None = None, on_query=None) -> tuple[float, list[float]]:
        """One pass over the workload in the next seeded order.  Returns
        its wall time and the latency of each query that succeeded."""
        latencies = []
        p0 = time.perf_counter()
        with tracer.span("pass") if tracer else contextlib.nullcontext():
            for name in next(self.orders):
                q = self.queries[name]
                layer = query_layer(q)
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    if tracer:
                        with tracer.span("query", query=name):
                            with tracer.span(f"{layer}.plan"):
                                df = q.fn(self.spark, self.data_dir)
                            with tracer.span(f"{layer}.exec"):
                                df.write.format("noop").mode("overwrite").save()
                    else:
                        df = q.fn(self.spark, self.data_dir)
                        df.write.format("noop").mode("overwrite").save()
                    latencies.append(time.perf_counter() - t0)
                except Exception as e:  # count it and keep the loop going
                    self._fail(name, f"{type(e).__name__}: {e}")
                if on_query:
                    on_query()
                self.checkpoint.evict_all_retained()
        return time.perf_counter() - p0, latencies


def measure(runner: Runner, seconds: float, py_pid: int) -> tuple[dict, str]:
    """End-to-end metrics: closed-loop untraced passes until `seconds`
    elapse."""
    passes, latencies = [], []
    cpu0 = probes.tree_cpu_s(py_pid)
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        wall, lat = runner.run_pass()
        passes.append(wall)
        latencies += lat
    cpu = probes.tree_cpu_s(py_pid) - cpu0
    values = {"pass_s": stats.median(passes), "cpu_s": cpu / len(passes)}
    note = (f"passes={len(passes)} pass walls=" + ",".join(f"{p:.3f}" for p in passes)
            + " " + latency_note(latencies))
    return values, note


def latency_percentiles(latencies: list[float]) -> dict[str, float]:
    p50, n = stats.percentile(latencies, 50)
    return {
        "latency.query_p50_s": p50,
        "latency.query_p90_s": stats.percentile(latencies, 90)[0],
        "latency.query_samples": n,
    }


def latency_note(latencies: list[float]) -> str:
    return " ".join(f"{k}={v:.4f}" for k, v in latency_percentiles(latencies).items())


def measure_traced(runner: Runner, seconds: float, pids: dict[str, int], ncpu: int):
    """Per-layer metrics: untraced and traced passes alternate until
    `seconds` elapse, so both sample the same stretch of JVM warm-up.
    Returns (values without the set-up figures, tracer, note)."""
    tracer = Tracer()
    counters = probes.SparkCounters(runner.spark)
    counters_sum = dict.fromkeys(probes.COUNTER_KEYS, 0.0)
    cache_max = [0, 0.0]
    cpu = dict.fromkeys(pids, 0.0)

    def on_query():
        for k, v in counters.delta().items():
            counters_sum[k] += v
        rdds, mb = probes.storage(runner.spark)
        cache_max[0], cache_max[1] = max(cache_max[0], rdds), max(cache_max[1], mb)

    def traced_pass():
        undo = install(tracer, WRAPPED_MODULES, PKG)
        before = {k: probes.own_cpu_s(pid) for k, pid in pids.items()}
        try:
            counters.delta()  # drop what the untraced pass left behind
            return runner.run_pass(tracer, on_query)[0]
        finally:
            uninstall(undo)
            for k, pid in pids.items():
                cpu[k] += probes.own_cpu_s(pid) - before[k]

    untraced, traced, latencies = [], [], []

    def untraced_pass():
        wall, lat = runner.run_pass()
        latencies.extend(lat)
        return wall

    start = time.perf_counter()
    while not traced or time.perf_counter() - start < seconds:
        if len(traced) % 2:
            traced.append(traced_pass())
            untraced.append(untraced_pass())
        else:
            untraced.append(untraced_pass())
            traced.append(traced_pass())
    values = per_layer(tracer, traced, untraced, counters_sum, tuple(cache_max), cpu, ncpu)
    values.update(latency_percentiles(latencies))
    note = f"untraced passes={len(untraced)} traced passes={len(traced)}"
    return values, tracer, note


def per_layer(tracer, passes_traced, passes_untraced, counters_sum, cache_max,
              cpu, ncpu) -> dict[str, float]:
    """The span, counter and CPU figures of a traced run, per traced pass."""
    n = len(passes_traced)
    pass_ids = [s.id for s in tracer.spans if s.name == "pass"]
    totals = tracer.totals(tracer.descendants(pass_ids))

    def span_sum(prefix: str, index: int) -> float:
        return sum(v[index] for k, v in totals.items() if k == prefix or k.startswith(prefix + "."))

    m = {k: span_sum(p, 0) / n for k, p in SPAN_TIMES.items()}
    m.update({k: span_sum(p, 1) / n for k, p in SPAN_COUNTS.items()})
    m.update({k: counters_sum[c] / n for k, c in COUNTER_METRICS.items()})
    m["cache.persisted_rdds"], m["cache.storage_mb"] = cache_max
    m["spark.idle_core_s"] = (ncpu * sum(passes_traced) - counters_sum["task_s"]) / n
    m["driver.jvm_cpu_s"] = (cpu["jvm"] - counters_sum["task_cpu_s"]) / n
    m["driver.py_cpu_s"] = cpu["py"] / n
    m["trace.pass_s"] = stats.median(passes_traced)
    m["trace.overhead_s"] = m["trace.pass_s"] - stats.median(passes_untraced)
    m["trace.unattributed_s"] = totals.get("query", (0.0, 0))[0] / n
    return m


def query_table(tracer: Tracer) -> list[str]:
    """Per query, mean over its traced runs: wall, plan and exec self
    time, time in nested program spans, and time no phase covers."""
    selfs = tracer.self_times()
    rows: dict[str, list[float]] = {}
    query_of = {}
    for s in tracer.spans:
        if s.name == "query":
            query_of[s.id] = s.attrs["query"]
            r = rows.setdefault(s.attrs["query"], [0.0] * 6)
            r[0] += s.end - s.start
            r[4] += selfs[s.id]
            r[5] += 1
        elif s.parent in query_of:  # a plan or exec phase
            r = rows[query_of[s.parent]]
            r[1 if s.name.endswith(".plan") else 2] += selfs[s.id]
            r[3] += (s.end - s.start) - selfs[s.id]
    lines = [f"{'query':32s} {'n':>3s} {'wall_s':>8s} {'plan_s':>8s} {'exec_s':>8s} "
             f"{'nested_s':>8s} {'other_s':>8s}"]
    for name, (wall, plan, exe, nested, other, cnt) in sorted(rows.items()):
        lines.append(f"{name:32s} {cnt:3.0f} {wall / cnt:8.3f} {plan / cnt:8.3f} "
                     f"{exe / cnt:8.3f} {nested / cnt:8.3f} {other / cnt:8.3f}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]

    for path in (os.path.join(ROOT, PKG, "__init__.py"), GENERATOR):
        if not os.path.isfile(path):
            raise SetupError(f"not a checkout of the program: {path} is missing")
    sys.path.insert(0, ROOT)
    pin_environment()
    t_data = time.perf_counter()
    data_dir, sizes = ensure_data(wl.sf)
    t_data = time.perf_counter() - t_data
    ncpu = os.cpu_count() or 1
    master = f"local[{ncpu}]"

    # set-up from process start, without the one-time data generation;
    # then warm re-set-ups in the same JVM with fresh program modules
    spark, queries, _, _ = set_up(master)
    setup_s = probes.process_age_s(os.getpid()) - t_data
    setups = []
    for _ in range(WARM_SETUPS):
        spark.stop()
        purge_program_modules()
        spark, queries, build_s, load_s = set_up(master)
        setups.append((build_s, load_s))
    try:
        missing = [q for q in wl.queries if q not in queries]
        if missing:
            raise SetupError(f"queries not registered: {missing}")
        for name in wl.queries:
            query_layer(queries[name])
        pids = {"py": os.getpid(), "jvm": spark.sparkContext._jvm.ProcessHandle.current().pid()}
        conf = dict(spark.sparkContext.getConf().getAll())
        runner = Runner(spark, queries, data_dir, wl.queries, args.seed)
        plan_counts = dict.fromkeys(PLAN_COUNTS, 0) if args.trace else None

        t_check = time.perf_counter()
        runner.check_pass(plan_counts)
        log(f"oracle check pass {time.perf_counter() - t_check:.2f}s")
        for pid in pids.values():
            try:
                probes.reset_hwm(pid)
            except OSError:
                pass  # the peak then also covers the check pass
        if not args.trace:
            values, note = measure(runner, args.seconds, pids["py"])
            values["setup_s"] = setup_s
            units = {n: u for n, u, _ in END_TO_END}
            log(note)
        else:
            values, tracer, note = measure_traced(runner, args.seconds, pids, ncpu)
            values.update(plan_counts)
            values.update({
                "session.build_s": stats.median([b for b, _ in setups]),
                "registry.load_s": stats.median([l for _, l in setups]),
                "memory.peak_rss_mb": probes.hwm_mb(pids["jvm"]) + probes.hwm_mb(pids["py"]),
            })
            units = {n: u for n, u, _ in PER_LAYER}
            spans_path = os.path.join(WORK, "out", f"spans-{wl.name}-{args.seed}.jsonl")
            tracer.dump(spans_path)
            log(f"{note} spans={spans_path}")
            for line in query_table(tracer):
                log(line)
    finally:
        stop_jvm(spark)

    failed = len(runner.failures)
    log(json.dumps({
        "workload": wl.name, "seed": args.seed, "sf": wl.sf, "queries": list(wl.queries),
        "data": sizes,
        "data_rows": sum(t["rows"] for t in sizes.values()),
        "data_mb": round(sum(t["bytes"] for t in sizes.values()) / 2**20, 3),
        "failed_frac": failed / runner.attempted,
        "spark_conf": {k: v for k, v in sorted(conf.items())
                       if k.startswith(("spark.sql.", "spark.driver.memory", "spark.master"))},
    }))
    moves = {n: m for n, _, m in PER_LAYER} if args.trace else {}
    for name, unit in units.items():
        log(f"{name:28s} {values[name]:14.4f} {unit:6s} {moves.get(name, '')}")
    log(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
