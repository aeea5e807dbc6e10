"""Self-tests of the benchmark harness; none of them starts Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import types

import pyarrow as pa
import pytest

import oracle
import run
import stats
from spans import Span, Tracer, install, uninstall
from workloads import END_TO_END, PER_LAYER, QUERY_LAYERS, WORKLOADS, pass_orders

BENCHMARK_JSON = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")


def test_percentile_interpolates_and_counts_samples():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 50) == (3.0, 5)
    assert stats.percentile(xs, 0) == (1.0, 5)
    assert stats.percentile(xs, 100) == (5.0, 5)
    assert stats.percentile(xs, 90) == pytest.approx((4.6, 5))
    assert stats.percentile([7.0], 90) == (7.0, 1)
    assert stats.median([1.0, 2.0, 3.0, 10.0]) == 2.5
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_covered_merges_overlaps_and_clips():
    assert stats.covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert stats.covered([(1, 3), (2, 4)], 2.5, 3.5) == 1
    assert stats.covered([], 0, 1) == 0


def _tracer(spans):
    t = Tracer()
    t.spans = [Span(i, name, parent, start, end) for i, (name, parent, start, end) in enumerate(spans)]
    return t


def test_span_self_time_subtracts_children():
    t = _tracer([
        ("pass", None, 0.0, 10.0),
        ("query", 0, 1.0, 9.0),
        ("queries.tpch.plan", 1, 1.0, 4.0),
        ("io.load_table", 2, 1.5, 2.5),
        ("queries.tpch.exec", 1, 4.0, 8.5),
    ])
    selfs = t.self_times()
    assert selfs == pytest.approx({0: 2.0, 1: 0.5, 2: 2.0, 3: 1.0, 4: 4.5})
    totals = t.totals(t.descendants([1]))
    assert totals["queries.tpch.plan"] == pytest.approx((2.0, 1))
    assert "pass" not in totals
    # self times of a subtree add up to its root's wall time
    assert sum(v[0] for v in totals.values()) == pytest.approx(8.0)


def test_recorded_spans_nest_by_open_order():
    t = Tracer()
    with t.span("pass"):
        with t.span("query", query="q"):
            pass
    with t.span("pass"):
        pass
    assert [(s.name, s.parent) for s in t.spans] == [("pass", None), ("query", 0), ("pass", None)]
    assert all(s.end >= s.start for s in t.spans)


def test_install_rebinds_imported_names_and_uninstall_restores():
    lib = types.ModuleType("fakepkg.lib")

    def work(x):
        return x + 1

    work.__module__ = "fakepkg.lib"
    lib.work = work
    user = types.ModuleType("fakepkg.user")
    user.work = work  # as after `from fakepkg.lib import work`
    sys.modules.update({"fakepkg.lib": lib, "fakepkg.user": user})
    try:
        t = Tracer()
        undo = install(t, (("fakepkg.lib", "lib"),), "fakepkg")
        assert user.work(1) == 2 and lib.work(2) == 3
        assert [s.name for s in t.spans] == ["lib.work", "lib.work"]
        uninstall(undo)
        assert user.work is work and lib.work is work
    finally:
        del sys.modules["fakepkg.lib"], sys.modules["fakepkg.user"]


def test_seed_fixes_each_pass_order():
    qs = WORKLOADS["olap_sf01"].queries

    def first(seed, n=20):
        return list(itertools.islice(pass_orders(qs, seed), n))

    a = first(7)
    assert a == first(7)
    assert all(sorted(o) == sorted(qs) for o in a)
    assert len({tuple(o) for o in a}) > 1  # passes differ from each other
    assert first(8) != a


def test_each_workload_query_lives_in_one_of_its_layers():
    sys.path.insert(0, os.path.dirname(run.HERE))
    from ondemand_dask_spark.registry import all_queries

    queries = all_queries()
    for w in WORKLOADS.values():
        for name in w.queries:
            q = queries[name]
            assert q.oracle, f"{name} has no oracle SQL"
            assert QUERY_LAYERS[run.query_layer(q)] == w.name, name


def _benchmark():
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def test_catalogue_matches_benchmark_json():
    bench = _benchmark()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == [(n, u) for n, u, _ in PER_LAYER]


def test_traced_metrics_cover_exactly_the_catalogue():
    t = _tracer([
        ("pass", None, 0.0, 4.0),
        ("query", 0, 0.0, 3.0),
        ("queries.tpch.plan", 1, 0.0, 1.0),
        ("io.load_table", 2, 0.2, 0.4),
        ("queries.tpch.exec", 1, 1.0, 3.0),
        ("checkpoint.evict_all_retained", 0, 3.0, 3.5),
    ])
    counters = dict.fromkeys(run.probes.COUNTER_KEYS, 0.0)
    counters.update(task_s=6.0, task_cpu_s=5.0)
    m = run.per_layer(t, [4.0], [3.5], counters, (2, 8.0), {"jvm": 7.0, "py": 1.0}, 4)
    # main() adds the plan counts and the figures taken outside the passes
    outside = {"session.build_s", "registry.load_s", "memory.peak_rss_mb"}
    outside |= set(run.latency_percentiles([1.0, 2.0]))
    assert sorted(set(m) | outside | set(run.PLAN_COUNTS)) == sorted(n for n, _, _ in PER_LAYER)
    assert not set(m) & (outside | set(run.PLAN_COUNTS))
    assert m["io.load_table_s"] == pytest.approx(0.2)
    assert m["io.load_table_calls"] == 1
    assert m["queries.tpch.plan_s"] == pytest.approx(0.8)
    assert m["checkpoint.evict_s"] == pytest.approx(0.5)
    assert m["spark.idle_core_s"] == pytest.approx(10.0)
    assert m["driver.jvm_cpu_s"] == pytest.approx(2.0)
    assert m["trace.overhead_s"] == pytest.approx(0.5)
    assert m["trace.unattributed_s"] == pytest.approx(0.0)


def _stage(sid, status, tasks, run_ms):
    s = dict.fromkeys(("numFailedTasks", "executorCpuTime", "jvmGcTime", "shuffleWriteBytes",
                       "shuffleReadBytes", "shuffleFetchWaitTime", "diskBytesSpilled",
                       "inputBytes", "inputRecords", "outputBytes", "outputRecords"), 0)
    s.update(stageId=sid, status=status, numTasks=tasks, executorRunTime=run_ms)
    return s


def test_counters_reread_a_stage_until_it_is_final():
    c = object.__new__(run.probes.SparkCounters)
    c._last_stage, c._counted = -1, set()
    # stage 1 completed, stage 2 was still active with partial metrics
    got = c.take([_stage(2, "ACTIVE", 4, 100), _stage(1, "COMPLETE", 8, 2000)])
    assert (got["stages"], got["tasks"], got["task_s"]) == (1, 8, 2.0)
    assert c._last_stage == 1
    # next call: stage 2 is complete with its final metrics, 3 skipped
    got = c.take([_stage(3, "SKIPPED", 0, 0), _stage(2, "COMPLETE", 4, 3000)])
    assert (got["stages"], got["tasks"], got["task_s"]) == (2, 4, 3.0)
    assert c._last_stage == 3 and not c._counted
    # a final stage above an open one is counted once, not again
    got = c.take([_stage(5, "COMPLETE", 2, 500), _stage(4, "PENDING", 0, 0)])
    assert (got["stages"], got["tasks"]) == (1, 2)
    got = c.take([_stage(5, "COMPLETE", 2, 500), _stage(4, "COMPLETE", 3, 700)])
    assert (got["stages"], got["tasks"], got["task_s"]) == pytest.approx((1, 3, 0.7))
    assert c.take([]) == dict.fromkeys(run.probes.COUNTER_KEYS, 0.0)


def _con():
    return oracle.connect("/nonexistent", [])


def test_oracle_accepts_reordered_rows_within_float_tolerance():
    out = pa.table({"k": [2, 1], "v": [0.5000000001, -0.0], "s": ["b", "a"]})
    sql = "SELECT * FROM (VALUES (1, 0.0::DOUBLE, 'a'), (2, 0.5::DOUBLE, 'b')) t(k, v, s)"
    assert oracle.check(_con(), out, sql) is None


@pytest.mark.parametrize("out, sql, reason", [
    (pa.table({"k": [1, 2]}), "SELECT * FROM (VALUES (1)) t(k)", "row count"),
    (pa.table({"k": [1]}), "SELECT * FROM (VALUES (1)) t(j)", "columns"),
    (pa.table({"k": [1]}), "SELECT 1.0::DOUBLE AS k", "int/float"),
    (pa.table({"k": [1, 2]}), "SELECT * FROM (VALUES (1), (3)) t(k)", "1 of 2 rows differ"),
    (pa.table({"v": [1.0, None]}), "SELECT * FROM (VALUES (1.0::DOUBLE), (2.0)) t(v)", "1 of 2 rows differ"),
    (pa.table({"v": [1.001]}), "SELECT 1.0::DOUBLE AS v", "1 of 1 rows differ"),
])
def test_oracle_reports_mismatches(out, sql, reason):
    got = oracle.check(_con(), out, sql)
    assert got is not None and reason in got
