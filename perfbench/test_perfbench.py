"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gate  # noqa: E402
import mix  # noqa: E402
import slice_data  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

CALENDAR = (slice_data.FIRST_DAY, slice_data.DAYS)


def test_same_seed_same_mix():
    a = mix.dashboard_pool(7, 96, *CALENDAR)
    assert a == mix.dashboard_pool(7, 96, *CALENDAR)
    assert a != mix.dashboard_pool(8, 96, *CALENDAR)
    draws = list(itertools.islice(mix.zipf_draws(7, 96, 1.5), 500))
    assert draws == list(itertools.islice(mix.zipf_draws(7, 96, 1.5), 500))
    assert mix.ops_sweep(7, 0, list(workloads.OPS)) == \
        mix.ops_sweep(7, 0, list(workloads.OPS))
    assert mix.ops_sweep(7, 0, list(workloads.OPS)) != \
        mix.ops_sweep(7, 1, list(workloads.OPS))


def test_every_dashboard_shape_has_oracle_rows(tmp_path):
    """The sliced calendar lies inside each unmodified shape's day window,
    so the set-up oracle check compares rows, not two empty results."""
    import duckdb
    from maha_spark.examples.contract import QUERIES
    li = os.path.join(slice_data.DASHBOARD_DATA, "lineitem.parquet")
    lo, hi, days = duckdb.sql(
        "SELECT min(CAST(l_shipdate AS DATE)), max(CAST(l_shipdate AS DATE)),"
        f" count(DISTINCT CAST(l_shipdate AS DATE)) FROM '{li}'").fetchone()
    assert (lo, hi, days) == (slice_data.FIRST_DAY, slice_data.LAST_DAY,
                              slice_data.DAYS)
    got = gate.answers(slice_data.DASHBOARD_DATA,
                       {n: QUERIES[n]["sql"] for n in mix.DASHBOARD_SHAPES},
                       str(tmp_path))
    assert all(rows for _cols, rows in got.values())


def test_oracle_answers_are_cached_by_query_and_tables(tmp_path):
    sql = {"n": "SELECT count(*) AS n FROM documents"}
    first = gate.answers(slice_data.OPS_DATA, sql, str(tmp_path))
    assert len(os.listdir(tmp_path)) == 1
    assert gate.answers(slice_data.OPS_DATA, sql, str(tmp_path)) == first
    gate.answers(slice_data.OPS_DATA, {"n": sql["n"] + " WHERE doc_id > 0"},
                 str(tmp_path))
    assert len(os.listdir(tmp_path)) == 2


def test_pool_mix_is_stratified_by_rank():
    pool = mix.dashboard_pool(11, 96, *CALENDAR)
    assert len({op.key for op in pool}) == len(pool)
    assert [op.shape for op in pool[:8]] == list(mix.DASHBOARD_SHAPES)
    assert all(bool(op.curator) == (r % 5 == 4) for r, op in enumerate(pool))
    for r, op in enumerate(pool):
        if op.kind != "json" or op.shape == "q17_events_hourly":
            continue
        day = op.payload["filterExpressions"][0]
        span = (dt.date.fromisoformat(day["to"])
                - dt.date.fromisoformat(day["from"])).days + 1
        assert span == mix.DASHBOARD_WINDOWS[r // 8 % 4]
    assert all(op.kind == "json" for r, op in enumerate(pool)
               if r % 10 != 3)
    assert any(op.kind == "sql" for op in pool)


def test_mix_stats_report_the_shares():
    pool = mix.dashboard_pool(5, 20, *CALENDAR)
    st = mix.MixStats(5)
    for op in [pool[0], pool[0], pool[4], pool[3],
               mix.Op("refresh", "refresh", ("a", "b"))]:
        st.record(op)
    s = st.summary(cache_capacity=2)
    assert s["seed"] == 5 and s["requests"] == 4 and s["refreshes"] == 1
    assert s["distinct_requests"] == 3
    assert s["distinct_per_cache_capacity"] == 1.5
    assert s["repeated_share"] == 0.25
    assert s["curator_share"] == 0.25
    assert s["sql_share"] == 0.25


def test_sql_form_parses_back_to_the_request():
    from maha_spark.request.sql import sql_to_request_json
    shapes = mix.contract_shapes()
    checked = 0
    for name in mix.DASHBOARD_SHAPES:
        req = mix.with_window(shapes[name], "1996-01-01", "1996-02-01")
        sql = mix.to_sql(req)
        if sql is not None:
            assert sql_to_request_json(sql) == req
            checked += 1
    assert checked >= 4


def test_percentile_needs_ten_samples_beyond():
    assert stats.tail_percentile(list(range(200)), 95) == 189
    assert stats.tail_percentile(list(range(199)), 95) is None
    assert stats.tail_percentile(list(range(100)), 95) is None
    assert stats.tail_percentile(list(range(20)), 50) == 9
    assert stats.tail_percentile([], 50) is None


def test_metric_names_and_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    assert all(stats.valid_metric_name(n) for n in names)
    assert [m["name"] for m in bench["end_to_end"]] == \
        list(workloads.E2E_METRICS)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == \
        workloads.LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == \
        list(workloads.WORKLOADS)
    assert not stats.valid_metric_name("bad name")
    assert not stats.valid_metric_name("_leading")


def test_ops_list_is_the_non_streaming_entries():
    from maha_spark.ops import entry_queries
    assert set(workloads.OPS) == {
        n for n in entry_queries() if not n.startswith("op_stream")}


def test_normalize_folds_engine_and_duckdb_spellings():
    spark_side = gate.normalize(
        ["Day", "v"], [["1995-01-02", 0.1 + 0.2], ["1995-01-01", None]])
    duck_side = gate.normalize(
        ["v", "day"], [[0.3, dt.datetime(1995, 1, 2)],
                       [float("nan"), dt.date(1995, 1, 1)]])
    assert spark_side == duck_side
    assert gate.same_rows(spark_side, duck_side)
    assert not gate.same_rows(spark_side, gate.normalize(["day", "v"], []))
