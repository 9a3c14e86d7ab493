"""REST surface: discovery endpoints + query/sql POST over live HTTP
(reference api-jersey MahaResource routes)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest


@pytest.fixture(scope="module")
def rest(engine):
    from maha_spark.serving.rest import RestServer
    srv = RestServer(engine, registry_name="maha").start()
    yield srv
    srv.stop()


def _get(srv, path):
    with urllib.request.urlopen(srv.base_url + path, timeout=30) as r:
        return r.status, json.loads(r.read())


def _post(srv, path, body, ctype="application/json"):
    req = urllib.request.Request(
        srv.base_url + path, data=body.encode(),
        headers={"Content-Type": ctype}, method="POST")
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_discovery_endpoints(rest):
    st, cubes = _get(rest, "/registry/maha/cubes")
    assert st == 200 and "lineitem_stats" in cubes

    st, domain = _get(rest, "/registry/maha/domain")
    assert st == 200 and "lineitem_stats" in domain["cubes"]
    fields = domain["cubes"]["lineitem_stats"]["fields"]
    assert any(f["field"] == "Revenue" and f["type"] == "Fact"
               for f in fields)

    st, flat = _get(rest, "/registry/maha/flattenDomain")
    assert st == 200
    flat_cube = next(c for c in flat["cubes"]
                     if c["name"] == "lineitem_stats")
    assert "Revenue" in flat_cube["fields"]

    st, one = _get(rest, "/registry/maha/domain/cubes/lineitem_stats")
    assert st == 200 and one["name"] == "lineitem_stats"


def test_unknown_registry_and_cube_are_404(rest):
    try:
        urllib.request.urlopen(rest.base_url + "/registry/nope/cubes",
                               timeout=30)
        assert False, "expected 404"
    except urllib.error.HTTPError as e:
        assert e.code == 404
        assert "errorMsg" in json.loads(e.read())
    try:
        urllib.request.urlopen(
            rest.base_url + "/registry/maha/domain/cubes/nope", timeout=30)
        assert False, "expected 404"
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_query_post_returns_envelope(rest):
    st, out = _post(rest, "/registry/maha/schemas/internal/query",
                    json.dumps({
                        "cube": "lineitem_stats",
                        "selectFields": [{"field": "Nation Name"},
                                         {"field": "Revenue"}],
                        "filterExpressions": [
                            {"field": "Day", "operator": "between",
                             "from": "1995-01-01", "to": "2002-12-31"}],
                        "rowsPerPage": 5,
                    }))
    assert st == 200
    assert out["header"]["cube"] == "lineitem_stats"
    assert len(out["rows"]) == 5


def test_sql_post_same_envelope(rest):
    st, out = _post(rest, "/registry/maha/schemas/internal/sql",
                    'SELECT "Nation Name", "Revenue" FROM lineitem_stats '
                    "WHERE \"Day\" BETWEEN '1995-01-01' AND '2002-12-31' "
                    "LIMIT 5", ctype="text/plain")
    assert st == 200 and len(out["rows"]) == 5


def test_invalid_request_is_400_not_500(rest):
    st, out = _post(rest, "/registry/maha/schemas/internal/query",
                    json.dumps({"cube": "lineitem_stats",
                                "selectFields": [{"field": "No Such"}]}))
    assert st == 400 and "errorMsg" in out


def test_status_endpoint_surfaces_cache_telemetry(spark, sf_dir):
    """The /status route exposes result-cache hit rates and storage
    residency — a serving operator's view, no debugger required."""
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.tpch import build_registry
    from maha_spark.execution.result_cache import ResultCache
    from maha_spark.serving.rest import RestServer

    cache = ResultCache()
    eng = engine_for_dir(spark, build_registry(), sf_dir,
                         result_cache=cache)
    srv = RestServer(eng, registry_name="maha").start()
    try:
        st, body = _get(srv, "/registry/maha/status")
        assert st == 200
        assert body["registry"] == "maha"
        rc = body["resultCache"]
        assert rc == cache.stats()
        assert {"hits", "misses", "bypasses", "entries",
                "bytes", "evictions"} <= set(rc)
        for k in ("scopedCaches", "bindingCachedTables",
                  "persistedRdds", "dryRunsLogged"):
            assert isinstance(body[k], int)

        req = json.dumps({
            "cube": "lineitem_stats",
            "selectFields": [{"field": "Nation Name"},
                             {"field": "Revenue"}],
            "filterExpressions": [{"field": "Day", "operator": "between",
                                   "from": "1995-01-01",
                                   "to": "2002-12-31"}],
            "rowsPerPage": 5})
        _post(srv, "/registry/maha/schemas/internal/query", req)
        _post(srv, "/registry/maha/schemas/internal/query", req)
        st, body = _get(srv, "/registry/maha/status")
        assert st == 200
        assert body["resultCache"]["hits"] >= 1
        assert body["resultCache"]["entries"] >= 1
    finally:
        srv.stop()


def test_status_without_result_cache_is_null(rest):
    st, body = _get(rest, "/registry/maha/status")
    assert st == 200
    assert body["resultCache"] is None or isinstance(
        body["resultCache"], dict)


def _sorted_rows(envelope):
    """Row order is not part of an unsorted request's answer: compare
    every ``rows`` list (envelope and curators) as a sorted list."""
    if isinstance(envelope, dict):
        return {k: (sorted(v, key=json.dumps) if k == "rows"
                    else _sorted_rows(v)) for k, v in envelope.items()}
    return envelope


def test_concurrent_mixed_requests_match_serial(spark, sf_dir,
                                                tmp_path_factory):
    """The threaded REST server over one engine and a 4-entry result
    cache: two waves of 8 client threads send mixed cube, curator and
    SQL requests, and a maintenance rewrite of the bound
    ``lineitem_daily`` rollup (``overwrite_day_partitions``) runs
    between the waves. Every response equals the serial run's, and
    afterwards no scoped cache is left and the persisted-RDD count is
    back where it started."""
    import os
    import random
    from concurrent.futures import ThreadPoolExecutor

    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import (
        QUERIES, build_contract_registry, ensure_udfs,
        materialize_lineitem_rollup, refresh_lineitem_rollup)
    from maha_spark.execution.result_cache import ResultCache
    from maha_spark.ops.common import release_scoped_caches
    from maha_spark.serving.rest import RestServer

    d = str(tmp_path_factory.mktemp("restconc"))
    for t in os.listdir(sf_dir):
        if t != "lineitem.parquet":
            os.symlink(os.path.join(sf_dir, t), os.path.join(d, t))
    # two months of lineitem keep the day-partitioned rollup small
    (spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
     .filter("l_shipdate >= '1996-01-01' AND l_shipdate < '1996-03-01'")
     .write.parquet(os.path.join(d, "lineitem.parquet")))
    materialize_lineitem_rollup(spark, d, d, partitioned=True)
    ensure_udfs(spark)
    eng = engine_for_dir(spark, build_contract_registry(), d,
                         result_cache=ResultCache(max_entries=4))
    day_all = {"field": "day", "operator": "between",
               "from": "1995-01-01", "to": "2002-12-31"}
    query = "/registry/maha/schemas/internal/query"
    calls = [
        (query, json.dumps(QUERIES["q1_pricing_summary"]["request"])),
        (query, json.dumps(QUERIES["q13_two_chains"]["request"])),
        (query, json.dumps(dict(QUERIES["q3_daily_revenue"]["request"],
                                curators={"totalmetrics": {},
                                          "rowcount": {}}))),
        # dim-only across two unrelated chains: scoped caches in the
        # request thread and in its curator threads
        (query, json.dumps({
            "cube": "tpch",
            "selectFields": [{"field": "nation_name"},
                             {"field": "supp_nation_name"}],
            "filterExpressions": [day_all], "distinct": True,
            "curators": {"rowcount": {}, "totalmetrics": {}}})),
        ("/registry/maha/schemas/internal/sql",
         "SELECT return_flag, line_status, revenue FROM tpch "
         "WHERE day BETWEEN '1995-01-01' AND '2002-12-31' "
         "ORDER BY revenue DESC LIMIT 4"),
    ]
    srv = RestServer(eng, registry_name="maha").start()
    try:
        serial = []
        for path, body in calls:
            st, out = _post(srv, path, body)
            assert st == 200, out
            serial.append(_sorted_rows(out))
        release_scoped_caches()   # ops run by earlier test modules
        _, before = _get(srv, "/registry/maha/status")
        assert before["scopedCaches"] == 0

        def wave(seed: int) -> None:
            order = [i for i in range(len(calls)) for _ in range(3)]
            random.Random(seed).shuffle(order)

            def one(i: int) -> None:
                st, out = _post(srv, *calls[i])
                assert st == 200, out
                assert _sorted_rows(out) == serial[i], calls[i][1]

            with ThreadPoolExecutor(8) as ex:
                for f in [ex.submit(one, i) for i in order]:
                    f.result()

        wave(1)
        refresh_lineitem_rollup(spark, d, d, "1996-01-01", "1996-01-31")
        wave(2)
        _, after = _get(srv, "/registry/maha/status")
        assert after["scopedCaches"] == 0
        assert after["persistedRdds"] == before["persistedRdds"]
    finally:
        srv.stop()
