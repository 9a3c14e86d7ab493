"""DerivedFunction-parity macros, ExpressionFilter (JavaScriptFilter
parity), and the UDF registration surface (SURVEY §2.2/§2.8/§2.10)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from maha_spark.functions import (  # noqa: E402
    register_pandas_udf, register_udf,
)
from maha_spark.functions.macros import expand_macros  # noqa: E402
from maha_spark.request.request import ValidationError  # noqa: E402

DAY = {"field": "Day", "operator": "between",
       "from": "1995-01-01", "to": "2002-12-31"}


# ------------------------------------------------------------- macros
def test_get_interval_date_macro():
    assert expand_macros("GET_INTERVAL_DATE(`ts`, 'M')") == \
        "(CAST(date_trunc('month', `ts`) AS DATE))"
    assert expand_macros("GET_INTERVAL_DATE(`ts`, 'W')") == \
        "(CAST(date_trunc('week', `ts`) AS DATE))"


def test_macro_nested_and_args_with_parens():
    out = expand_macros("DAY_OF_WEEK(GET_INTERVAL_DATE(`ts`, 'D'))")
    assert out == "(date_format((CAST(date_trunc('day', `ts`) AS DATE)), 'EEEE'))"


def test_decode_dim_macro_with_default():
    out = expand_macros("DECODE_DIM(`s`, 'O', 'OPEN', 'C', 'CLOSED', 'NA')")
    assert out == ("(CASE WHEN (`s`) = 'O' THEN 'OPEN' "
                   "WHEN (`s`) = 'C' THEN 'CLOSED' ELSE 'NA' END)")


def test_regex_macro_comma_inside_quotes():
    out = expand_macros("REGEX(`v`, '([a-z]+),([0-9]+)', 2)")
    assert out == "(regexp_extract(`v`, '([a-z]+),([0-9]+)', 2))"


def test_unknown_macro_left_alone():
    assert expand_macros("SOME_FN(`x`)") == "SOME_FN(`x`)"
    assert expand_macros("upper(`x`)") == "upper(`x`)"


def test_unknown_grain_raises():
    with pytest.raises(ValueError, match="unknown grain"):
        expand_macros("GET_INTERVAL_DATE(`ts`, 'Q')")


def test_macros_in_spark_plan(spark):
    df = spark.sql("SELECT timestamp'2024-03-15 10:00:00' AS ts") \
        .selectExpr(expand_macros("GET_INTERVAL_DATE(ts, 'M')") + " AS m",
                    expand_macros("DAY_OF_WEEK(ts)") + " AS dow",
                    expand_macros("DATETIME_FORMATTER(ts, 0, 7)") + " AS ym")
    row = df.collect()[0]
    assert str(row.m) == "2024-03-01"
    assert row.dow == "Friday"
    assert row.ym == "2024-03"


# ---------------------------------------------------- expression filter
def test_expression_filter_allowed_op_enforced(engine):
    # "Day" only allows in/between/= -> expression must be rejected with an
    # accumulated validation error, not an execution failure
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"}, {"field": "Revenue"}],
        "filterExpressions": [DAY,
                              {"field": "Day", "operator": "expression",
                               "expression": "year({Day}) = 1995"}],
    }
    with pytest.raises(ValidationError, match="expression"):
        engine.dataframe(req)


def test_expression_filter_runs(engine):
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"}, {"field": "Revenue"}],
        "filterExpressions": [DAY,
                              {"field": "Line Number", "operator": "expression",
                               "expression": "{Line Number} % 2 = 1"}],
    }
    rows = engine.dataframe(req).collect()
    assert len(rows) > 0


def test_javascript_shaped_json_accepted(engine):
    # JavaScriptFilter-shaped request JSON: "function" key
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"}, {"field": "Revenue"}],
        "filterExpressions": [DAY,
                              {"field": "Line Number",
                               "operator": "javascript",
                               "function": "{Line Number} > 5"}],
    }
    rows = engine.dataframe(req).collect()
    assert len(rows) > 0


def test_expression_filter_unknown_field_rejected(engine):
    req = {
        "cube": "lineitem_stats",
        "selectFields": [{"field": "Return Flag"}, {"field": "Revenue"}],
        "filterExpressions": [DAY,
                              {"field": "No Such", "operator": "expression",
                               "expression": "{No Such} > 5"}],
    }
    with pytest.raises(ValidationError):
        engine.dataframe(req)


# ------------------------------------------------------------ UDF surface
def test_register_udf_row_at_a_time(spark):
    register_udf(spark, "t_double_it", lambda x: None if x is None else x * 2,
                 "bigint")
    assert spark.sql("SELECT t_double_it(21) AS v").collect()[0].v == 42
    assert spark.catalog.functionExists("t_double_it")


def test_register_pandas_udf_vectorized(spark):
    register_pandas_udf(spark, "t_vec_len",
                        lambda s: s.map(lambda x: len(x or "")), "int")
    assert spark.sql("SELECT t_vec_len('hello') AS v").collect()[0].v == 5


def test_udf_usable_in_derived_column_and_filter(spark):
    """A registered UDF works inside derived expressions AND expression
    filters (JAVASCRIPT derived-function intent, DerivedFunction.scala:113)."""
    import json
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry, ensure_udfs
    ensure_udfs(spark)
    eng = engine_for_dir(spark, build_contract_registry(),
                         "/root/testdata/sf0.001")
    df = eng.dataframe(json.dumps({
        "cube": "tpch",
        "selectFields": [{"field": "part_name_rev"}, {"field": "revenue"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "1995-01-01", "to": "2002-12-31"},
            {"field": "part_name_rev", "operator": "expression",
             "expression": "{part_name_rev} LIKE 'a%'"}],
        "rowsPerPage": 20,
    }))
    rows = df.collect()
    assert all(r.part_name_rev.startswith("a") for r in rows)


def test_col_w_replacements_pass_through():
    from maha_spark.functions.macros import expand_macros
    sql = expand_macros(
        "COL_W_REPLACEMENTS(CASE WHEN (`kw_id`) IS NOT NULL "
        "THEN (`kw`) ELSE (`term`) END)")
    # the expander parenthesizes every expansion; the body is unchanged
    assert sql == ("(CASE WHEN (`kw_id`) IS NOT NULL "
                   "THEN (`kw`) ELSE (`term`) END)")


def test_time_format_with_timezone_expansion():
    from maha_spark.functions.macros import expand_macros
    sql = expand_macros(
        "TIME_FORMAT_WITH_TIMEZONE(`ts`, 'yyyy-MM-dd HH:mm:ss', "
        "'yyyy-MM-dd HH', 'America/Los_Angeles')")
    assert sql == ("(date_format(from_utc_timestamp(to_timestamp(`ts`, "
                   "'yyyy-MM-dd HH:mm:ss'), 'America/Los_Angeles'), "
                   "'yyyy-MM-dd HH'))")


def test_to_char_oracle_tokens():
    from maha_spark.functions.macros import expand_macros
    assert expand_macros("TO_CHAR(`d`, 'YYYY-MM-DD HH24:MI:SS')") == \
        "(date_format(`d`, 'yyyy-MM-dd HH:mm:ss'))"
    assert expand_macros("TO_CHAR(`d`, 'DY DD MON YYYY')") == \
        "(date_format(`d`, 'EEE dd MMM yyyy'))"


def test_to_char_cube_column(spark):
    """TO_CHAR used in a cube column end-to-end (orders.order_month_c)."""
    from maha_spark.engine import engine_for_dir
    from maha_spark.examples.contract import build_contract_registry
    eng = engine_for_dir(spark, build_contract_registry(),
                         "/root/testdata/sf0.001")
    rows = eng.dataframe({
        "cube": "tpch",
        "selectFields": [{"field": "order_month_c"}, {"field": "revenue"}],
        "filterExpressions": [
            {"field": "day", "operator": "between",
             "from": "1995-01-01", "to": "1995-03-31"}],
        "sortBy": [{"field": "order_month_c", "order": "ASC"}],
        "rowsPerPage": 3,
    }).collect()
    assert rows and all(len(r[0]) == 7 and r[0][4] == "-" for r in rows)


def test_compare_percentage_banding():
    from maha_spark.functions.macros import expand_macros
    sql = expand_macros(
        "COMPARE_PERCENTAGE(`bal`, 1, 0, 'NEG', "
        "COMPARE_PERCENTAGE(`bal`, 5000, 100, 'LOW', 'HIGH'))")
    # chained bands stay a valid CASE chain; bands in the right order
    assert sql.index("'NEG'") < sql.index("'LOW'") < sql.index("'HIGH'")
    assert sql.count("CASE WHEN") >= 1 and sql.rstrip(")").endswith("END")


def test_video_shown_macros():
    from maha_spark.functions.macros import expand_macros
    assert expand_macros("GET_WEIGHTED_VIDEO_SHOWN(a, b, c, d)") == \
        "((( 25 * a ) + ( 50 * b ) + ( 75 * c) + (100 * d)))"
    assert expand_macros("GET_VIDEO_SHOWN_SUM(a, b, c, d)") == \
        "((a + b + c + d))"


def test_time_format_with_period_granularity(spark):
    from maha_spark.functions.macros import expand_macros
    sql = expand_macros(
        "TIME_FORMAT_WITH_PERIOD_GRANULARITY(`ts`, 'yyyy-MM-dd HH', 'PT1H')")
    assert sql == "(date_format(date_trunc('hour', `ts`), 'yyyy-MM-dd HH'))"
    # executes: hour-truncated rendering
    row = spark.sql(
        "SELECT " + expand_macros(
            "TIME_FORMAT_WITH_PERIOD_GRANULARITY("
            "timestamp'2024-03-05 13:47:11', 'yyyy-MM-dd HH:mm', 'PT1H')")
        + " AS v").collect()[0]
    assert row.v == "2024-03-05 13:00"


def test_additional_column_info_replaces_col_w_replacements(spark):
    """additionalParameters.AdditionalColumnInfo (QueryGenerator.scala:399
    overrideRenderedColWithCtx): request-scoped textual replacements apply
    to COL_W_REPLACEMENTS columns only — same request without the
    parameter keeps the authored default."""
    from maha_spark.core.columns import DerivedDimCol, DimCol, FactCol
    from maha_spark.core.rollup import SumRollup
    from maha_spark.core.types import DecType, IntType, StrType
    from maha_spark.engine import MahaSparkEngine
    from maha_spark.plans.binding import TableBinding
    from maha_spark.registry.cube import (FactTable, PubCol, PublicFact,
                                          Registry)

    reg = Registry()
    reg.register_fact(PublicFact(
        name="ctx", require_day_filter=False,
        tables=[FactTable(name="t", columns={
            "k": DimCol("k", StrType()),
            "v": FactCol("v", DecType(), rollup=SumRollup()),
            "label": DerivedDimCol(
                "label", StrType(),
                expr="COL_W_REPLACEMENTS('__LABEL__')"),
        })],
        pub_cols=[PubCol("k", "k"), PubCol("label", "label")],
        pub_fact_cols=[PubCol("v", "v")]))
    binding = TableBinding(spark)
    data = spark.createDataFrame([("a", 1.0), ("b", 2.0)],
                                 "k string, v double")
    binding.bind("t", lambda: data)
    eng = MahaSparkEngine(spark, reg, binding)

    base = {"cube": "ctx",
            "selectFields": [{"field": "k"}, {"field": "label"},
                             {"field": "v"}]}
    rows = {r.k: r.label for r in eng.dataframe(base).collect()}
    assert rows == {"a": "__LABEL__", "b": "__LABEL__"}
    rows = {r.k: r.label for r in eng.dataframe(dict(
        base, additionalParameters={"AdditionalColumnInfo": [
            {"field": "__LABEL__", "value": "ctx_value"}]})).collect()}
    assert rows == {"a": "ctx_value", "b": "ctx_value"}


def test_aci_replacement_respects_word_boundaries():
    """A short field token must never strip substrings out of authored
    SQL words (field 'de' vs decode())."""
    from maha_spark.functions.macros import (expand_macros,
                                             reset_ctx_replacements,
                                             set_ctx_replacements)
    tok = set_ctx_replacements([("de", "xx")])
    try:
        out = expand_macros("COL_W_REPLACEMENTS(decode(`de`, de, 1))")
        assert "decode" in out          # word interior untouched
        assert "`xx`" in out            # backticked name replaced (the
        #                                 column-reference-swap use case)
        assert ", xx," in out           # standalone token replaced
    finally:
        reset_ctx_replacements(tok)
