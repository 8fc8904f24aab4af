"""Unit tests for the ::key:: templating grammar (SURVEY §2A5-A8)."""

from __future__ import annotations

import datetime as dt

import pytest

from data_bridge_spark.functions.templating import (
    MACROS,
    render_sql,
    resolve_params,
    spark_sql_with_params,
    sql_literal,
)


def test_scalar_substitution():
    assert (
        render_sql("SELECT * FROM t WHERE a = ::x::", {"x": 7})
        == "SELECT * FROM t WHERE a = 7"
    )


def test_string_quoting_and_escaping():
    assert sql_literal("O'Brien") == "'O''Brien'"
    out = render_sql("WHERE name = ::n::", {"n": "O'Brien"})
    assert out == "WHERE name = 'O''Brien'"


def test_list_expands_to_in_list():
    out = render_sql("WHERE x IN (::xs::)", {"xs": [1, 2, 3]})
    assert out == "WHERE x IN (1, 2, 3)"
    out = render_sql("WHERE s IN (::ss::)", {"ss": ["a", "b"]})
    assert out == "WHERE s IN ('a', 'b')"


def test_date_and_null_literals():
    assert sql_literal(dt.date(2024, 7, 1)) == "DATE '2024-07-01'"
    assert sql_literal(dt.datetime(2024, 7, 1, 12, 30)) == "TIMESTAMP '2024-07-01 12:30:00'"
    assert sql_literal(None) == "NULL"
    assert sql_literal(True) == "TRUE"


def test_step_reference_resolution():
    # reference extractor.py:107-114: "step:<name>" reads a prior output
    resolved = resolve_params({"ids": "step:id_list"}, {"id_list": [5, 6]})
    assert resolved["ids"] == [5, 6]
    with pytest.raises(KeyError):
        resolve_params({"ids": "step:missing"}, {})


def test_macro_resolution_school_year():
    # reference macros.py:4-11: after July → year + 1
    fn = MACROS["SCHOOL_YEAR"]
    assert fn(dt.date(2024, 8, 1)) == 2025
    assert fn(dt.date(2024, 7, 1)) == 2024


def test_macro_yyyymmdd_fixed_format():
    # reference macros.py:15 bug was %Y%M%D; intended semantics:
    assert MACROS["YYYYMMDD"](dt.date(2024, 3, 5)) == "20240305"


def test_unknown_placeholder_raises():
    with pytest.raises(KeyError):
        render_sql("WHERE a = ::missing::", {})


def test_repeated_placeholder():
    out = render_sql("WHERE a = ::x:: OR b = ::x::", {"x": 1})
    assert out == "WHERE a = 1 OR b = 1"


def test_backslash_dialects():
    # ANSI (DuckDB/Derby): backslash is an ordinary char, quotes double
    assert sql_literal("a\\b'c") == "'a\\b''c'"
    # Spark processes backslash escapes in literals → double them too
    assert sql_literal("a\\b'c", dialect="spark") == "'a\\\\b''c'"
    # a value ending in a backslash must not swallow the closing quote
    assert sql_literal("trailing\\", dialect="spark") == "'trailing\\\\'"


def test_spark_dialect_roundtrip_hostile_values(spark):
    # data-derived param values (step: outputs) must come back verbatim
    # from spark.sql — no escape processing, no injection
    hostile = ["a\\b", "x' OR '1'='1", "end\\", "quote''\\'mix"]
    for v in hostile:
        sql = render_sql("SELECT ::v:: AS v", {"v": v}, dialect="spark")
        assert spark.sql(sql).collect()[0].v == v


def test_spark_sql_with_params_verbatim_under_either_parser(spark):
    # the caller's session owns spark.sql.parser.escapedStringLiterals:
    # a step: value with a backslash-quote and a trailing backslash reads
    # back exactly under the default parser and the legacy one
    key = "spark.sql.parser.escapedStringLiterals"
    v = "a\\'b\\"
    assert len(v) == 5
    try:
        for legacy in ("true", "false"):
            spark.conf.set(key, legacy)
            got = spark_sql_with_params(
                spark,
                "SELECT ::v:: AS v, 'zz' IN (::vs::) AS hit",
                {"v": "step:x", "vs": "step:xs"},
                {"x": v, "xs": [v, "zz"]},
            ).collect()[0]
            assert got.v == v and got.hit, legacy
    finally:
        spark.conf.unset(key)


def test_render_sql_guards_oversize_lists():
    big = list(range(20_001))
    with pytest.raises(ValueError, match="refusing to render"):
        render_sql("WHERE x IN (::ids::)", {"ids": big})
    # explicit opt-out still renders
    out = render_sql("WHERE x IN (::ids::)", {"ids": big}, max_inline_list=None)
    assert out.endswith("20000)")


def test_spark_sql_with_params_flips_to_semijoin(spark):
    rows = spark.range(100).selectExpr("id AS k")
    rows.createOrReplaceTempView("__tmpl_t")
    keep = [int(i) for i in range(0, 100, 2)]
    # force the view path with a tiny threshold; inline path as control
    small = spark_sql_with_params(
        spark, "SELECT k FROM __tmpl_t WHERE k IN (::ks::)", {"ks": keep}
    )
    flipped = spark_sql_with_params(
        spark,
        "SELECT k FROM __tmpl_t WHERE k IN (::ks::)",
        {"ks": keep},
        max_inline_list=10,
    )
    assert sorted(r.k for r in small.collect()) == keep
    assert sorted(r.k for r in flipped.collect()) == keep
    # the flipped plan is a real semi-join, not a rendered IN-list
    assert "LeftSemi" in flipped._jdf.queryExecution().optimizedPlan().toString()


def test_nonfinite_floats_render_as_valid_sql(spark):
    from data_bridge_spark.functions.templating import sql_literal

    assert sql_literal(float("inf")) == "CAST('Infinity' AS DOUBLE)"
    assert sql_literal(float("-inf")) == "CAST('-Infinity' AS DOUBLE)"
    assert sql_literal(float("nan")) == "CAST('NaN' AS DOUBLE)"
    # both engines parse the rendered literal
    import duckdb
    import math

    assert math.isinf(spark.sql(f"SELECT {sql_literal(float('inf'))} AS v").collect()[0].v)
    assert math.isinf(duckdb.sql(f"SELECT {sql_literal(float('inf'))} AS v").fetchone()[0])
    assert math.isnan(spark.sql(f"SELECT {sql_literal(float('nan'))} AS v").collect()[0].v)


def test_oversize_view_lifecycle_and_unreferenced_param(spark):
    """Views are made only for placeholders the SQL references, get unique
    names (no cross-query collision), and are dropped after planning."""
    rows = spark.range(50).selectExpr("id AS k")
    rows.createOrReplaceTempView("__tmpl_t2")
    keep = [int(i) for i in range(0, 50, 2)]
    before = {t.name for t in spark.catalog.listTables()}
    df = spark_sql_with_params(
        spark,
        "SELECT k FROM __tmpl_t2 WHERE k IN (::ks::)",
        {"ks": keep, "unused_big": list(range(100))},
        max_inline_list=10,
    )
    after = {t.name for t in spark.catalog.listTables()}
    assert after == before  # every __param_* view dropped, none for unused_big
    assert sorted(r.k for r in df.collect()) == keep  # plan survives the drop
    # two concurrent renders don't collide on view names
    df2 = spark_sql_with_params(
        spark, "SELECT k FROM __tmpl_t2 WHERE k IN (::ks::)", {"ks": keep[:10] }, max_inline_list=5
    )
    assert sorted(r.k for r in df2.collect()) == keep[:10]


def test_list_param_type_inference_guards():
    from data_bridge_spark.functions.templating import _spark_list_type

    assert _spark_list_type("x", [None, 3, 4]) == "bigint"  # first non-None wins
    assert _spark_list_type("x", ["a", None]) == "string"
    with pytest.raises(ValueError, match="entirely NULL"):
        _spark_list_type("x", [None, None])
    with pytest.raises(ValueError, match="mixes types"):
        _spark_list_type("x", [1, "a"])


def test_jdbc_dialect_backslash_escaping():
    from data_bridge_spark.functions.templating import sql_literal

    hostile = "O'Brien\\"
    assert sql_literal(hostile, "ansi") == "'O''Brien\\'"
    assert sql_literal(hostile, "backslash") == "'O''Brien\\\\'"
