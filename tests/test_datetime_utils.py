"""Pins the datetime semantics documented in functions/datetime_utils.py
(reference parity: ETL/Transform.py:131-139,243-266; ETL/utils.py:197-205)."""

from contextlib import contextmanager
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from etl_ender_turing_spark.functions.datetime_utils import (
    round_to_second_sql, safe_to_timestamp_sql)
from etl_ender_turing_spark.functions.sql_text import ident, string_literal


def _one(spark, s, expr):
    df = spark.createDataFrame([(s,)], "v string")
    return df.select(expr.alias("r")).collect()[0]["r"]


def test_parses_iso_microseconds_and_rounds(spark):
    # .620796 rounds UP to :45 (pandas .dt.round('s') parity)
    assert _one(spark, "2024-06-26T10:15:44.620796",
                F.expr(safe_to_timestamp_sql(ident("v")))) == datetime(2024, 6, 26, 10, 15, 45)


def test_rounds_down_below_half_second(spark):
    assert _one(spark, "2024-06-26T10:15:44.420796",
                F.expr(safe_to_timestamp_sql(ident("v")))) == datetime(2024, 6, 26, 10, 15, 44)


def test_out_of_bounds_date_defaults_1900(spark):
    # reference safe_to_datetime: '0001-01-01' -> 1900-01-01 (utils.py:197-205)
    assert _one(spark, "0001-01-01T00:00:00",
                F.expr(safe_to_timestamp_sql(ident("v")))) == datetime(1900, 1, 1)


def test_unparseable_defaults_1900(spark):
    assert _one(spark, "not-a-date",
                F.expr(safe_to_timestamp_sql(ident("v")))) == datetime(1900, 1, 1)


def test_regex_salvage_on_tz_suffix(spark):
    # malformed with trailing garbage -> embedded ISO core is salvaged
    # (Transform.py:245-250)
    assert _one(spark, "2024-07-08T07:30:44garbage+03:00",
                F.expr(safe_to_timestamp_sql(ident("v")))) == datetime(2024, 7, 8, 7, 30, 44)


def test_null_stays_null(spark):
    df = spark.createDataFrame([(None,)], "v string")
    assert df.select(F.expr(safe_to_timestamp_sql(ident("v"))).alias("r")).collect()[0]["r"] is None


def test_round_to_second_is_codegen_expression(spark):
    # stays JVM-side: no BatchEvalPython in the plan
    df = spark.range(1).select(F.current_timestamp().alias("t")).select(
        F.expr(round_to_second_sql(ident("t"))).alias("r"))
    assert "BatchEvalPython" not in df._jdf.queryExecution().executedPlan().toString()


@contextmanager
def _session_conf(spark, conf):
    old = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# spark.sql.parser.escapedStringLiterals changes how the SQL text's string
# literals read; ANSI mode (the vanilla Spark 4 default) changes casts,
# overflow and the reserved words
PARSER_SETTINGS = [
    {"spark.sql.parser.escapedStringLiterals": "true"},
    {"spark.sql.ansi.enabled": "true"},
    {"spark.sql.legacy.exponentLiteralAsDecimal.enabled": "true"},
]


@pytest.mark.parametrize("conf", PARSER_SETTINGS,
                         ids=lambda c: next(iter(c)).rsplit(".", 1)[-1])
def test_safe_to_timestamp_same_under_parser_settings(spark, conf):
    """The SQL text parses and evaluates alike under the settings that
    change string literals, numeric literals and casts: regex salvage,
    rounding, both clamps and NULL."""
    cases = [("2024-07-08T07:30:44garbage+03:00", datetime(2024, 7, 8, 7, 30, 44)),
             ("2024-06-26T10:15:44.620796", datetime(2024, 6, 26, 10, 15, 45)),
             ("0001-01-01T00:00:00", datetime(1900, 1, 1)),
             ("not-a-date", datetime(1900, 1, 1)),
             (None, None)]
    with _session_conf(spark, conf):
        df = spark.createDataFrame([(v,) for v, _ in cases], "v string")
        got = [r.r for r in df.select(F.expr(safe_to_timestamp_sql(ident("v"))).alias("r")).collect()]
    assert got == [want for _, want in cases]


@pytest.mark.parametrize("conf", PARSER_SETTINGS[:1] + [{}],
                         ids=["escapedStringLiterals", "default"])
def test_string_literal_reads_back_verbatim(spark, conf):
    values = ["plain", r"(\d{4})", "it's", "back\\slash'", 'q"uote']
    with _session_conf(spark, conf):
        row = spark.range(1).selectExpr(
            *[f"{string_literal(v)} AS v{i}" for i, v in enumerate(values)]
        ).first()
    assert list(row) == values
