"""Datetime parsing/normalization — Spark-native, zero Python UDFs.

Reproduces the reference's pandas datetime stack (reference:
ET-ETL-DWH-PY312/ETL/Transform.py:131-139,243-266; ETL/utils.py:197-205)
with pinned, test-documented semantics:

- ISO-8601 microsecond strings -> timestamp ROUNDED to whole seconds.
  pandas uses ``.dt.round('s')`` (round-half-to-even); we pin
  round-half-up via ``timestamp_seconds(round(unix_micros/1e6))`` —
  documented delta: values exactly on .5 s with an even floor differ.
- Out-of-bounds / unparseable dates (e.g. '0001-01-01T00:00:00') fall back
  to the reference's default 1900-01-01 (utils.py:197-205 safe_to_datetime).
- Regex salvage: strings that fail a direct parse but contain an embedded
  'YYYY-MM-DDTHH:MM:SS' are rescued via regexp_extract
  (Transform.py:245-250).

All branches are built-in expressions -> whole-stage codegen, pushdown-safe.

Each helper has one definition, as SQL text over an argument that is
itself SQL text (``*_sql``): the pipeline splices it into its one-call
projections (see ``functions/sql_text.py`` for why); a Column is
``F.expr`` of that text over ``ident(<column name>)``. String
literals hold no backslash and doubles carry a ``D`` suffix, so the text
parses alike under ``spark.sql.parser.escapedStringLiterals``,
``spark.sql.legacy.exponentLiteralAsDecimal.enabled`` and ANSI mode.
"""

from __future__ import annotations

from .sql_text import string_literal

# [0-9], not \d (the same class in Java regex): a literal without a
# backslash parses alike under spark.sql.parser.escapedStringLiterals
ISO_CORE = "([0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{2}:[0-9]{2}:[0-9]{2})"
DEFAULT_TS = "1900-01-01 00:00:00"
# Spark happily parses year 0001; pandas Timestamp cannot (min 1677-09-21).
# Mirror pandas: anything below the pandas min becomes the 1900 default.
PANDAS_MIN_TS = "1677-09-22 00:00:00"


def parse_iso_ts_sql(c: str) -> str:
    """Lenient ISO-8601 parse of SQL text ``c``: direct try_to_timestamp,
    then regex salvage."""
    return (f"coalesce(try_to_timestamp({c}), try_to_timestamp("
            f"regexp_extract({c}, {string_literal(ISO_CORE)}, 1)))")


def round_to_second_sql(ts: str) -> str:
    """Round (not truncate) a timestamp to whole seconds, like pandas
    ``.dt.round('s')`` (half-up rather than pandas' half-even; pinned in
    tests/test_datetime_utils.py)."""
    return f"timestamp_seconds(round(unix_micros({ts}) / 1e6D))"


def safe_to_timestamp_sql(c: str, default: str = DEFAULT_TS) -> str:
    """Parse → round to second → clamp out-of-pandas-range to ``default``.

    Equivalent of reference safe_to_datetime (utils.py:197-205) applied
    after to_datetime+round (Transform.py:131-139).
    """
    parsed = round_to_second_sql(parse_iso_ts_sql(c))
    fallback = f"CAST({string_literal(default)} AS TIMESTAMP)"
    return (f"CASE WHEN {parsed} IS NULL AND {c} IS NOT NULL THEN {fallback} "
            f"WHEN {parsed} < CAST({string_literal(PANDAS_MIN_TS)} AS TIMESTAMP)"
            f" THEN {fallback} ELSE {parsed} END")


def split_date_time_sql(ts: str) -> tuple[str, str]:
    """ISO date part and HH:MM time part, as strings.

    Reference splits the raw ISO string on 'T' and slices HH:MM
    (Transform.py:39-40; get-scores.py:58).
    """
    return (f"date_format({ts}, {string_literal('yyyy-MM-dd')})",
            f"date_format({ts}, {string_literal('HH:mm')})")

