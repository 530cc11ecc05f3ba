"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``etl_ender_turing_spark``; this file only adapts
the engine's query catalog to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_ender_turing_spark.plans import CATALOG  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: multi-way join + agg
    (broadcast dims, decimal-exact sums) — q5_revenue_by_nation."""
    return CATALOG["q5_revenue_by_nation"].builder(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.builder for name, spec in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (omitted for non-SQL-expressible ops
    → driver records a weaker rows-only check)."""
    return {name: spec.oracle for name, spec in CATALOG.items()
            if spec.oracle is not None}
