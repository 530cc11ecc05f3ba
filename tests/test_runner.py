"""The catalog query runner behind bench.py, tools/check_oracle.py and
tools/profile_plans.py."""

import gc
import time

import pytest
from pyspark.sql import functions as F

from bench import BASELINE11, BENCH_QUERIES
from etl_ender_turing_spark.plans import CATALOG
from etl_ender_turing_spark.plans.runner import (executed_plan, run_query,
                                                 summarize)
from etl_ender_turing_spark.session import count_py4j_calls
from tests.conftest import SF_SMOKE as SF


def test_bench_query_lists_are_catalog_queries():
    assert len(set(BASELINE11)) == len(BASELINE11)
    assert len(set(BENCH_QUERIES)) == len(BENCH_QUERIES)
    assert set(BASELINE11) <= set(BENCH_QUERIES) <= set(CATALOG)


def test_unknown_query_raises_naming_it(spark):
    with pytest.raises(KeyError, match="q_no_such_query"):
        run_query(spark, SF, "q_no_such_query")


def test_run_query_samples_build_cost_and_plan(spark):
    runs = run_query(spark, SF, "q1_pricing_summary", runs=2)
    assert len(runs) == 2
    for s in runs:
        assert s.build_s > 0 and s.py4j_calls > 0
        assert s.total_s >= s.build_s
        assert s.pdf is None
    # the final plan of the last sample, as PLANS.md records it
    plan = executed_plan(runs[-1].df)
    assert "isFinalPlan=true" in plan
    assert summarize(plan)["exchanges"] == 1


def test_run_query_to_pandas(spark):
    (s,) = run_query(spark, SF, "q1_pricing_summary", to_pandas=True)
    assert list(s.pdf.columns) == s.df.columns and len(s.pdf) > 0


class _Cycle:
    def __init__(self, col):
        self.col, self.me = col, self


def test_py4j_count_skips_reference_releases(spark):
    """Releases of JavaObjects dropped before the block, sent by Py4J's
    finalizer thread while the block runs, are not the block's calls."""
    for i in range(2000):
        _Cycle(F.col(f"c{i}"))
    gc.collect()
    with count_py4j_calls(spark) as n:
        time.sleep(0.5)
    assert n.calls == 0
