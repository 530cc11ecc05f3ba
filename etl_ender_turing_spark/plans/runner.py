"""One catalog query runner: the build-and-time loop behind ``bench.py``,
``tools/check_oracle.py`` and ``tools/profile_plans.py``.

A sample of a query is: drop the shared cuts (so it computes its whole
plan, not another sample's cut), call its builder timed and Py4J-counted,
then run one action on the frame — the noop sink, which evaluates every
row and column and discards them (``count()`` would let Catalyst prune
compute-only projections), or ``toPandas``. The builder's own time
matters: building runs eager lineage cuts and probes, so for some
queries most of the wall time is spent before the action.

    warm_up(spark, sf_dir)
    for s in run_query(spark, sf_dir, "q1_pricing_summary", runs=3):
        s.build_s, s.py4j_calls, s.total_s
"""

from __future__ import annotations

import re
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..functions.barrier import clear_shared_cuts
from ..session import count_py4j_calls
from ..sources.readers import TESTDATA_TABLES
from . import CATALOG

# read once before timing: JVM start-up and the parquet footer caches of
# every table family the bench reads
WARM_UP_TABLES = ("lineitem", "documents", "embeddings")


@dataclass(frozen=True)
class Sample:
    """One timed run of a query. ``total_s`` covers build and action;
    ``pdf`` is the ``toPandas`` result (None after the noop sink)."""
    build_s: float
    py4j_calls: int
    total_s: float
    df: DataFrame
    pdf: object = None


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    for t in WARM_UP_TABLES:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()


def oracle_db(sf_dir: str):
    """A DuckDB connection with one view per test table over ``sf_dir``,
    the tables the catalog's oracle SQL reads."""
    import duckdb

    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def run_query(spark: SparkSession, sf_dir: str, name: str, runs: int = 1,
              to_pandas: bool = False, clear_cuts: bool = True) -> list[Sample]:
    """``runs`` samples of catalog query ``name``. ``clear_cuts=False``
    keeps the shared cuts earlier queries left, as a serial pass over the
    catalog in one session does (the ``__spark_entry__`` correctness run)."""
    spec = CATALOG.get(name)
    if spec is None:
        raise KeyError(f"{name!r} is not a catalog query")
    samples = []
    for _ in range(runs):
        if clear_cuts:
            clear_shared_cuts()
        t0 = time.perf_counter()
        with count_py4j_calls(spark) as n:
            df = spec.builder(spark, sf_dir)
        build_s = time.perf_counter() - t0
        pdf = None
        if to_pandas:
            pdf = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
        samples.append(Sample(build_s, n.calls, time.perf_counter() - t0,
                              df, pdf))
    return samples


def executed_plan(df: DataFrame) -> str:
    """The AQE-final physical plan of ``df``. A noop write runs a
    QueryExecution of its own and leaves ``df``'s unexecuted
    (``isFinalPlan=false``), so this executes ``df``'s own plan once,
    counting its rows in the JVM."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe.executedPlan().toString()


def summarize(plan: str) -> dict:
    """Shuffle budget of an executed plan: real shuffles (``exchanges``,
    of which ``reused`` are AQE exchange reuse), broadcasts, sort-merge
    and broadcast-hash joins, whole-stage codegen spans, and whether a
    predicate reached a parquet scan."""
    # AdaptiveSparkPlan prints the final plan followed by
    # "== Initial Plan =="; count only the final section or every
    # operator doubles
    plan = plan.split("== Initial Plan ==")[0]
    return {
        "exchanges": len(re.findall(r"\bExchange hashpartitioning", plan)),
        "reused": len(re.findall(r"\bReusedExchange", plan)),
        "broadcasts": len(re.findall(r"\bBroadcastExchange", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin", plan)),
        "bhj": len(re.findall(r"\bBroadcastHashJoin", plan)),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
    }
