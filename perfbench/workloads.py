"""The benchmark's workloads.

``catalog``: the baseline-11 catalog queries (``bench.BASELINE11``) plus the
build-bound ``q_unigram_lm_vocab``, each written to the noop sink. One op
is one pass over the twelve queries; a query is one builder call plus its
action. The baseline queries are execution-bound (scan, shuffle, codegen);
the unigram trainer spends most of its time building its plan, firing
jobs and lineage cuts before the action. Outputs are checked against the
catalog's DuckDB oracles.

``etl-merge``: the daily sync's load of yesterday's sessions fact
(date-partitioned) and its tags bridge, MERGE-upserted into a warehouse
that set-up seeds with the whole three-day fixture window. One op is
the pipeline's transform of the raw fixtures plus one
``pipeline.sync.load_tables`` call per table; a query is one table's
MERGE. It is
the only workload that writes, so sink and session-conf changes that
cost MERGE writes show here. Outputs are checked with
``run_etl.audit_warehouse`` and stable per-table counts.

The seed only permutes the order of queries (tables) within an op.
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import time

from . import datagen

CATALOG_SCALE = 0.01
FIXTURE_YESTERDAY = "2024-06-02"
ETL_TABLES = ("sessions", "sessions_tags")


def _load_module(path: str, name: str):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class CatalogWorkload:
    name = "catalog"
    # the spans the traced run reads as plan building and as the action
    build_span, action_span = "plans.build", "exec.action"

    def __init__(self, root: str, tmp: str, seed: int):
        from bench import BASELINE11
        self.root = root
        self.queries = list(BASELINE11) + ["q_unigram_lm_vocab"]
        self.rng = random.Random(seed)
        self.data_dir = os.path.join(tmp, "data")
        datagen.generate(self.data_dir, CATALOG_SCALE)
        self.results: dict[str, tuple[list[str], object]] = {}

    def prepare(self, spark) -> None:
        self.spark = spark

    def order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def before_op(self) -> None:
        # drop the catalog's shared fixture cuts, so every op computes
        # its whole plan instead of reading another op's results
        from etl_ender_turing_spark.plans import llm_catalog
        llm_catalog.clear_fixture_cache()

    def op(self, tracer, order: list[str], check: bool = False
           ) -> list[tuple[str, float, int]]:
        """One pass: build each query and write it to the noop sink (the
        check pass collects the rows instead). Returns (query, seconds,
        result rows) per query."""
        from etl_ender_turing_spark.plans import CATALOG
        out, self.frames = [], []
        for query in order:
            t0 = time.perf_counter()
            with tracer.span("plans.build"):
                df = CATALOG[query].builder(self.spark, self.data_dir)
            with tracer.span("exec.action"):
                if check:
                    pdf = df.toPandas()
                    self.results[query] = (list(df.columns), pdf)
                else:
                    df.write.format("noop").mode("overwrite").save()
            out.append((query, time.perf_counter() - t0,
                        len(self.results[query][1])))
            self.frames.append(df)
        return out

    def verify(self) -> list[str]:
        """Compare each collected result with its DuckDB oracle, with the
        canonicalisation of ``tools/check_oracle.py``."""
        import duckdb

        from etl_ender_turing_spark.plans import CATALOG
        from etl_ender_turing_spark.sources.readers import TESTDATA_TABLES
        co = _load_module(os.path.join(self.root, "tools", "check_oracle.py"),
                          "check_oracle")
        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{self.data_dir}/{t}.parquet'")
        problems = []
        for query in self.queries:
            if query not in self.results:
                problems.append(f"{query}: no result")
                continue
            cols, spdf = self.results[query]
            odf = con.execute(CATALOG[query].oracle).df()
            found = co.pandas_canon_problems(spdf, odf)
            if sorted(cols) != sorted(odf.columns):
                found.append("columns differ")
            srows = [tuple(r) for r in spdf.itertuples(index=False, name=None)]
            orows = [tuple(r) for r in odf.itertuples(index=False, name=None)]
            if not found and (co.canon(srows, cols)
                              != co.canon(orows, list(odf.columns))):
                found.append(f"values differ ({len(srows)} vs {len(orows)} rows)")
            problems.extend(f"{query}: {p}" for p in found)
        con.close()
        return problems

    def sink_figures(self, since: float) -> dict:
        return {"sink.bytes_written": 0, "sink.write_amp": 0.0,
                "sink.warehouse_files": 0}

    def close(self) -> None:
        pass


class EtlMergeWorkload:
    name = "etl-merge"
    build_span, action_span = "pipeline.transform", "pipeline.load"

    def __init__(self, root: str, tmp: str, seed: int):
        self.rng = random.Random(seed)
        self.tmp = tmp
        self.warehouse = None
        self.expected_rows: dict[str, int] | None = None
        self.seeded_counts: dict[str, int] = {}
        self.queries = list(ETL_TABLES)

    def prepare(self, spark) -> None:
        """The historical sync of the fixture window for the two tables,
        into a fresh warehouse."""
        from etl_ender_turing_spark.pipeline import (
            raw_fixture_tables, transform_all,
        )
        from etl_ender_turing_spark.pipeline.sync import load_tables
        self.spark = spark
        self.warehouse = os.path.join(self.tmp, "warehouse")
        shutil.rmtree(self.warehouse, ignore_errors=True)
        self.raw = raw_fixture_tables(spark)
        tables = transform_all(self.raw, spark)
        self.seeded_counts = load_tables(
            spark, {t: tables[t] for t in ETL_TABLES}, self.warehouse)

    def order(self) -> list[str]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return order

    def before_op(self) -> None:
        pass

    def op(self, tracer, order: list[str], check: bool = False
           ) -> list[tuple[str, float, int]]:
        """Transform the raw fixtures and cut yesterday's sessions and
        tags from them as ``sync_period`` does, then MERGE each table.
        Returns (table, seconds, rows synced) per table."""
        from pyspark.sql import functions as F

        from etl_ender_turing_spark.functions.filter_dsl import compile_filter
        from etl_ender_turing_spark.pipeline import transform_all
        from etl_ender_turing_spark.pipeline.sync import load_tables
        day = FIXTURE_YESTERDAY
        with tracer.span("pipeline.transform"):
            raw = {**self.raw, "sessions": self.raw["sessions"].filter(
                F.col("start_dt").substr(1, 10).between(day, day))}
            tables = transform_all(raw, self.spark)
            sessions = tables["sessions"].filter(compile_filter(
                f"date_range,{day},{day}", {"date_range": "start_dt"}))
            keys = sessions.select(F.col("id").alias("session_id"))
            frames = {"sessions": sessions,
                      "sessions_tags": tables["sessions_tags"].join(
                          keys, "session_id", "left_semi")}
        out, counts = [], {}
        for table in order:
            t0 = time.perf_counter()
            with tracer.span("pipeline.load"):
                got = load_tables(self.spark, {table: frames[table]},
                                  self.warehouse)
            counts.update(got)
            out.append((table, time.perf_counter() - t0, got[table]))
        self.frames = [frames[t] for t in order]
        self.last_synced = counts
        problems = self._check_synced(counts)
        if problems:
            raise AssertionError("; ".join(problems))
        return out

    def _check_synced(self, counts: dict[str, int]) -> list[str]:
        """Every op re-syncs the same day: its row counts must repeat."""
        if self.expected_rows is None:
            self.expected_rows = dict(counts)
            return [] if all(counts.values()) else [f"empty sync {counts}"]
        if counts != self.expected_rows:
            return [f"synced {counts}, first op synced {self.expected_rows}"]
        return []

    def sink_figures(self, since: float) -> dict:
        """Bytes and rows of the warehouse files written since ``since``
        (epoch seconds), against the rows the op synced."""
        import pyarrow.parquet as pq
        written = rows = files = 0
        for dirpath, _, names in os.walk(self.warehouse):
            for name in names:
                if not name.endswith(".parquet"):
                    continue
                path = os.path.join(dirpath, name)
                files += 1
                if os.stat(path).st_mtime >= since:
                    written += os.path.getsize(path)
                    rows += pq.ParquetFile(path).metadata.num_rows
        synced = sum(self.last_synced.values())
        return {"sink.bytes_written": written,
                "sink.write_amp": rows / synced if synced else 0.0,
                "sink.warehouse_files": files}

    def verify(self) -> list[str]:
        import run_etl
        problems = [f"audit {k}: {v} violations"
                    for k, v in run_etl.audit_warehouse(
                        self.spark, self.warehouse).items() if v]
        for t in ETL_TABLES:
            n = self.spark.read.parquet(os.path.join(self.warehouse, t)).count()
            if n != self.seeded_counts[t]:
                problems.append(f"{t}: {n} rows after the run, "
                                f"{self.seeded_counts[t]} after seeding")
        return problems

    def close(self) -> None:
        if self.warehouse:
            shutil.rmtree(self.warehouse, ignore_errors=True)


WORKLOADS = {w.name: w for w in (CatalogWorkload, EtlMergeWorkload)}
