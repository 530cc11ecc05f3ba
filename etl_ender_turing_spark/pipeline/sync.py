"""Sync orchestration: the reference's EP1/EP2 lifecycle, Spark-native.

Reference flow (run-et-etl.py:119-204): parse date range → read watermark
→ sync base dicts → sync sessions for [start, stop] → (daily mode)
incremental passes: re-sync last 30 days filtered to manually-scored
sessions, and sessions in categories updated since the watermark → write
new watermark.

Here each pass is: filter the raw sessions frame with a compiled DSL
predicate → transform → MERGE-upsert every output table by its declared
unique key. Because the sink is an idempotent merge, re-running any pass
(or overlapping lookback windows) converges — the property the reference
gets from row-level UPSERT, we get set-based.

The watermark is a tiny single-row parquet state table (the reference's
last_synced.json, ETL/utils.py:20-38) — driver-side read of one row, not
a collect() of data.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.filter_dsl import compile_filter
from ..operators.observe import observed_metrics, with_row_metrics
from ..operators.upsert import upsert_parquet, upsert_parquet_partitioned
from ..schemas import TABLES
from .transform import transform_all

# facts large enough to deserve date-partitioned layout + pruned merges;
# start_date matches the reference's date-range access pattern
# (ETL/utils.py:94-105) so date filters prune whole directories
PARTITIONED_FACTS = {"sessions": "start_date"}

WATERMARK_TABLE = "_sync_state"
INCREMENTAL_LOOKBACK_DAYS = 30   # settings.py:22 incremental_sync_n_days


def read_watermark(spark: SparkSession, warehouse: str) -> datetime | None:
    path = os.path.join(warehouse, WATERMARK_TABLE)
    if not os.path.exists(path):
        return None
    rows = spark.read.parquet(path).collect()
    return rows[0]["last_synced"] if rows else None


def write_watermark(spark: SparkSession, warehouse: str, ts: datetime) -> None:
    path = os.path.join(warehouse, WATERMARK_TABLE)
    spark.createDataFrame([(ts,)], "last_synced timestamp") \
        .coalesce(1).write.mode("overwrite").parquet(path)


def load_tables(spark: SparkSession, tables: dict[str, DataFrame],
                warehouse: str, order_col: str | None = None) -> dict[str, int]:
    """MERGE-upsert each table by its registry unique key (Load.py:63-183
    equivalent — one set-based merge per table instead of per-row SQL).

    Returns rows-synced per table: the batch's rows before the intra-batch
    dedup, counted by an Observation that rides the upsert's one cut of
    the batch (the reference's progress counters, settings.py:17 — with
    zero extra jobs). An empty batch counts 0 and leaves its table as it
    was."""
    counts: dict[str, int] = {}
    for name, df in tables.items():
        key = TABLES[name].unique_key
        # no emptiness probe here: the upsert's cut is the batch's first
        # and only evaluation, so it fires the Observation with the exact
        # count, 0 included, and the upsert skips an empty batch itself
        observed, obs = with_row_metrics(df, f"sync_{name}")
        path = os.path.join(warehouse, name)
        if name in PARTITIONED_FACTS:
            upsert_parquet_partitioned(spark, observed, path, list(key),
                                       PARTITIONED_FACTS[name], order_col)
        else:
            upsert_parquet(spark, observed, path, list(key), order_col)
        counts[name] = observed_metrics(obs).get("n_rows", 0)
    return counts


def sync_period(spark: SparkSession, raw: dict[str, DataFrame], warehouse: str,
                start: str, stop: str, extra_filters: str = "") -> dict[str, int]:
    """One EP1 pass: date-ranged (+ optional DSL) session sync."""
    dsl = f"date_range,{start},{stop}"
    if extra_filters:
        dsl += f"±{extra_filters}"
    # the date_range predicate applies to parsed start_dt; raw start_dt is a
    # string — prefilter on its ISO prefix (sargable, pushdown-friendly),
    # exact filtering happens post-parse in transform output space.
    raw_sessions = raw["sessions"].filter(
        F.col("start_dt").substr(1, 10).between(start, stop))
    tables = transform_all({**raw, "sessions": raw_sessions}, spark)
    pred = compile_filter(dsl, {"date_range": "start_dt"})
    extra_map = _session_level_predicates(extra_filters)
    sessions = tables["sessions"].filter(pred if extra_map is None else pred & extra_map)
    # restrict child tables to the surviving sessions (semi-join on key)
    keys = sessions.select(F.col("id").alias("session_id"))
    out = {"sessions": sessions}
    for name in ("sessions_tags", "sessions_categories", "sessions_reviewers",
                 "sessions_scores", "sessions_crm_statuses",
                 "sessions_comments", "sessions_summaries",
                 "sessions_transcripts"):
        if name in tables:
            out[name] = tables[name].join(keys, "session_id", "left_semi")
    dims = {n: tables[n] for n in tables
            if not n.startswith("sessions")}
    counts = load_tables(spark, {**dims, **out}, warehouse)
    return {n: counts[n] for n in out}


def _session_level_predicates(extra_filters: str):
    """Map reference filter names onto sessions-table columns where they
    are session-level (is_scored,manual → score_details.manual_score)."""
    if not extra_filters:
        return None
    return compile_filter(extra_filters, {"date_range": "start_dt"})


# the reference API caps categories at 9,999 per tenant (Extract.py's
# page-size ceiling), so the watermark pull below is a metadata-sized id
# list like the IVF-centroid / ER store-length pulls
_DIM_CAP = 10_000


def _updated_category_ids(categories: DataFrame, wm) -> list[str]:
    """Ids of categories updated since the watermark — a driver-side
    collect that is BOUNDED by dimension cardinality (``_DIM_CAP``; see
    SCALE.md "Driver-side memory contract"). NOT a pattern to copy onto
    a fact table: the ``limit`` keeps the transfer capped even on a
    misbehaving source, and the assert trips loudly if the dimension
    contract is ever broken instead of silently ballooning the driver.
    """
    ids = [str(r["id"]) for r in
           categories.filter(F.to_timestamp("updated_at") > F.lit(wm))
           .select("id").limit(_DIM_CAP).collect()]
    assert len(ids) < _DIM_CAP, \
        "categories exceeded the 9,999-per-tenant dimension cap"
    return ids


def sync_incremental(spark: SparkSession, raw: dict[str, DataFrame],
                     warehouse: str, stop: str) -> None:
    """Daily-mode incremental passes (run-et-etl.py:66-116):
    1. last-30-days re-sync of manually scored sessions;
    2. re-sync of sessions in categories updated since the watermark."""
    stop_dt = datetime.fromisoformat(stop)
    start = (stop_dt - timedelta(days=INCREMENTAL_LOOKBACK_DAYS)).date().isoformat()
    sync_period(spark, raw, warehouse, start, stop, "is_scored,manual")

    wm = read_watermark(spark, warehouse)
    if wm is not None:
        updated_cat_ids = _updated_category_ids(raw["categories"], wm)
        if updated_cat_ids:
            # sessions in updated categories; the DSL form of this
            # predicate is f"categories,{','.join(updated_cat_ids)}|or"
            raw_sessions = raw["sessions"].filter(F.exists(
                "categories",
                lambda c: c["id"].isin([int(i) for i in updated_cat_ids])))
            sync_period(spark, {**raw, "sessions": raw_sessions},
                        warehouse, start, stop)
    write_watermark(spark, warehouse, stop_dt)
