"""Bucketed warehouse layout — shuffle-free fact-fact joins at 100 TB.

The reference loads into row-stores keyed by unique constraints
(reference: ETL/Load.py:63-183); at warehouse scale the equivalent
decision is the *physical layout* of each table. Strategy:

- facts bucketed (and sort-ordered) by their join key: a join of two
  tables bucketed the same way needs NO Exchange on either side — the
  single biggest shuffle saving available to a recurring pipeline, paid
  once at write time and amortized over every downstream join.
- date partitioning (`partitionBy(start_date)`) on top, matching the
  reference's date-range access pattern (ETL/utils.py:94-105 half-day
  splits) so date filters prune whole directories.
- dimensions stay unbucketed — they broadcast.

Bucket count is a cluster-sizing decision: at 100 TB with ~512 MB
post-compression bucket files, O(10⁴) buckets per fact; locally tests
use 8. Bucketing requires a saveAsTable catalog table (bucket metadata
lives in the catalog, not the parquet footer).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(df: DataFrame, table: str, bucket_cols: list[str],
                   n_buckets: int, sort_cols: list[str] | None = None,
                   partition_cols: list[str] | None = None,
                   path: str | None = None) -> None:
    """Persist ``df`` as a bucketed (optionally date-partitioned) table.

    ``path`` makes it an external table at that location (the warehouse
    dir is a static conf, so tests point each table at a temp path).
    """
    w = (df.write.mode("overwrite")
         .bucketBy(n_buckets, *bucket_cols)
         .sortBy(*(sort_cols or bucket_cols)))
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def cobucketed_join(spark: SparkSession, left_table: str, right_table: str,
                    on: list[str], how: str = "inner") -> DataFrame:
    """Join two co-bucketed tables. With matching bucket spec on the join
    key the physical plan contains no Exchange under the SortMergeJoin —
    verified by tests/test_warehouse.py."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def with_surrogate_key(df: DataFrame, guid_col: str,
                       out_col: str | None = None) -> DataFrame:
    """64-bit surrogate of a GUID key (SURVEY risk #5): ``xxhash64`` of
    the string key, for bucket/shuffle keys at 100 TB — an 8-byte shuffle
    key moves ~4.5× less key-bytes than a 36-char GUID and compares as a
    long. Join on the surrogate AND verify on the GUID (keep both
    columns): xxhash64 collisions are ~0.3 expected at 10^11 rows, so the
    GUID equality in the join condition makes collisions harmless while
    the surrogate still drives partitioning.
    """
    from pyspark.sql import functions as F

    return df.withColumn(out_col or f"{guid_col}_sk",
                         F.xxhash64(F.col(guid_col)))


def upsert_bucketed(spark: SparkSession, source: DataFrame, table: str,
                    key: list[str], n_buckets: int,
                    bucket_cols: list[str] | None = None,
                    order_col: str | None = None,
                    path: str | None = None) -> None:
    """Incremental MERGE-upsert that PRESERVES the bucketed layout.

    Same semantics as ``upsert_parquet`` and the same one pass over the
    batch (dedup and one eager local cut, whose Observation counts the
    rows): an empty batch returns there, the table untouched and a
    missing one not created. Otherwise UPDATE ∪ INSERT ∪ KEEP against
    the live table, and the rewrite lands through ``bucketBy`` again, so
    every sync keeps the zero-Exchange join property instead of silently
    degrading the layout. The merged frame is localCheckpoint-ed to break
    lineage off the table being overwritten (Spark refuses to overwrite
    its own input).

    At 100 TB pair this with date partitioning and merge per partition
    (``upsert_parquet_partitioned`` pattern); the bucket spec must stay
    identical across syncs or co-located joins lose their guarantee.
    """
    from ..functions.sql_text import ident
    from ..operators.upsert import _cut_batch, _merge_deduped

    bucket_cols = bucket_cols or key
    src, got = _cut_batch(source, key, order_col)
    if not got.get("n"):
        return
    if not spark.catalog.tableExists(table):
        write_bucketed(src, table, bucket_cols, n_buckets, path=path)
        return
    target = spark.table(table)
    merged = _merge_deduped(target, src.selectExpr(*map(ident, target.columns)),
                            key)
    # local in every barrier mode: a storage cut would write the rows twice
    merged = merged.localCheckpoint(eager=True)
    write_bucketed(merged, table, bucket_cols, n_buckets, path=path)
