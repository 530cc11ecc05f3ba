"""Set-based MERGE upsert keyed by declared unique constraints.

The reference loads row-at-a-time: SQLite ``INSERT … ON CONFLICT DO
UPDATE`` / MSSQL SELECT-exists→UPDATE-else-INSERT, one statement per row
(reference: ET-ETL-DWH-PY312/ETL/Load.py:101-162; key discovery
ETL/utils.py:247-253; "UPSERT mode … ET is source of truth"
DOCS/README.MD:18). That is O(rows) round-trips — the reference's load
bottleneck.

Here the same semantics are ONE set-based merge per table:

1. intra-batch dedup: ``row_number() over (partition by key order by
   <recency> desc) = 1`` — last write per unique key wins within a batch;
2. inter-batch merge: without a transactional table format in this
   environment we rewrite MERGE as

       new_target = source ∪ (target ⟕anti source on key)

   i.e. matched target rows are replaced by their source version (UPDATE),
   unmatched source rows are appended (INSERT), unmatched target rows are
   kept. On Delta Lake this function becomes a single ``MERGE INTO``
   (see docstring of ``merge_sql``) — the join rewrite below is the
   format-independent fallback with identical results.

Scale: the anti-join shuffles on the unique key; at 100 TB the target should
be bucketed/partitioned by the same key (date-partitioned for facts) so the
merge only rewrites touched partitions (standard Delta MERGE behavior).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def dedup_latest(df: DataFrame, key: tuple[str, ...] | list[str],
                 order_col: str | None = None) -> DataFrame:
    """Keep one row per unique key — the most recent when ``order_col`` is
    given, otherwise an arbitrary-but-deterministic single row."""
    if order_col:
        order = F.col(order_col).desc_nulls_last()
    else:
        # content-derived tie-break: monotonically_increasing_id depends on
        # partition layout, so replays on a different cluster size could
        # keep a different row. Hashing the serialized row is stable under
        # any repartitioning (to_json handles map/array/binary columns that
        # xxhash64 and struct-ordering cannot).
        order = F.md5(F.to_json(F.struct(*df.columns))).desc()
    w = Window.partitionBy(*key).orderBy(order)
    return (df.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1).drop("_rn"))


def merge_dataframes(target: DataFrame, source: DataFrame,
                     key: tuple[str, ...] | list[str],
                     order_col: str | None = None,
                     evolve_schema: bool = False) -> DataFrame:
    """MERGE semantics as a pure DataFrame rewrite (UPDATE ∪ INSERT ∪ KEEP).

    ``evolve_schema=True`` is Delta's ``mergeSchema`` equivalent: columns
    new in the source are ADDED to the table (NULL for pre-existing
    rows), columns absent from the source survive as NULL on the
    update/insert rows — so producers can add fields without a manual
    migration. Default off: silent schema drift on a parity table should
    fail loudly (conform() is the sanctioned drift gate).
    """
    src = dedup_latest(source, key, order_col)
    if evolve_schema:
        tgt_cols = set(target.columns)
        src_cols = set(src.columns)
        for f in src.schema.fields:
            if f.name not in tgt_cols:
                target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
        for f in target.schema.fields:
            if f.name not in src_cols:
                src = src.withColumn(f.name, F.lit(None).cast(f.dataType))
    kept = target.join(src.select(*key), on=list(key), how="left_anti")
    return kept.unionByName(src.select(*target.columns))


def recover_swap(path: str) -> None:
    """Repair an upsert swap interrupted by a crash.

    :func:`upsert_parquet` swaps via ``rename(path, path._old)`` →
    ``rename(path._staging, path)`` → ``rmtree(path._old)``. A crash in
    the middle window leaves the live table parked at ``._old`` with
    nothing at ``path`` — a reader that probes ``os.path.exists(path)``
    would then see "no table" and silently recompute from scratch (for
    the streaming members table that re-introduces the forgotten-members
    bug the table exists to fix). Rename the parked copy back before
    anyone reads; drop a stray ``._staging`` (never read, possibly
    incomplete) and a stale ``._old`` left by a crash in the final
    window (``path`` already promoted). Idempotent and cheap (two
    lstats) — called at the top of every upsert and safe for readers to
    call directly.
    """
    import os
    import shutil

    base = path.rstrip("/")
    old, staging = base + "._old", base + "._staging"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    if os.path.exists(path) and os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(staging):
        shutil.rmtree(staging)


def upsert_parquet(spark, source: DataFrame, path: str,
                   key: tuple[str, ...] | list[str],
                   order_col: str | None = None,
                   prechecked: bool = False,
                   evolve_schema: bool = False) -> None:
    """Idempotent upsert of ``source`` into the parquet table at ``path``.

    Running the same batch twice converges to the same table (pinned by
    tests/test_upsert.py). Write goes through a staging suffix then swap,
    because Spark cannot overwrite a path it is concurrently reading.

    Empty batches return without touching the table (the reference's
    empty-input short-circuit, run-et-etl.py:54-60 / Load.py:84-86) —
    without this, a no-op merge would rewrite the entire target.
    Callers that carry an ``Observation`` on ``source`` must do that
    emptiness check themselves on the UN-observed frame and pass
    ``prechecked=True`` — otherwise the limited ``take(1)`` scan is the
    observation's first action and the metrics report n_rows=1.
    """
    import os
    import shutil

    recover_swap(path)
    if not prechecked and not source.take(1):
        return
    if os.path.exists(path):
        target = spark.read.parquet(path)
        merged = merge_dataframes(target, source, key, order_col,
                                  evolve_schema=evolve_schema)
    else:
        merged = dedup_latest(source, key, order_col)
    staging = path.rstrip("/") + "._staging"
    merged.write.mode("overwrite").parquet(staging)
    if os.path.exists(path):
        # crash-safe swap: rename the live table aside, promote staging,
        # then drop the old copy — a crash at any point leaves either the
        # old or the new table recoverable on disk, never neither (the
        # rmtree-then-rename order had a window with NO table at path).
        old = path.rstrip("/") + "._old"
        if os.path.exists(old):
            shutil.rmtree(old)
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old)
    else:
        os.rename(staging, path)


def upsert_parquet_partitioned(spark, source: DataFrame, path: str,
                               key: tuple[str, ...] | list[str],
                               partition_col: str,
                               order_col: str | None = None) -> list:
    """Partition-pruned upsert: merge touches ONLY the partitions present
    in the batch — the plain-parquet expression of Delta MERGE's partition
    pruning, and the difference between rewriting 100 TB and rewriting one
    day of it.

    1. distinct partition values of the (deduped) batch — a tiny driver
       list (dates), this is metadata, not data collection;
    2. read the target pruned to those partitions (directory-level
       pruning via the partition column filter);
    3. merge and dynamically overwrite just those partition dirs
       (``partitionOverwriteMode=dynamic``); all other partitions are
       untouched bytes on disk.

    Returns the touched partition values.
    """
    import os

    src = dedup_latest(source, key, order_col)
    if not os.path.exists(path):
        src.write.partitionBy(partition_col).mode("overwrite").parquet(path)
        return [r[0] for r in src.select(partition_col).distinct().collect()]

    parts = [r[0] for r in src.select(partition_col).distinct().collect()]
    if not parts:       # empty batch: touch nothing
        return []
    target = (spark.read.parquet(path)
              .filter(F.col(partition_col).isin(parts)))
    merged = merge_dataframes(target, src.select(*target.columns), key,
                              order_col)
    # break lineage off the target path before overwriting it (Spark
    # refuses to overwrite a path it is reading); localCheckpoint
    # materializes the merged partitions — which are small by construction
    # local in every barrier mode: a storage cut would write them twice
    merged = merged.localCheckpoint(eager=True)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.partitionBy(partition_col).mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return parts


def merge_sql(table: str, key: tuple[str, ...], update_cols: tuple[str, ...]) -> str:
    """The Delta-Lake MERGE this operator becomes on a transactional store.

    Kept as a generator so the SQL surface is documented and testable as a
    string even where delta-spark is absent; :func:`upsert_delta` executes
    the same statement for real when the package is importable.
    """
    on = " AND ".join(f"t.{k} = s.{k}" for k in key)
    sets = ", ".join(f"t.{c} = s.{c}" for c in update_cols) or \
           ", ".join(f"t.{k} = s.{k}" for k in key)
    return (f"MERGE INTO {table} t USING _source s ON {on} "
            f"WHEN MATCHED THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED THEN INSERT *")


def delta_available() -> bool:
    """True when delta-spark is importable (not baked into this container;
    the execution path below is exercised wherever it is)."""
    import importlib.util
    return importlib.util.find_spec("delta") is not None


def upsert_delta(spark, source: DataFrame, path: str,
                 key: tuple[str, ...] | list[str],
                 order_col: str | None = None) -> None:
    """Executed transactional MERGE INTO a Delta table — the single-commit
    form of :func:`upsert_parquet` (same intra-batch last-write-wins dedup,
    same converge-on-replay semantics, but ACID and partition-pruned by the
    Delta log instead of the staging-swap dance).

    Reference parity: the server-side upsert loop at ETL/Load.py:120-162
    (one statement per row) becomes ONE set-based MERGE per batch.
    Raises ImportError where delta-spark is unavailable — callers branch on
    :func:`delta_available` and fall back to :func:`upsert_parquet`.
    """
    from delta.tables import DeltaTable  # ImportError here is the guard

    src = dedup_latest(source, key, order_col)
    if not DeltaTable.isDeltaTable(spark, path):
        src.write.format("delta").mode("overwrite").save(path)
        return
    on = " AND ".join(f"t.{k} = s.{k}" for k in key)
    (DeltaTable.forPath(spark, path).alias("t")
     .merge(src.alias("s"), on)
     .whenMatchedUpdateAll()
     .whenNotMatchedInsertAll()
     .execute())
