"""Set-based MERGE upsert keyed by declared unique constraints.

The reference loads row-at-a-time: SQLite ``INSERT … ON CONFLICT DO
UPDATE`` / MSSQL SELECT-exists→UPDATE-else-INSERT, one statement per row
(reference: ET-ETL-DWH-PY312/ETL/Load.py:101-162; key discovery
ETL/utils.py:247-253; "UPSERT mode … ET is source of truth"
DOCS/README.MD:18). That is O(rows) round-trips — the reference's load
bottleneck.

Here the same semantics are ONE set-based merge per table, computed in
one pass over the batch:

1. intra-batch dedup: ``row_number() over (partition by key order by
   <recency> desc) = 1`` — last write per unique key wins within a batch;
2. one eager local cut of the deduped batch. The cut is the batch's only
   evaluation: it fires the caller's Observations and the upsert's own,
   which carries the row count (empty batches return here, untouched
   table) and, on the partitioned path, the touched partition values;
3. inter-batch merge of the cut: without a transactional table format in
   this environment we rewrite MERGE as

       new_target = source ∪ (target ⟕anti source on key)

   i.e. matched target rows are replaced by their source version (UPDATE),
   unmatched source rows are appended (INSERT), unmatched target rows are
   kept. On Delta Lake this function becomes a single ``MERGE INTO``
   (see docstring of ``merge_sql``) — the join rewrite below is the
   format-independent fallback with identical results;
4. write: staging directory and swap (flat tables) or a per-write dynamic
   partition overwrite (partitioned facts).

Scale: the anti-join shuffles on the unique key; at 100 TB the target should
be bucketed/partitioned by the same key (date-partitioned for facts) so the
merge only rewrites touched partitions (standard Delta MERGE behavior). The
cut holds one deduped batch (a day of a fact) in executor storage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F

from ..functions.sql_text import ident, type_sql
from .observe import observed_metrics


def dedup_latest(df: DataFrame, key: tuple[str, ...] | list[str],
                 order_col: str | None = None) -> DataFrame:
    """Keep one row per unique key — the most recent when ``order_col`` is
    given, otherwise an arbitrary-but-deterministic single row.

    One SQL-text projection: the window is one string, not a Column
    object per key and per row column (the MERGE path builds it per
    batch)."""
    if order_col:
        order = f"{ident(order_col)} DESC NULLS LAST"
    else:
        # content-derived tie-break: monotonically_increasing_id depends on
        # partition layout, so replays on a different cluster size could
        # keep a different row. Hashing the serialized row is stable under
        # any repartitioning (to_json handles map/array/binary columns that
        # xxhash64 and struct-ordering cannot).
        order = "md5(to_json(struct(*))) DESC"
    partition = ", ".join(map(ident, key))
    return (df.selectExpr("*", f"row_number() OVER (PARTITION BY {partition} "
                               f"ORDER BY {order}) AS `_rn`")
              .filter("`_rn` = 1").drop("_rn"))


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
    return _merge_deduped(target, dedup_latest(source, key, order_col), key,
                          evolve_schema)


def _merge_deduped(target: DataFrame, src: DataFrame,
                   key: tuple[str, ...] | list[str],
                   evolve_schema: bool = False) -> DataFrame:
    """:func:`merge_dataframes` of a source already deduped on ``key``."""
    if evolve_schema:
        tgt_cols = set(target.columns)
        src_cols = set(src.columns)
        target = _with_nulls(target, [f for f in src.schema.fields
                                      if f.name not in tgt_cols])
        src = _with_nulls(src, [f for f in target.schema.fields
                                if f.name not in src_cols])
    kept = target.join(src.selectExpr(*map(ident, key)), on=list(key),
                       how="left_anti")
    return kept.unionByName(src.selectExpr(*map(ident, target.columns)))


def _with_nulls(df: DataFrame, fields: list) -> DataFrame:
    """``df`` plus a typed NULL column per field, in one projection."""
    if not fields:
        return df
    return df.selectExpr("*", *[f"CAST(NULL AS {type_sql(f.dataType)}) AS "
                                f"{ident(f.name)}" for f in fields])


def _cut_batch(source: DataFrame, key: tuple[str, ...] | list[str],
               order_col: str | None,
               partition_col: str | None = None) -> tuple[DataFrame, dict]:
    """Dedup ``source`` and cut it eagerly: the one pass over the batch.

    Returns the cut and its metrics: ``n`` deduped rows and, given
    ``partition_col``, ``parts``, the set of its non-null values, and
    ``has_null``, whether it holds a NULL; ``{}`` for a batch that is
    provably empty.
    """
    metrics = ["count(1) AS n"]
    if partition_col:
        p = ident(partition_col)
        metrics += [f"collect_set({p}) AS parts",
                    f"max({p} IS NULL) AS has_null"]
    obs = Observation()
    # local in every barrier mode: a storage cut would write the batch twice
    cut = (dedup_latest(source, key, order_col)
           .observe(obs, *map(F.expr, metrics))
           .localCheckpoint(eager=True))
    return cut, observed_metrics(obs)


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
                   evolve_schema: bool = False) -> None:
    """Idempotent upsert of ``source`` into the parquet table at ``path``.

    Running the same batch twice converges to the same table (pinned by
    tests/test_conform_upsert.py). One pass over the batch: dedup, one eager
    local cut that also fires the Observations on ``source`` and reads
    the deduped row count, merge of the cut with the table, write.
    Observations a caller attached to ``source`` are therefore complete
    when this returns, empty batch included, at no extra job.

    Empty batches return after the cut without touching the table (the
    reference's empty-input short-circuit, run-et-etl.py:54-60 /
    Load.py:84-86) — without this, a no-op merge would rewrite the entire
    target. The write goes through a staging suffix then swap, because
    Spark cannot overwrite a path it is concurrently reading.
    """
    import os
    import shutil

    recover_swap(path)
    src, got = _cut_batch(source, key, order_col)
    if not got.get("n"):
        return
    if os.path.exists(path):
        merged = _merge_deduped(spark.read.parquet(path), src, key,
                                evolve_schema=evolve_schema)
    else:
        merged = src
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

    1. dedup and cut the batch once, as :func:`upsert_parquet` does; the
       cut's Observation also collects the batch's partition values — a
       tiny set (dates), metadata rather than data — so an empty batch
       touches nothing, a missing table included;
    2. read the target pruned to those partitions (directory-level
       pruning via the partition column filter);
    3. merge and dynamically overwrite just those partition dirs (the
       write's own ``partitionOverwriteMode=dynamic`` option, so the
       session conf never changes); all other partitions are untouched
       bytes on disk.

    Returns the touched partition values, sorted, NULL last.
    """
    import os

    src, got = _cut_batch(source, key, order_col, partition_col)
    if not got.get("n"):    # empty batch: touch nothing
        return []
    parts = sorted(got["parts"]) + [None] * got["has_null"]
    if not os.path.exists(path):
        src.write.partitionBy(partition_col).mode("overwrite").parquet(path)
        return parts

    # isin never matches NULL: the NULL partition is selected on its own
    touched = F.col(partition_col).isin(got["parts"])
    if got["has_null"]:
        touched = touched | F.col(partition_col).isNull()
    target = spark.read.parquet(path).filter(touched)
    merged = _merge_deduped(target, src.selectExpr(*map(ident, target.columns)),
                            key)
    # break lineage off the target path before overwriting it (Spark
    # refuses to overwrite a path it is reading); localCheckpoint
    # materializes the merged partitions — which are small by construction
    # local in every barrier mode: a storage cut would write them twice
    merged = merged.localCheckpoint(eager=True)
    (merged.write.option("partitionOverwriteMode", "dynamic")
     .partitionBy(partition_col).mode("overwrite").parquet(path))
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
