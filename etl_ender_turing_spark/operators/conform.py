"""Schema conformance with drift auditing.

The reference reconciles incoming dict keys against the declared DB schema at
load time: keys without a matching column are dropped with a warning, missing
columns are tolerated (reference: ET-ETL-DWH-PY312/ETL/Load.py:94-110;
unmatched-table warning ETL/Load.py:64-69, ETL/utils.py:279-281).

Catalyst prunes columns for free, but silently; this operator keeps the
reference's *audit* behavior: it logs what was dropped and what was filled
with NULLs, then selects/casts to the declared schema so every downstream
consumer sees exactly the registry shape.

The projection is SQL text, one quoted ``CAST(`c` AS <type>) AS `c``` string
per column, sent as one ``selectExpr`` call: built from Column objects,
a 36-column conform made ~1.3k Py4J round trips (~0.3 s of driver time),
as text it makes ~40.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame, functions as F, types as T

from ..functions.sql_text import ident, type_sql

log = logging.getLogger(__name__)


def conform(df: DataFrame, target: T.StructType, table_name: str = "?",
            exprs: dict[str, str] | None = None) -> DataFrame:
    """Project ``df`` onto ``target``: drop extras (warn), add missing as
    NULL (warn), cast mismatched types to the declared ones.

    ``exprs`` maps a target column to SQL text over ``df``'s columns
    (a parse, a derived value): it is computed in the same projection,
    cast to the declared type, in place of ``df``'s column of that name.

    Pure column-level projection — no shuffle, fully pushdown-transparent.
    """
    exprs = exprs or {}
    have = {f.name: f for f in df.schema.fields}
    want = target.fields

    extras = [c for c in df.columns if c not in {f.name for f in want}]
    missing = [f.name for f in want if f.name not in have
               and f.name not in exprs]
    if extras:
        log.warning("conform(%s): dropping unmatched columns %s", table_name, extras)
    if missing:
        log.warning("conform(%s): filling missing columns with NULL %s",
                    table_name, missing)

    cols = []
    for f in want:
        name, dtype = ident(f.name), type_sql(f.dataType)
        if f.name in exprs:
            # the text's type is not known here; a same-type cast is a no-op
            cols.append(f"CAST({exprs[f.name]} AS {dtype}) AS {name}")
        elif f.name not in have:
            cols.append(f"CAST(NULL AS {dtype}) AS {name}")
        elif have[f.name].dataType != f.dataType:
            cols.append(f"CAST({name} AS {dtype}) AS {name}")
        else:
            cols.append(name)
    return df.selectExpr(*cols)


def _outer_compare(a: DataFrame, b: DataFrame, key_cols: list[str],
                   compare_cols: list[str] | None) -> tuple[DataFrame, Column]:
    """Full outer join of ``a`` and ``b`` on the key, with ``_in_a`` /
    ``_in_b`` presence flags, and the null-safe equality of the compared
    columns (default: every non-key column of ``a``) as a Column."""
    cmp_cols = compare_cols or [c for c in a.columns if c not in key_cols]
    av = a.select(*key_cols,
                  *[F.col(c).alias(f"_a_{c}") for c in cmp_cols],
                  F.lit(1).alias("_in_a"))
    bv = b.select(*key_cols,
                  *[F.col(c).alias(f"_b_{c}") for c in cmp_cols],
                  F.lit(1).alias("_in_b"))
    # key-only tables (cmp_cols == []) still classify presence; "same"
    # defaults True so no key is ever marked changed
    same = F.lit(True)
    for c in cmp_cols:
        same = same & F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
    return av.join(bv, key_cols, "full_outer"), same


def reconcile(a: DataFrame, b: DataFrame, key_cols: list[str],
              compare_cols: list[str] | None = None) -> DataFrame:
    """Table reconciliation: one summary row — keys only in A, only in B,
    in both-and-equal, in both-but-changed.

    The migration-validation operator: run the reference pipeline and
    this engine over the same input, reconcile on the unique key, expect
    (0, 0, n, 0). One shuffle per side on the key columns; the compare is
    a null-safe equality conjunction evaluated in the joined projection —
    no collect, works at any table size.
    """
    j, same = _outer_compare(a, b, key_cols, compare_cols)
    return j.agg(
        F.count(F.when(F.col("_in_b").isNull(), 1)).alias("n_only_a"),
        F.count(F.when(F.col("_in_a").isNull(), 1)).alias("n_only_b"),
        F.count(F.when(F.col("_in_a").isNotNull()
                       & F.col("_in_b").isNotNull() & same, 1))
        .alias("n_equal"),
        F.count(F.when(F.col("_in_a").isNotNull()
                       & F.col("_in_b").isNotNull() & ~same, 1))
        .alias("n_changed"))


def snapshot_diff(old: DataFrame, new: DataFrame, key_cols: list[str],
                  compare_cols: list[str] | None = None) -> DataFrame:
    """Row-level change-data-capture between two snapshots of a keyed
    table: one row per key that was ``added``, ``removed`` or ``changed``
    (unchanged keys emit nothing) — the row-level complement of
    :func:`reconcile`'s one-row summary, and the input a downstream
    incremental consumer (MERGE, cache invalidation, re-embedding queue)
    actually needs.

    Scale shape: one shuffle per side on the key for the full outer
    join; comparison is a null-safe equality conjunction in the joined
    projection — no collect, output is bounded by the churn, not the
    table. At 100 TB, bucket both snapshots by the key (readers.py
    bucketing note) and the join plans with zero exchanges.
    """
    j, same = _outer_compare(old, new, key_cols, compare_cols)
    change = (F.when(F.col("_in_a").isNull(), "added")
              .when(F.col("_in_b").isNull(), "removed")
              .when(~same, "changed"))
    return (j.withColumn("change_type", change)
            .filter(F.col("change_type").isNotNull())
            .select(*key_cols, "change_type"))


# --------------------------------------------------------------------------
# PSI drift between two corpus snapshots (population stability index)
# --------------------------------------------------------------------------

# per-bin PSI term over add-one-smoothed counts: (q - p) * ln(q / p),
# 6dp-floor-quantized so an ulp of ln divergence can never reach the
# decimal sum (the lm._P_CASE discipline). ONE dual-dialect snippet —
# CAST/FLOOR/ln spell identically in Spark SQL and DuckDB.
_PSI_TERM = (
    "CAST(FLOOR((CAST(cq AS DOUBLE) / CAST(tq AS DOUBLE) - "
    "CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE)) * "
    "ln((CAST(cq AS DOUBLE) / CAST(tq AS DOUBLE)) / "
    "(CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE))) "
    "* 1000000 + 0.5) / 1000000 AS DECIMAL(28,6))")


def psi_drift(ref: DataFrame, cur: DataFrame, value_col: str = "n_chars",
              group_col: str = "source", n_bins: int = 10,
              max_value_cardinality: int = 100_000) -> DataFrame:
    """Population Stability Index of ``value_col`` per ``group_col``
    between a reference snapshot and the current one — THE production
    drift monitor (PSI < 0.1 stable, 0.1-0.25 drifting, > 0.25 broken):
    a crawl source whose length distribution shifts under your feet is
    how silent corpus regressions ship.

    Scale shape: bin edges come from the REFERENCE's value histogram
    (value-cardinality, tiny) using the repo's explicit integer-index
    quantile rule — edge_b = min value whose cumulative count reaches
    ``(b·total) div n_bins`` — never a corpus sort or percentile window;
    the 9-element edge array broadcasts into a narrow binning projection
    on both snapshots; everything after is (group × bin)-cardinality.
    Empty (group, bin) cells are add-one smoothed on BOTH sides (the
    standard PSI fix for ln(0)), with per-group totals re-summed over the
    smoothed counts so shares still sum to 1.
    """
    spark = ref.sparkSession
    # windows over the HISTOGRAM, not the corpus — ENFORCED (a
    # continuous value column fails loud, never single-reducer-sorts)
    from .guards import bounded_value_histogram
    vals = bounded_value_histogram(ref, value_col, "cnt",
                                   max_value_cardinality, op="psi_drift")
    from pyspark.sql import Window
    wv = (Window.orderBy(value_col)
          .rowsBetween(Window.unboundedPreceding, 0))
    wt = (Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    vc = vals.select(value_col, F.sum("cnt").over(wv).alias("cumle"),
                     F.sum("cnt").over(wt).alias("tot"))
    bs = spark.range(1, n_bins).withColumnRenamed("id", "b")
    edges = (vc.crossJoin(F.broadcast(bs))
             .filter(F.col("cumle") >= F.expr(f"(b * tot) div {n_bins}"))
             .groupBy("b").agg(F.min(value_col).alias("edge")))
    earr = edges.agg(F.sort_array(F.collect_list("edge")).alias("earr"))

    def binned(df: DataFrame, out: str) -> DataFrame:
        return (df.crossJoin(F.broadcast(earr))
                .select(group_col,
                        (F.expr(f"size(filter(earr, e -> {value_col} > e))")
                         + 1).alias("bin"))
                .groupBy(group_col, "bin")
                .agg(F.count(F.lit(1)).alias(out)))

    spine = (ref.select(group_col).union(cur.select(group_col)).distinct()
             .crossJoin(F.broadcast(
                 spark.range(1, n_bins + 1)
                 .select(F.col("id").cast("int").alias("bin")))))
    j = (spine.join(binned(ref, "rp"), [group_col, "bin"], "left")
         .join(binned(cur, "rq"), [group_col, "bin"], "left")
         .select(group_col, "bin",
                 (F.coalesce(F.col("rp"), F.lit(0)) + 1).alias("cp"),
                 (F.coalesce(F.col("rq"), F.lit(0)) + 1).alias("cq")))
    tot = (j.groupBy(group_col)
           .agg(F.sum("cp").alias("tp"), F.sum("cq").alias("tq")))
    return (j.join(F.broadcast(tot), group_col)
            .select(group_col, F.expr(_PSI_TERM).alias("term"))
            .groupBy(group_col)
            .agg(F.expr("CAST(SUM(term) AS DOUBLE)").alias("psi")))


def psi_drift_sql(ref_sql: str, cur_sql: str, value_col: str = "n_chars",
                  group_col: str = "source", n_bins: int = 10) -> str:
    """DuckDB oracle for :func:`psi_drift`: identical histogram edges,
    binning, smoothing and the shared quantized-ln term."""
    return f"""
    WITH refd AS ({ref_sql}), curd AS ({cur_sql}),
    vals AS (SELECT {value_col} AS v, COUNT(*) AS cnt
             FROM refd GROUP BY 1),
    vc AS (SELECT v, SUM(cnt) OVER (ORDER BY v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumle,
             SUM(cnt) OVER () AS tot FROM vals),
    bs AS (SELECT unnest(range(1, {n_bins})) AS b),
    edges AS (SELECT b, MIN(v) AS edge FROM vc, bs
              WHERE cumle >= (b * tot) // {n_bins} GROUP BY b),
    earr AS (SELECT list_sort(list(edge)) AS arr FROM edges),
    bp AS (SELECT {group_col} AS g,
                  len(list_filter(arr, e -> {value_col} > e)) + 1 AS bin
           FROM refd, earr),
    bq AS (SELECT {group_col} AS g,
                  len(list_filter(arr, e -> {value_col} > e)) + 1 AS bin
           FROM curd, earr),
    cp0 AS (SELECT g, bin, COUNT(*) AS rp FROM bp GROUP BY g, bin),
    cq0 AS (SELECT g, bin, COUNT(*) AS rq FROM bq GROUP BY g, bin),
    spine AS (SELECT g, bin FROM
                (SELECT {group_col} AS g FROM refd
                 UNION SELECT {group_col} FROM curd),
                (SELECT unnest(range(1, {n_bins + 1})) AS bin)),
    j AS (SELECT s.g, s.bin, COALESCE(rp, 0) + 1 AS cp,
                 COALESCE(rq, 0) + 1 AS cq
          FROM spine s
          LEFT JOIN cp0 USING (g, bin) LEFT JOIN cq0 USING (g, bin)),
    t AS (SELECT g, SUM(cp) AS tp, SUM(cq) AS tq FROM j GROUP BY g)
    SELECT j.g AS {group_col},
           CAST(SUM({_PSI_TERM}) AS DOUBLE) AS psi
    FROM j JOIN t USING (g) GROUP BY j.g
    """


# --------------------------------------------------------------------------
# Order-independent corpus manifest (reproducibility fingerprint)
# --------------------------------------------------------------------------


def corpus_manifest(df: DataFrame, group_col: str = "source",
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """(group, n_docs, ids_content_xor, content_xor): an order- and
    partitioning-independent fingerprint per group — the artifact two
    pipeline runs (or two CLUSTERS) compare to prove they produced the
    SAME corpus without sorting or diffing a single row.

    XOR over per-row 32-bit md5 chunks is commutative/associative, so
    the checksum is identical under any row order, partition layout or
    cluster size — and it combines: the whole-corpus checksum is the XOR
    of the group checksums, so a verifier never rescans. Two checksums
    on purpose: ``ids_content_xor`` binds id↔content (detects id remaps
    and row edits), ``content_xor`` is id-free (stable across re-keying,
    detects content-set changes only). One partial+final aggregate —
    bytes-in to 3-numbers-out at any scale.
    """
    idc = (f"CAST(conv(substring(md5(concat(CAST({id_col} AS STRING), "
           f"':', {text_col})), 1, 8), 16, 10) AS BIGINT)")
    txc = (f"CAST(conv(substring(md5({text_col}), 1, 8), 16, 10) "
           f"AS BIGINT)")
    return (df.groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.expr(f"bit_xor({idc})").alias("ids_content_xor"),
                 F.expr(f"bit_xor({txc})").alias("content_xor")))


def corpus_manifest_sql(table: str = "documents",
                        group_col: str = "source",
                        text_col: str = "text",
                        id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`corpus_manifest` (same md5 chunks; hex →
    UBIGINT → BIGINT keeps the 32-bit value signed-exact)."""
    idc = (f"bit_xor(('0x' || substr(md5(CAST({id_col} AS VARCHAR) || "
           f"':' || {text_col}), 1, 8))::UBIGINT::BIGINT)")
    txc = (f"bit_xor(('0x' || substr(md5({text_col}), 1, 8))"
           f"::UBIGINT::BIGINT)")
    return f"""
    SELECT {group_col}, CAST(COUNT(*) AS BIGINT) AS n_docs,
           {idc} AS ids_content_xor, {txc} AS content_xor
    FROM {table} GROUP BY {group_col}
    """
