"""Data-mixing operators: deterministic sampling, stratified rates,
epoch-weighted mixtures, token budgeting.

A training-data pipeline rarely trains on a corpus as-is — it mixes
sources at chosen rates (e.g. 2.5 epochs of wiki, 0.3 of crawl) and cuts
to a token budget. These operators make that mixing reproducible at
100 TB:

- sampling decisions are a pure function of the row id (md5-derived unit
  interval), NOT an RNG: the same row is kept in every run, on any
  cluster layout, and the DuckDB oracle selects the identical set;
- the token-budget selector computes a global prefix sum WITHOUT a
  single-reducer window: range-partition by the order key, per-partition
  partial sums hop to the driver (one row per partition — metadata), and
  each partition finishes its own cumulative sum in parallel.
"""

from __future__ import annotations

from ..functions.rounding import round6u
from .guards import bounded_value_histogram
from pyspark.sql import Column, DataFrame, Window, functions as F

HASH_SPACE = float(2 ** 32)


def hash_unit(id_col: str) -> Column:
    """Uniform [0,1) value derived from md5(id) — the deterministic coin.

    First 8 hex chars → 32-bit int / 2^32. Identical in DuckDB via
    ``('0x' || substr(md5(id::VARCHAR), 1, 8))::UBIGINT / 2^32``.
    """
    return (F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8),
                   16, 10).cast("double") / F.lit(HASH_SPACE))


def hash_unit_sql(id_col: str) -> str:
    return (f"(('0x' || substr(md5(CAST({id_col} AS VARCHAR)), 1, 8))::UBIGINT"
            f" / {HASH_SPACE})")


def deterministic_sample(df: DataFrame, fraction: float,
                         id_col: str = "doc_id", salt: str = "") -> DataFrame:
    """Keep ~``fraction`` of rows, chosen by id hash — reproducible on any
    cluster and re-selectable (the same ids survive every run). ``salt``
    decorrelates independent samples of the same data."""
    col = (hash_unit(id_col) if not salt else
           F.conv(F.substring(F.md5(F.concat(F.col(id_col).cast("string"),
                                             F.lit(salt))), 1, 8),
                  16, 10).cast("double") / F.lit(HASH_SPACE))
    return df.filter(col < fraction)


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      strata_col: str, id_col: str = "doc_id",
                      default_rate: float = 0.0) -> DataFrame:
    """Per-stratum sampling rates (``sampleBy`` semantics, deterministic).

    One narrow filter — no shuffle, no RNG; strata missing from ``rates``
    keep ``default_rate``.
    """
    rate = F.lit(default_rate)
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == value, F.lit(r)).otherwise(rate)
    return df.filter(hash_unit(id_col) < rate)


def stratified_sample_sql(table: str, rates: dict[str, float],
                          strata_col: str, id_col: str = "doc_id",
                          default_rate: float = 0.0) -> str:
    whens = " ".join(f"WHEN {strata_col} = '{v}' THEN {r}"
                     for v, r in sorted(rates.items()))
    return (f"SELECT * FROM {table} WHERE {hash_unit_sql(id_col)} < "
            f"(CASE {whens} ELSE {default_rate} END)")


def epoch_mixture(df: DataFrame, epochs: dict[str, float], strata_col: str,
                  id_col: str = "doc_id") -> DataFrame:
    """Epoch-weighted mixture: stratum weight 2.5 → every row appears
    twice plus a deterministic 50 % sample appears a third time.

    ``epoch`` column distinguishes the replicas (downstream shuffles key
    on (id, epoch), so replication cannot collapse in a dedup). Unions
    are narrow; the fractional tail reuses the salted deterministic
    sample so different epochs of the same stratum stay decorrelated.
    """
    parts: list[DataFrame] = []
    for value, w in sorted(epochs.items()):
        stratum = df.filter(F.col(strata_col) == value)
        full, frac = int(w), w - int(w)
        for e in range(full):
            parts.append(stratum.withColumn("epoch", F.lit(e)))
        if frac > 0:
            parts.append(
                deterministic_sample(stratum, frac, id_col, salt=f"ep{full}")
                .withColumn("epoch", F.lit(full)))
    if not parts:
        return df.limit(0).withColumn("epoch", F.lit(0))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def epoch_mixture_sql(table: str, epochs: dict[str, float], strata_col: str,
                      id_col: str = "doc_id") -> str:
    selects = []
    for value, w in sorted(epochs.items()):
        full, frac = int(w), w - int(w)
        for e in range(full):
            selects.append(f"SELECT *, {e} AS epoch FROM {table} "
                           f"WHERE {strata_col} = '{value}'")
        if frac > 0:
            salted = (f"(('0x' || substr(md5(CAST({id_col} AS VARCHAR) || "
                      f"'ep{full}'), 1, 8))::UBIGINT / {HASH_SPACE})")
            selects.append(f"SELECT *, {full} AS epoch FROM {table} "
                           f"WHERE {strata_col} = '{value}' AND {salted} < {frac}")
    return " UNION ALL ".join(selects)


def token_budget_head(df: DataFrame, budget: int, quality_col: str,
                      token_col: str, id_col: str = "doc_id",
                      n_ranges: int = 32) -> DataFrame:
    """Best-documents-first selection up to a token budget.

    Rows are ranked by (``quality_col`` DESC, id) and kept while the
    running token total stays ≤ ``budget`` — the standard "take the
    highest-quality N tokens" cut.

    Scale shape — NO single-reducer global window: range-partition on the
    rank key (``repartitionByRange`` samples split points), cumulative-sum
    WITHIN each partition in parallel, and add each partition's prefix
    offset (one driver round-trip of ``n_ranges`` numbers). The selected
    set depends only on the total order, not on where the splits land.
    """
    ranged = df.repartitionByRange(
        n_ranges, F.col(quality_col).desc(), F.col(id_col))
    # pin the sampled range boundaries: the offsets job and the final job
    # must see the SAME layout (repartitionByRange re-samples per job)
    # local in every barrier mode: a storage read-back drops the layout
    ranged = ranged.localCheckpoint(eager=True)
    pid = ranged.withColumn("_pid", F.spark_partition_id())
    totals = {r["_pid"]: r["_t"] for r in
              pid.groupBy("_pid").agg(F.sum(token_col).alias("_t")).collect()}
    offsets = {}
    acc = 0
    for p in sorted(totals):
        offsets[p] = acc
        acc += totals[p] or 0      # an all-NULL partition sums to None
    off = F.lit(0)
    for p, o in sorted(offsets.items()):
        off = F.when(F.col("_pid") == p, F.lit(o)).otherwise(off)
    w = (Window.partitionBy("_pid")
         .orderBy(F.col(quality_col).desc(), F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, 0))
    return (pid.withColumn("cum_tokens", (F.sum(token_col).over(w) + off)
                           .cast("long"))
            .filter(F.col("cum_tokens") <= budget)
            .drop("_pid"))


def token_budget_head_sql(table: str, budget: int, quality_col: str,
                          token_col: str, id_col: str = "doc_id") -> str:
    return f"""
    SELECT * FROM (
      SELECT *, CAST(SUM({token_col}) OVER (
               ORDER BY {quality_col} DESC, {id_col}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM {table}
    ) WHERE cum_tokens <= {budget}
    """


def quality_percentile_gate(df: DataFrame, score_col: str,
                            strata_col: str, p: float = 0.5) -> DataFrame:
    """Keep rows at or above their STRATUM's p-th score percentile —
    distribution-aware filtering (an absolute threshold tuned on one
    source over- or under-filters every other source).

    Scale shape: the per-stratum percentile aggregate is stratum-count
    sized (tiny) and broadcast back for a narrow filter — never a window
    over the full data per stratum. At 100 TB swap ``percentile`` for
    ``approx_percentile`` (t-digest, partial+final) with no change to
    the dataflow; exact interpolation is kept here because the oracle
    compares values bit-for-bit.
    """
    cuts = (df.groupBy(strata_col)
            .agg(F.round(F.expr(f"percentile({score_col}, {p})"), 6)
                 .alias("_cut")))
    return (df.join(F.broadcast(cuts), strata_col)
            .filter(F.col(score_col) >= F.col("_cut"))
            .drop("_cut"))


def quality_percentile_gate_sql(table: str, score_col: str,
                                strata_col: str, p: float = 0.5) -> str:
    return f"""
    WITH cuts AS (
      SELECT {strata_col},
             ROUND(quantile_cont({score_col}, {p}), 6) AS _cut
      FROM {table} GROUP BY {strata_col}
    )
    SELECT t.* FROM {table} t JOIN cuts USING ({strata_col})
    WHERE {score_col} >= _cut
    """


def corpus_mixture_stats(df: DataFrame, token_col: str,
                         strata_col: str) -> DataFrame:
    """Per-stratum corpus composition: doc count, exact token sum, and
    token SHARE of the whole corpus — the numbers a mixture design is
    written against.

    One partial+final aggregation over the data; the share denominator is
    a window over the stratum-count-sized aggregate (never the data)."""
    agg = (df.groupBy(strata_col)
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(token_col).cast("long").alias("n_tokens")))
    total = Window.partitionBy()
    return agg.select(
        strata_col, "n_docs", "n_tokens",
        # round6u: integer-ratio output (see functions/rounding)
        round6u(F.col("n_tokens") / F.sum("n_tokens").over(total))
        .alias("token_share"))


def corpus_mixture_stats_sql(table: str, token_col: str,
                             strata_col: str) -> str:
    return f"""
    SELECT {strata_col}, COUNT(*) AS n_docs,
           CAST(SUM({token_col}) AS BIGINT) AS n_tokens,
           FLOOR(SUM({token_col}) / SUM(SUM({token_col})) OVER ()
                 * 1000000 + 0.5) / 1000000 AS token_share
    FROM {table} GROUP BY {strata_col}
    """


def group_token_budget(df: DataFrame, budget: int, quality_col: str,
                       token_col: str, strata_col: str,
                       id_col: str = "doc_id") -> DataFrame:
    """Best-documents-first selection up to a PER-STRATUM token budget —
    the mixture-design primitive ("at most N tokens from each source,
    picking the best first").

    The cumulative-sum window partitions on the stratum, so each group
    ranks independently and no global order exists anywhere — at scale
    the window is bounded by stratum size; a pathologically huge stratum
    falls back to the range-partitioned two-pass form of
    :func:`token_budget_head` applied per stratum.
    """
    w = (Window.partitionBy(strata_col)
         .orderBy(F.col(quality_col).desc(), F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, 0))
    return (df.withColumn("cum_tokens",
                          F.sum(token_col).over(w).cast("long"))
            .filter(F.col("cum_tokens") <= budget))


def group_token_budget_sql(table: str, budget: int, quality_col: str,
                           token_col: str, strata_col: str,
                           id_col: str = "doc_id") -> str:
    return f"""
    SELECT * FROM (
      SELECT *, CAST(SUM({token_col}) OVER (
               PARTITION BY {strata_col}
               ORDER BY {quality_col} DESC, {id_col}
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM {table}
    ) WHERE cum_tokens <= {budget}
    """


def source_head_cap(df: DataFrame, cap: int, quality_col: str,
                    strata_col: str = "source",
                    id_col: str = "doc_id") -> DataFrame:
    """Cap every stratum at its ``cap`` best documents — the per-domain
    ceiling a crawl corpus applies so no single site dominates training
    (count-based sibling of :func:`group_token_budget`'s cumulative token
    form). Rank = quality desc, id tie-break, per-stratum window: the
    partition key is the stratum, so there is no global sort anywhere and
    skewed strata parallelize across their partition's tasks only.
    """
    w = Window.partitionBy(strata_col).orderBy(
        F.col(quality_col).desc(), F.col(id_col))
    return (df.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= cap)
            .select(id_col, strata_col, quality_col,
                    F.col("_rk").alias("rank_in_source")))


def source_head_cap_sql(table: str, cap: int, quality_col: str,
                        strata_col: str = "source",
                        id_col: str = "doc_id") -> str:
    return f"""
    SELECT {id_col}, {strata_col}, {quality_col},
           CAST(rank_in_source AS BIGINT) AS rank_in_source
    FROM (
      SELECT {id_col}, {strata_col}, {quality_col},
             ROW_NUMBER() OVER (PARTITION BY {strata_col}
                                ORDER BY {quality_col} DESC, {id_col})
               AS rank_in_source
      FROM {table}
    ) WHERE rank_in_source <= {cap}
    """


def weighted_sample(df: DataFrame, score_col: str,
                    id_col: str = "doc_id") -> DataFrame:
    """Quality-weighted deterministic sampling: each row keeps with
    probability score/max(score) — better documents oversampled, junk
    kept occasionally so the distribution tail stays represented (the
    soft form of a hard quality gate). The decision is hash-based
    (:func:`hash_unit`), so it is reproducible across runs, layouts, and
    engines, and the scalar max broadcasts — no per-row shuffle beyond
    one global-agg exchange of partition maxima.
    """
    mx = df.agg(F.max(F.col(score_col)).alias("m"))
    return (df.crossJoin(F.broadcast(mx))
            .filter(hash_unit(id_col) < F.col(score_col) / F.col("m"))
            .select(id_col, score_col))


def weighted_sample_sql(table: str, score_col: str,
                        id_col: str = "doc_id") -> str:
    return f"""
    SELECT {id_col}, {score_col}
    FROM (SELECT {id_col}, {score_col},
                 MAX({score_col}) OVER () AS m FROM {table})
    WHERE {hash_unit_sql(id_col)} < {score_col} * 1.0 / m
    """


def temperature_mixture(df: DataFrame, strata_col: str = "source",
                        token_col: str = "n_chars",
                        id_col: str = "doc_id") -> DataFrame:
    """Temperature-weighted source rebalancing (T=2, i.e. share^(1/2) —
    the XLM-R/mT5 multinomial recipe): oversized sources are downsampled
    toward the sqrt-flattened distribution, small sources keep everything.

    target share q_s ∝ sqrt(p_s); per-source keep rate r_s = (q_s/p_s)
    normalized so the most-upweighted source keeps 100 % (sampling
    without replacement cannot exceed 1). Selection is the deterministic
    md5 coin, so the kept set is reproducible and layout-independent.

    Float parity: shares are exact-decimal ratios; sqrt is correctly
    rounded in every IEEE engine (unlike pow, which is why the exponent
    is fixed at 1/2); rates are a chain of identical double ops in both
    engines. All rate math happens on the |sources|-row aggregate —
    the corpus-side work is one broadcast join + one filter.
    """
    stats = (df.groupBy(strata_col)
             .agg(F.expr(f"CAST(SUM(CAST({token_col} AS DECIMAL(28,6)))"
                         " AS DOUBLE)").alias("_toks")))
    w_all = Window.partitionBy()
    rates = (stats
             .withColumn("_share", F.col("_toks") / F.sum("_toks").over(w_all))
             .withColumn("_q", F.sqrt("_share")
                         / F.sum(F.sqrt("_share")).over(w_all))
             .withColumn("_ratio", F.col("_q") / F.col("_share"))
             .withColumn("_rate", F.col("_ratio")
                         / F.max("_ratio").over(w_all))
             .select(strata_col, "_rate"))
    return (df.join(F.broadcast(rates), strata_col)
            .filter(hash_unit(id_col) < F.col("_rate"))
            .select(id_col, strata_col))


def temperature_mixture_sql(table: str = "documents",
                            strata_col: str = "source",
                            token_col: str = "n_chars",
                            id_col: str = "doc_id") -> str:
    return f"""
    WITH stats AS (
      SELECT {strata_col},
             CAST(SUM(CAST({token_col} AS DECIMAL(28,6))) AS DOUBLE) AS toks
      FROM {table} GROUP BY {strata_col}
    ),
    shares AS (
      SELECT {strata_col}, toks / SUM(toks) OVER () AS share FROM stats
    ),
    qs AS (
      SELECT {strata_col}, share,
             sqrt(share) / SUM(sqrt(share)) OVER () AS q
      FROM shares
    ),
    rates AS (
      SELECT {strata_col}, (q / share) / MAX(q / share) OVER () AS rate
      FROM qs
    )
    SELECT {id_col}, {strata_col}
    FROM {table} JOIN rates USING ({strata_col})
    WHERE {hash_unit_sql(id_col)} < rate
    """


def train_val_test_split(df: DataFrame, val_frac: float = 0.1,
                         test_frac: float = 0.1,
                         id_col: str = "doc_id",
                         strata_col: str = "source") -> DataFrame:
    """Deterministic 3-way split summary: the md5 coin sends each doc to
    train/val/test with per-STRATUM proportions (the hash is uniform
    within every stratum, so stratification is free — no per-stratum
    state, no shuffle beyond the final count agg).

    Reproducible forever: membership depends only on the id, so adding
    documents never moves an existing one across splits (the property
    that keeps eval sets uncontaminated as the corpus grows).
    Output: (stratum, split, n_docs).
    """
    u = hash_unit(id_col)
    split = (F.when(u < F.lit(1.0 - val_frac - test_frac), "train")
             .when(u < F.lit(1.0 - test_frac), "val")
             .otherwise("test"))
    return (df.select(F.col(strata_col), split.alias("split"))
            .groupBy(strata_col, "split")
            .agg(F.count(F.lit(1)).alias("n_docs")))


def train_val_test_split_sql(table: str = "documents",
                             val_frac: float = 0.1, test_frac: float = 0.1,
                             id_col: str = "doc_id",
                             strata_col: str = "source") -> str:
    u = hash_unit_sql(id_col)
    return f"""
    SELECT {strata_col},
           CASE WHEN {u} < {1.0 - val_frac - test_frac} THEN 'train'
                WHEN {u} < {1.0 - test_frac} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM {table} GROUP BY 1, 2
    """


def unimax_allocation(df: DataFrame, budget: int, epochs: int = 4,
                      lang_col: str = "lang",
                      token_col: str = "n_chars") -> DataFrame:
    """UniMax language-balanced budget allocation (Chung et al. 2023,
    arXiv:2304.09151): split a token budget across languages as evenly
    as possible, but never take more than ``epochs`` passes over any
    language's data — the sampling recipe behind mT5/uMT5 that replaces
    temperature mixing.

    Closed form of the paper's waterfilling loop: sort languages by
    their cap ``c_l = avail_l · epochs`` ascending; a language is
    cap-bound iff its cap fits under an equal split of what remains
    AFTER every smaller language took its cap — the condition
    ``c_i · (L − i + 1) ≤ budget − prefix(i−1)`` is monotone, so the
    bound set is a prefix. Everyone else gets the equal share of the
    leftover. All of it runs on the L-row per-language aggregate
    (language cardinality is bounded ~hundreds — metadata-scale, so the
    single-partition window is free; the corpus-scale work is the one
    partial+final sum per language).

    Returns (lang, avail_tokens, cap_tokens, alloc_tokens, epochs_used),
    alloc/epochs 6dp via the shared contract.
    """
    agg = (df.groupBy(F.col(lang_col).alias("lang"))
           .agg(F.sum(token_col).cast("long").alias("avail")))
    w = Window.orderBy(F.asc("cap"), F.asc("lang"))
    ranked = (agg
              .withColumn("cap", (F.col("avail") * epochs).cast("long"))
              .withColumn("i", F.row_number().over(w))
              .withColumn("pfx", F.sum("cap").over(w))
              .withColumn("n_langs", F.count(F.lit(1)).over(
                  Window.orderBy(F.lit(1)).rowsBetween(
                      Window.unboundedPreceding,
                      Window.unboundedFollowing))))
    bound = ranked.withColumn(
        "is_bound",
        F.expr(f"cap * (n_langs - i + 1) <= {budget} - (pfx - cap)"))
    stats = bound.groupBy().agg(
        F.sum(F.when(F.col("is_bound"), 1).otherwise(0)).alias("k"),
        F.sum(F.when(F.col("is_bound"), F.col("cap"))
              .otherwise(0)).cast("long").alias("bound_sum"))
    out = (bound.crossJoin(F.broadcast(stats))
           .withColumn("alloc_raw", F.expr(f"""
               CASE WHEN is_bound THEN CAST(cap AS DOUBLE)
                    WHEN n_langs = k THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST({budget} - bound_sum AS DOUBLE)
                         / CAST(n_langs - k AS DOUBLE) END""")))
    return (out.select(
        "lang", F.col("avail").alias("avail_tokens"),
        F.col("cap").alias("cap_tokens"),
        round6u(F.col("alloc_raw")).alias("alloc_tokens"),
        round6u(F.col("alloc_raw") / F.col("avail")).alias("epochs_used")))


def unimax_allocation_sql(table: str, budget: int, epochs: int = 4,
                          lang_col: str = "lang",
                          token_col: str = "n_chars") -> str:
    from ..functions.rounding import round6u_sql
    return f"""
    WITH agg AS (
      SELECT {lang_col} AS lang, CAST(SUM({token_col}) AS BIGINT) AS avail
      FROM {table} GROUP BY 1
    ),
    ranked AS (
      SELECT lang, avail, CAST(avail * {epochs} AS BIGINT) AS cap,
             ROW_NUMBER() OVER (ORDER BY avail * {epochs}, lang) AS i,
             SUM(avail * {epochs})
               OVER (ORDER BY avail * {epochs}, lang) AS pfx,
             COUNT(*) OVER () AS n_langs
      FROM agg
    ),
    bound AS (
      SELECT *, cap * (n_langs - i + 1) <= {budget} - (pfx - cap)
               AS is_bound
      FROM ranked
    ),
    stats AS (
      SELECT SUM(CASE WHEN is_bound THEN 1 ELSE 0 END) AS k,
             CAST(SUM(CASE WHEN is_bound THEN cap ELSE 0 END)
                  AS BIGINT) AS bound_sum
      FROM bound
    ),
    alloc AS (
      SELECT lang, avail, cap,
             CASE WHEN is_bound THEN CAST(cap AS DOUBLE)
                  WHEN n_langs = k THEN CAST(0.0 AS DOUBLE)
                  ELSE CAST({budget} - bound_sum AS DOUBLE)
                       / CAST(n_langs - k AS DOUBLE) END AS alloc_raw
      FROM bound CROSS JOIN stats
    )
    SELECT lang, avail AS avail_tokens, cap AS cap_tokens,
           {round6u_sql("alloc_raw")} AS alloc_tokens,
           {round6u_sql("alloc_raw / avail")} AS epochs_used
    FROM alloc
    """


def unimax_sample(df: DataFrame, budget: int, epochs: int = 4,
                  lang_col: str = "lang", token_col: str = "n_chars",
                  id_col: str = "doc_id") -> DataFrame:
    """Materialize the UniMax allocation as an actual epoch-replicated
    corpus: each language's ``epochs_used`` (a DATA-derived rate, unlike
    :func:`epoch_mixture`'s caller-supplied dict) joins back onto its
    documents as a broadcast L-row table; every doc emits
    ``floor(epochs_used)`` full replicas plus a deterministic
    md5-coin fractional tail, epoch-salted so different epochs stay
    decorrelated. One narrow broadcast join + one explode — replication
    happens ON THE EXECUTORS, never via driver-side unrolling, because
    the rates are not known until the allocation aggregate runs.

    Returns (id, lang, epoch).
    """
    alloc = unimax_allocation(df, budget, epochs, lang_col, token_col)
    rates = alloc.select(F.col("lang").alias(lang_col),
                         F.col("epochs_used").alias("_eu"))
    coin = (f"conv(substring(md5(concat(CAST({id_col} AS STRING), 'ep',"
            f" CAST(_fw AS STRING))), 1, 8), 16, 10) / {HASH_SPACE}")
    return (df.select(id_col, lang_col)
            .join(F.broadcast(rates), lang_col)
            .withColumn("_fw", F.expr("CAST(FLOOR(_eu) AS INT)"))
            .withColumn("_frac", F.expr("_eu - FLOOR(_eu)"))
            .select(id_col, lang_col, F.explode(F.expr(f"""
                concat(
                  CASE WHEN _fw >= 1 THEN sequence(0, _fw - 1)
                       ELSE CAST(array() AS ARRAY<INT>) END,
                  CASE WHEN {coin} < _frac THEN array(_fw)
                       ELSE CAST(array() AS ARRAY<INT>) END)"""))
            .alias("epoch")))


def unimax_sample_sql(table: str, budget: int, epochs: int = 4,
                      lang_col: str = "lang", token_col: str = "n_chars",
                      id_col: str = "doc_id") -> str:
    coin = (f"(('0x' || substr(md5(CAST({id_col} AS VARCHAR) || 'ep' ||"
            f" CAST(_fw AS VARCHAR)), 1, 8))::UBIGINT / {HASH_SPACE})")
    return f"""
    WITH rates AS (
      SELECT lang, epochs_used AS _eu
      FROM ({unimax_allocation_sql(table, budget, epochs, lang_col,
                                   token_col)})
    ),
    j AS (
      SELECT d.{id_col}, d.{lang_col}, r._eu,
             CAST(FLOOR(r._eu) AS INT) AS _fw,
             r._eu - FLOOR(r._eu) AS _frac
      FROM {table} d JOIN rates r ON d.{lang_col} = r.lang
    )
    SELECT {id_col}, {lang_col}, CAST(unnest(list_concat(
             CASE WHEN _fw >= 1
                  THEN list_transform(generate_series(0, _fw - 1),
                                      x -> CAST(x AS INT))
                  ELSE CAST([] AS INT[]) END,
             CASE WHEN {coin} < _frac THEN [_fw]
                  ELSE CAST([] AS INT[]) END)) AS INT) AS epoch
    FROM j
    """


def curriculum_order(df: DataFrame, score_col: str, n_buckets: int = 10,
                     id_col: str = "doc_id", n_ranges: int = 32,
                     max_score_cardinality: int = 100_000) -> DataFrame:
    """Curriculum manifest: (id, score, bucket, pos) — every row's global
    1-based training position under an easy-first curriculum (bucket by
    ascending ``score_col`` difficulty decile, deterministic hash shuffle
    WITHIN each bucket so the model never sees the corpus in storage
    order).

    Scale shape, in two certified-scalable moves:

    1. **Bucketing by value, not by row**: difficulty scores (token
       counts, quality grades) have bounded cardinality, so quantile
       buckets come from a value-histogram aggregate (tiny) with integer
       cumulative math — ``bucket = cum_below * n / total + 1`` in pure
       integer division, exact in both engines — broadcast back as a
       narrow join. Never an ntile window over the corpus (single
       reducer).
    2. **Global position without a global window**: range-partition on
       the total order (bucket, md5(id), id), per-partition row_number in
       parallel, plus each partition's row-count prefix offset (one
       driver round-trip of ``n_ranges`` numbers — the
       :func:`token_budget_head` pattern). ``pos`` depends only on the
       total order, not on where the sampled split points land.
    """
    # value-cardinality table: a global window here is windowing a
    # histogram, not the corpus — ENFORCED, not assumed (a continuous
    # score column fails loud instead of silently single-reducer-sorting)
    vals = bounded_value_histogram(df, score_col, "_cnt",
                                   max_score_cardinality,
                                   op="curriculum_order")
    wv = (Window.orderBy(score_col)
          .rowsBetween(Window.unboundedPreceding, -1))
    wt = (Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding,
                       Window.unboundedFollowing))
    vb = vals.select(
        score_col,
        F.coalesce(F.sum("_cnt").over(wv), F.lit(0)).alias("_cumlt"),
        F.sum("_cnt").over(wt).alias("_tot"))
    vb = vb.select(score_col,
                   (F.expr(f"_cumlt * {n_buckets} div _tot") + 1)
                   .cast("int").alias("bucket"))
    b = (df.join(F.broadcast(vb), score_col)
         .withColumn("_key", F.md5(F.col(id_col).cast("string"))))
    ranged = b.repartitionByRange(n_ranges, F.col("bucket"),
                                  F.col("_key"), F.col(id_col))
    # pin the sampled boundaries: offsets job and final job must see the
    # SAME layout (repartitionByRange re-samples per job)
    # local in every barrier mode: a storage read-back drops the layout
    ranged = ranged.localCheckpoint(eager=True)
    pid = ranged.withColumn("_pid", F.spark_partition_id())
    counts = {r["_pid"]: r["_c"] for r in
              pid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
              .collect()}
    off, acc = F.lit(0), 0
    for p in sorted(counts):
        off = F.when(F.col("_pid") == p, F.lit(acc)).otherwise(off)
        acc += counts[p]
    w = (Window.partitionBy("_pid")
         .orderBy(F.col("bucket"), F.col("_key"), F.col(id_col)))
    return (pid.select(F.col(id_col), F.col(score_col), F.col("bucket"),
                       (F.row_number().over(w) + off).cast("long")
                       .alias("pos")))


def curriculum_order_sql(table: str, score_sql: str, n_buckets: int = 10,
                         id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`curriculum_order`: the same integer
    value-histogram bucketing, position as ONE global ROW_NUMBER over
    the identical total order."""
    return f"""
    WITH d AS (SELECT {id_col}, {score_sql} AS score FROM {table}),
    vals AS (SELECT score, COUNT(*) AS cnt FROM d GROUP BY score),
    vb AS (SELECT score,
             COALESCE(SUM(cnt) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumlt,
             SUM(cnt) OVER () AS tot
           FROM vals),
    b AS (SELECT d.{id_col}, d.score,
                 CAST((vb.cumlt * {n_buckets}) // vb.tot + 1 AS INT)
                   AS bucket
          FROM d JOIN vb USING (score))
    SELECT {id_col}, score, bucket,
           CAST(ROW_NUMBER() OVER (
             ORDER BY bucket, md5(CAST({id_col} AS VARCHAR)), {id_col})
             AS BIGINT) AS pos
    FROM b
    """
