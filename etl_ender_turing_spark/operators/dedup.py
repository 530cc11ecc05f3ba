"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's key-based upsert dedup (ETL/Load.py:101-162 = last
write per unique key), a 100 TB text corpus needs *content* dedup. This
module implements the standard ladder, all as JVM-side built-in expressions
(zero Python UDFs — every op is higher-order-function + hash built-ins):

- exact dedup:        md5(normalized text) group-by
- MinHash:            per-band min over shingle hashes; LSH banding joins
                      candidate pairs without the O(n²) cross join
- SimHash:            60-bit sign-of-sum fingerprint over token hashes
- n-gram Jaccard:     exact shingle-set similarity on candidate pairs

Cross-engine determinism (DuckDB oracle parity): hashing uses md5 hex
strings (identical in Spark and DuckDB), min/sum over strings/ints only —
no floating point in signatures. SQL-snippet builders for each op live
beside the Column builders so the oracle is generated from the same code.

Scale notes: shingle explode is narrow; the LSH band join shuffles on
(band, signature) — cardinality ~n_docs × n_bands, with near-uniform keys
(md5), so no skew. Jaccard runs only on LSH candidates at scale (the
catalog query computes it on shingle-join candidates at test SF).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from ..functions.barrier import lineage_cut

from ..functions.rounding import round6u

# --------------------------------------------------------------------------
# tokenization + shingling (shared by minhash / simhash / jaccard)
# --------------------------------------------------------------------------

def tokens(text_col: str = "text") -> Column:
    """Whitespace tokens of the lowercased text."""
    return F.split(F.lower(F.col(text_col)), " ")


def tokens_sql(text_col: str = "text") -> str:
    return f"string_split(lower({text_col}), ' ')"

def shingle_select(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   n: int = 3, distinct: bool = True) -> DataFrame:
    """(id, shingle) pairs — the input to minhash/jaccard.

    ``distinct=True`` (a full shuffle) is required for exact Jaccard set
    semantics; MinHash passes ``distinct=False`` since min() over duplicate
    shingles equals min() over the distinct set — same signatures, one
    shuffle less.
    """
    sh = _word_grams(df.select(F.col(id_col), tokens(text_col).alias("t")),
                     id_col, n, "shingle")
    return sh.distinct() if distinct else sh


def _word_grams(dft, id_col: str, n: int, alias: str,
                with_pos: bool = False) -> DataFrame:
    """(id[, pos], gram) word n-grams over token-array column ``t`` —
    one INTEGER positional explode with the concat in a plain codegen
    projection. The previous transform(sequence, i -> concat_ws(...))
    lambda ran interpreted (no codegen inside HOF lambdas) and was 2x
    slower on the same rows (r12 A/B: 0.41 -> 0.20 s for the sf0.1
    3-gram shingle pass; output proven identical)."""
    parts = ", ".join(f"element_at(t, _i + {k})" for k in range(n))
    pos = [F.col("_i").alias("pos")] if with_pos else []
    return (dft.filter(F.size("t") >= n)
            .select(id_col, "t",
                    F.expr(f"explode(sequence(1, size(t) - {n - 1}))")
                    .alias("_i"))
            .select(id_col, *pos,
                    F.expr(f"concat_ws(' ', {parts})").alias(alias)))


def shingle_sql(table: str = "documents", text_col: str = "text",
                id_col: str = "doc_id", n: int = 3) -> str:
    """DuckDB equivalent of shingle_select (1-indexed lists)."""
    parts = " || ' ' || ".join(f"t[i + {k}]" for k in range(n))
    return f"""
    SELECT DISTINCT {id_col}, unnest(list_transform(
             generate_series(1, len(t) - {n - 1}), i -> {parts})) AS shingle
    FROM (SELECT {id_col}, {tokens_sql(text_col)} AS t FROM {table})
    WHERE len(t) >= {n}
    """


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dedup_groups(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: keeper id + copy count.

    At 100 TB this is the cheapest pass: one shuffle on a 32-byte hash,
    near-perfectly uniform keys.
    """
    fp = F.md5(F.lower(F.col(text_col)))
    return (df.groupBy(fp.alias("fingerprint"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signatures(sh: DataFrame, n_hashes: int = 8,
                       id_col: str = "doc_id") -> DataFrame:
    """Per-doc MinHash signature: n_hashes min-values, hash family i =
    the i-th disjoint 4-hex-char (16-bit) slice of ONE md5 per shingle
    (bits-of-one-hash construction — 8× less hashing than an md5 per
    family, same order statistics)."""
    h = F.md5(F.col("shingle"))
    aggs = [F.min(F.substring(h, 4 * i + 1, 4)).alias(f"h{i}")
            for i in range(n_hashes)]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signatures_inline(df: DataFrame, text_col: str = "text",
                              id_col: str = "doc_id", n_hashes: int = 8,
                              n: int = 3) -> DataFrame:
    """Signatures with ZERO shuffles: shingling and per-family mins run as
    array higher-order functions inside one projection (no explode, no
    groupBy) — min over the shingle multiset equals min over the distinct
    set, so results are identical to the explode+groupBy path
    (:func:`minhash_signatures`), which remains for pipelines that reuse
    the exploded shingles (e.g. the composed LSH→Jaccard query)."""
    parts = ", ".join(f"element_at(t, i + {k})" for k in range(n))
    sh = (f"transform(sequence(1, size(t) - {n - 1}),"
          f" i -> md5(concat_ws(' ', {parts})))")
    mins = [
        F.expr(f"array_min(transform(_h, h -> substring(h, {4 * i + 1}, 4)))")
        .alias(f"h{i}")
        for i in range(n_hashes)]
    return (df.select(F.col(id_col),
                      F.expr(f"lower({text_col})").alias("_txt"))
            .select(id_col, F.expr("split(_txt, ' ')").alias("t"))
            .filter(F.size("t") >= n)
            .select(id_col, F.expr(sh).alias("_h"))
            .select(id_col, *mins))


def minhash_band_pairs(sigs: DataFrame, n_hashes: int = 8,
                       rows_per_band: int = 2,
                       id_col: str = "doc_id",
                       max_bucket: int = 1000) -> DataFrame:
    """Distinct candidate pairs (a<b) sharing any band signature.

    Banding: band b concatenates ``rows_per_band`` adjacent minhash
    values (default 4 bands × 2 rows = 32-bit band signatures). Wider
    bands keep chance collisions negligible at corpus scale — 16-bit
    single-row bands would produce ~n²/2^17 false candidates per band
    on n docs. Candidate recall: 1-(1-j^rows)^bands, ≈0.98 at j=0.8.

    Implemented as melt → groupBy (band, h) → in-bucket pair expansion,
    not a self-join: the signature subtree is evaluated once (a self-join
    would recompute it on both sides), the single shuffle key is the band
    hash (md5-uniform, skew-free), and pair generation is a narrow
    higher-order-function expansion of each bucket's sorted id list.

    ``max_bucket`` bounds the quadratic expansion: a web corpus has
    millions of byte-identical boilerplate docs, and one such bucket would
    otherwise become a single O(m²)-pair straggler task. Buckets above the
    cap emit a linear "star" (every member paired with the bucket's min
    id) instead of all pairs — connectivity-preserving, so downstream
    connected-component clustering still merges the whole bucket, while
    the task stays O(m). Observed buckets at sf0.1 max out at 9, so the
    default cap never alters small-SF oracle results.
    """
    n_bands = n_hashes // rows_per_band
    stack = ", ".join(
        f"'{b}', concat({', '.join(f'h{b * rows_per_band + r}' for r in range(rows_per_band))})"
        for b in range(n_bands))
    melted = sigs.select(
        F.col(id_col),
        F.expr(f"stack({n_bands}, {stack}) AS (band, h)"))
    buckets = (melted.groupBy("band", "h")
               .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
               .filter(F.size("ids") >= 2))
    pairs = F.expr(f"""
        CASE WHEN size(ids) <= {max_bucket}
        THEN flatten(transform(ids, (x, i) ->
               transform(slice(ids, i + 2, size(ids)), y ->
                 struct(x AS doc_a, y AS doc_b))))
        ELSE transform(slice(ids, 2, size(ids)), y ->
               struct(ids[0] AS doc_a, y AS doc_b))
        END""")
    return (buckets.select(F.explode(pairs).alias("p"))
            .select("p.doc_a", "p.doc_b")
            .distinct())


def _minhash_ctes(shingle_cte: str, n_hashes: int, rows_per_band: int,
                  id_col: str) -> str:
    """Shared CTE chain: shingles → signatures → melted bands → pairs."""
    n_bands = n_hashes // rows_per_band
    hs = ", ".join(
        f"MIN(substring(md5(shingle), {4 * i + 1}, 4)) AS h{i}"
        for i in range(n_hashes))
    band_union = " UNION ALL ".join(
        f"SELECT {id_col}, '{b}' AS band, "
        + " || ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        + " AS h FROM sigs"
        for b in range(n_bands))
    return f"""
    WITH sh AS ({shingle_cte}),
    sigs AS (SELECT {id_col}, {hs} FROM sh GROUP BY {id_col}),
    melted AS ({band_union}),
    pairs AS (
      SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b
      FROM melted a JOIN melted b
        ON a.band = b.band AND a.h = b.h AND a.{id_col} < b.{id_col}
    )"""


def minhash_sql(shingle_cte: str, n_hashes: int = 8, rows_per_band: int = 2,
                id_col: str = "doc_id") -> str:
    """DuckDB oracle for signatures + band pairs over a shingle CTE."""
    ctes = _minhash_ctes(shingle_cte, n_hashes, rows_per_band, id_col)
    return f"{ctes}\n    SELECT doc_a, doc_b FROM pairs"


# --------------------------------------------------------------------------
# SimHash (60-bit, integer-exact)
# --------------------------------------------------------------------------

_HEX = "0123456789abcdef"


def _bit_sql(tok_expr: str, pos: int, bit: int) -> str:
    """±1 contribution of hex nibble `pos` (1-based), bit `bit` (0..3 LSB)
    of md5(token). Dialect-neutral: md5/instr/substring/% exist in both
    Spark SQL and DuckDB with identical semantics."""
    nib = f"(instr('{_HEX}', substring(md5({tok_expr}), {pos}, 1)) - 1)"
    return (f"CASE WHEN ({nib} % {2 ** (bit + 1)}) >= {2 ** bit} "
            f"THEN 1 ELSE -1 END")


def simhash_bit_sums_sql(tok_expr: str = "token") -> list[str]:
    """60 SUM expressions (15 hex chars × 4 bits), bit j = 4*(pos-1)+bit.

    60 bits (not 64) keeps the fold below signed-BIGINT overflow."""
    return [f"SUM({_bit_sql(tok_expr, pos, bit)})"
            for pos in range(1, 16) for bit in range(4)]


def simhash_combine_sql(sum_cols: list[str]) -> str:
    """Fold the signed bit-sums into one integer fingerprint (BIGINT-safe:
    high bits exceed int32)."""
    terms = [f"(CASE WHEN {c} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE 0 END)"
             for j, c in enumerate(sum_cols)]
    return " + ".join(terms)


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """Per-doc 60-bit SimHash fingerprint (integer; hash-exact cross-engine).

    explode tokens (narrow) → 16 integer sums per doc (one shuffle on
    id) → sign-combine. Token multiplicity is kept (frequency weighting).
    """
    tok = (df.select(F.col(id_col), F.explode(tokens(text_col)).alias("token"))
           .filter(F.col("token") != ""))
    sums = tok.groupBy(id_col).agg(*[
        F.expr(s).alias(f"s{j}")
        for j, s in enumerate(simhash_bit_sums_sql("token"))])
    combine = simhash_combine_sql([f"s{j}" for j in range(60)])
    return sums.select(id_col, F.expr(combine).alias("simhash"))


def simhash_inline(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """SimHash with ZERO shuffles: one md5 per token, then a 60-slot
    array fold (``aggregate`` + ``zip_with``) inside a single projection —
    no token explode, no groupBy. Identical values to :func:`simhash`
    (same per-token ±1 sums, addition is order-independent on ints), so
    the same oracle applies; the explode+groupBy form remains for reuse
    alongside other token-level aggregations.
    """
    bits = ", ".join(
        f"(CASE WHEN ((instr('{_HEX}', substring(h, {pos}, 1)) - 1)"
        f" % {2 ** (bit + 1)}) >= {2 ** bit} THEN 1 ELSE -1 END)"
        for pos in range(1, 16) for bit in range(4))
    acc = (f"aggregate(transform(filter(t, x -> x <> ''), x -> md5(x)),"
           f" array_repeat(0, 60),"
           f" (acc, h) -> zip_with(acc, array({bits}), (a, b) -> a + b))")
    combine = simhash_combine_sql([f"element_at(s, {j + 1})"
                                   for j in range(60)])
    return (df.select(F.col(id_col), tokens(text_col).alias("t"))
            .filter(F.expr("exists(t, x -> x <> '')"))
            .select(id_col, F.expr(acc).alias("s"))
            .select(id_col, F.expr(combine).alias("simhash")))


def simhash_oracle_sql(table: str = "documents", text_col: str = "text",
                       id_col: str = "doc_id") -> str:
    sums = simhash_bit_sums_sql("token")
    sum_aliases = [f"{s} AS s{j}" for j, s in enumerate(sums)]
    combine = simhash_combine_sql([f"s{j}" for j in range(60)])
    return f"""
    WITH tok AS (
      SELECT {id_col}, unnest({tokens_sql(text_col)}) AS token FROM {table}
    ),
    sums AS (
      SELECT {id_col}, {', '.join(sum_aliases)}
      FROM tok WHERE token <> '' GROUP BY {id_col}
    )
    SELECT {id_col}, {combine} AS simhash FROM sums
    """


def simhash_pairs(sigs: DataFrame, max_hamming: int = 3,
                  id_col: str = "doc_id",
                  max_bucket: int = 1000) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, pigeonhole-banded.

    With 4 bands of 15 bits, any pair within Hamming distance 3 agrees on
    at least one whole band (pigeonhole) — banding loses no true pair —
    and exact ``bit_count(xor)`` verification runs only on band-colliding
    candidates. Band width matters: narrow bands (say 4-bit nibbles) give
    only 16 buckets, and simhash bits are vocabulary-biased, so one bucket
    can swallow half the corpus and the in-bucket expansion turns O(n²).
    15-bit bands give 32 Ki buckets per band, keeping buckets small. Same
    melt → bucket → in-bucket expansion shape as MinHash banding: one
    uniform-ish shuffle, no self-join.

    ``max_bucket`` caps the quadratic in-bucket expansion exactly like
    :func:`minhash_band_pairs`: oversized buckets (identical-boilerplate
    mega-groups at corpus scale) emit a linear star around the bucket's
    min id — in such buckets hamming(rep, member) is ~0, so the star edges
    survive the exact-distance filter and keep the cluster connected.

    APPROXIMATION BOUNDARY: the star fallback preserves connectivity only
    when an over-cap bucket holds near-identical signatures. If a >
    ``max_bucket`` bucket arose from band collisions of genuinely
    DISSIMILAR docs, star edges to the representative would be pruned by
    the hamming filter while in-distance member-member pairs are never
    generated — a recall loss. The certified catalog queries are exact
    because every observed bucket at oracle SF is far below the default
    cap (max 9 vs 1000, asserted by tests/test_dedup.py's bucket-size
    check); at corpus scale, size ``max_bucket`` above the largest
    plausible non-duplicate collision group, or treat the output as
    approximate for over-cap buckets.
    """
    return banded_hamming_pairs(sigs, sig_col="simhash", n_bands=4,
                                band_bits=15, max_hamming=max_hamming,
                                id_col=id_col, max_bucket=max_bucket)


def banded_hamming_pairs(sigs: DataFrame, sig_col: str = "simhash",
                         n_bands: int = 4, band_bits: int = 15,
                         max_hamming: int = 3, id_col: str = "doc_id",
                         max_bucket: int = 1000) -> DataFrame:
    """The band/bucket machinery of :func:`simhash_pairs`, parameterized
    over signature width: ``n_bands`` bands of ``band_bits`` bits each.
    Pigeonhole exactness holds when ``max_hamming < n_bands`` (a pair
    within the threshold leaves at least one band untouched). Other
    fingerprint families (the 63-bit audio energy-delta fingerprint in
    :mod:`..operators.multimodal` uses 4×16-bit bands) reuse this instead
    of re-spelling the melt → bucket → in-bucket expansion shape."""
    width = 1 << band_bits
    melted = sigs.select(
        F.col(id_col), F.col(sig_col),
        F.expr(f"explode(transform(sequence(0, {n_bands - 1}),"
               f" b -> struct(b AS band, ({sig_col} div CAST(pow({width}, b)"
               f" AS BIGINT)) % {width} AS nib)))").alias("bn")) \
        .select(id_col, sig_col, "bn.band", "bn.nib")
    buckets = (melted.groupBy("band", "nib")
               .agg(F.sort_array(F.collect_set(F.struct(F.col(id_col).alias("id"),
                                                        F.col(sig_col).alias("sh"))))
                    .alias("xs"))
               .filter(F.size("xs") >= 2))
    pairs = F.expr(f"""
        CASE WHEN size(xs) <= {max_bucket}
        THEN flatten(transform(xs, (a, i) ->
               transform(slice(xs, i + 2, size(xs)), b ->
                 struct(a.id AS doc_a, b.id AS doc_b,
                        bit_count(bigint(a.sh) ^ bigint(b.sh)) AS hamming))))
        ELSE transform(slice(xs, 2, size(xs)), b ->
               struct(xs[0].id AS doc_a, b.id AS doc_b,
                      bit_count(bigint(xs[0].sh) ^ bigint(b.sh)) AS hamming))
        END""")
    return (buckets.select(F.explode(pairs).alias("p"))
            .select("p.doc_a", "p.doc_b", "p.hamming")
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def simhash_pairs_sql(table: str = "documents", max_hamming: int = 3,
                      text_col: str = "text", id_col: str = "doc_id") -> str:
    sums = simhash_bit_sums_sql("token")
    sum_aliases = [f"{s} AS s{j}" for j, s in enumerate(sums)]
    combine = simhash_combine_sql([f"s{j}" for j in range(60)])
    return f"""
    WITH tok AS (
      SELECT {id_col}, unnest({tokens_sql(text_col)}) AS token FROM {table}
    ),
    sums AS (
      SELECT {id_col}, {', '.join(sum_aliases)}
      FROM tok WHERE token <> '' GROUP BY {id_col}
    ),
    sigs AS (SELECT {id_col}, {combine} AS simhash FROM sums),
    melted AS (
      SELECT {id_col}, simhash, b AS band,
             (simhash // CAST(pow(16, b) AS INT)) % 16 AS nib
      FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
    )
    SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
           bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)) AS hamming
    FROM melted a JOIN melted b
      ON a.band = b.band AND a.nib = b.nib AND a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.simhash::BIGINT, b.simhash::BIGINT)) <= {max_hamming}
    """


# --------------------------------------------------------------------------
# n-gram Jaccard on candidate pairs
# --------------------------------------------------------------------------

def jaccard_pairs(sh: DataFrame, threshold: float = 0.6,
                  id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard over distinct shingle sets for pairs sharing ≥1
    shingle. Intersection via shingle self-join (shuffle key = shingle,
    uniform); sizes via broadcastable per-doc counts. Score is one IEEE
    division of exact ints — cross-engine deterministic, rounded to 6dp."""
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .groupBy(F.col(f"a.{id_col}").alias("doc_a"),
                      F.col(f"b.{id_col}").alias("doc_b"))
             .agg(F.count(F.lit(1)).alias("inter")))
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard", round6u(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def jaccard_on_pairs(sh: DataFrame, pairs: DataFrame, threshold: float = 0.6,
                     id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard restricted to given candidate pairs — the 100 TB
    composition: LSH prunes n² to a near-linear candidate set, exact
    verification touches only those. ``pairs`` is NOT hint-broadcast:
    the candidate set is near-linear in the corpus (and the capped
    generators emit O(n·max_df) rows), so a forced broadcast OOMs at
    exactly the scale the pruning exists for — AQE broadcasts the probe
    joins when the observed size is genuinely small and shuffles
    otherwise; the large shuffle keys on (doc_a, doc_b)."""
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (a.join(pairs, "doc_a")
             .join(b, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    return (inter.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard", round6u(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard"))


def lsh_jaccard_sql(shingle_cte: str, threshold: float = 0.6,
                    n_hashes: int = 8, rows_per_band: int = 2,
                    id_col: str = "doc_id") -> str:
    """Oracle for the composed LSH-candidates → exact-Jaccard pipeline."""
    ctes = _minhash_ctes(shingle_cte, n_hashes, rows_per_band, id_col)
    return f"""{ctes},
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS i
      FROM pairs p
      JOIN sh a ON a.{id_col} = p.doc_a
      JOIN sh b ON b.{id_col} = p.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    ),
    sizes AS (SELECT {id_col}, COUNT(*) AS n FROM sh GROUP BY {id_col})
    SELECT doc_a, doc_b,
           FLOOR((i * 1.0 / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.{id_col}
    JOIN sizes sb ON inter.doc_b = sb.{id_col}
    WHERE FLOOR((i * 1.0 / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000 >= {threshold}
    """


def jaccard_sql(shingle_cte: str, threshold: float = 0.6,
                id_col: str = "doc_id") -> str:
    return f"""
    WITH sh AS ({shingle_cte}),
    sizes AS (SELECT {id_col}, COUNT(*) AS n FROM sh GROUP BY {id_col}),
    inter AS (
      SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.{id_col} < b.{id_col}
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           FLOOR((i * 1.0 / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM inter
    JOIN sizes sa ON inter.doc_a = sa.{id_col}
    JOIN sizes sb ON inter.doc_b = sb.{id_col}
    WHERE FLOOR((i * 1.0 / (sa.n + sb.n - i)) * 1000000 + 0.5) / 1000000 >= {threshold}
    """


# --------------------------------------------------------------------------
# benchmark decontamination
# --------------------------------------------------------------------------

def contaminated_docs(corpus: DataFrame, benchmark: DataFrame, n: int = 5,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Training-set decontamination: corpus documents sharing any word
    n-gram with a benchmark/eval set (the n-gram-overlap check LLM data
    pipelines run before training; beyond the reference's surface, like
    the rest of the dedup ladder).

    Scale shape: the benchmark is small by definition, so its distinct
    n-gram set BROADCASTS; the corpus side is a narrow explode (no
    pre-shuffle) joined against that broadcast, and the only shuffle is
    the per-doc hit count keyed on ``doc_id`` — uniform. At 100 TB the
    corpus never self-joins and never shuffles its n-grams.

    Returns (doc_id, n_shared) for contaminated docs, n_shared = number
    of DISTINCT shared n-grams.
    """
    bench = shingle_select(benchmark, text_col, id_col, n=n) \
        .select("shingle").distinct()
    # distinct=False: deduping the FULL corpus n-gram stream would shuffle
    # all of it; instead the explode stays narrow and count_distinct runs
    # on only the broadcast-join survivors (tiny by definition)
    corp = shingle_select(corpus, text_col, id_col, n=n, distinct=False)
    return (corp.join(F.broadcast(bench), "shingle")
            .groupBy(id_col)
            .agg(F.count_distinct("shingle").alias("n_shared")))


def contaminated_docs_sql(corpus_where: str, benchmark_where: str,
                          table: str = "documents", n: int = 5,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`contaminated_docs` with the corpus and
    benchmark expressed as WHERE clauses over the same table."""
    corp_cte = shingle_sql(f"(SELECT * FROM {table} WHERE {corpus_where})",
                           text_col, id_col, n)
    bench_cte = shingle_sql(f"(SELECT * FROM {table} WHERE {benchmark_where})",
                            text_col, id_col, n)
    return f"""
    WITH corp AS ({corp_cte}),
    bench AS (SELECT DISTINCT shingle FROM ({bench_cte}))
    SELECT corp.{id_col}, COUNT(*) AS n_shared
    FROM corp JOIN bench USING (shingle)
    GROUP BY corp.{id_col}
    """


# --------------------------------------------------------------------------
# duplicate-cluster resolution (connected components over near-dup pairs)
# --------------------------------------------------------------------------

def contamination_report(corpus: DataFrame, benchmark: DataFrame,
                         n: int = 5, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Per-BENCHMARK-doc contamination report: (bench_id, n_ngrams,
    n_leaked, leak_ratio, n_corpus_docs) — the eval-integrity summary a
    team reviews before trusting a benchmark number (`contaminated_docs`
    answers "which corpus docs must go"; this answers "how compromised
    is each eval item", and a CLEAN item reports 0/0.0, not a missing
    row).

    Same scale contract as decontamination: the benchmark's (id,
    n-gram) pairs broadcast, the corpus side is a narrow distinct-pair
    explode, and the only aggregations run on broadcast-join SURVIVORS
    (tiny by definition) plus a benchmark-sized totals table."""
    bsh = (shingle_select(benchmark, text_col, id_col, n=n)
           .withColumnRenamed(id_col, "bench_id"))
    csh = shingle_select(corpus, text_col, id_col, n=n)
    hits = csh.join(F.broadcast(bsh), "shingle")
    per_bench = (hits.groupBy("bench_id")
                 .agg(F.count_distinct("shingle").alias("n_leaked"),
                      F.count_distinct(id_col).alias("n_corpus_docs")))
    totals = (bsh.groupBy("bench_id")
              .agg(F.count(F.lit(1)).alias("n_ngrams")))
    from ..functions.rounding import round6u
    return (totals.join(per_bench, "bench_id", "left")
            .select("bench_id", "n_ngrams",
                    F.coalesce("n_leaked", F.lit(0)).alias("n_leaked"),
                    round6u(F.coalesce(F.col("n_leaked"), F.lit(0))
                            / F.col("n_ngrams")).alias("leak_ratio"),
                    F.coalesce("n_corpus_docs", F.lit(0))
                    .alias("n_corpus_docs")))


def contamination_report_sql(corpus_where: str, benchmark_where: str,
                             table: str = "documents", n: int = 5,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`contamination_report`."""
    from ..functions.rounding import round6u_sql
    corp_cte = shingle_sql(f"(SELECT * FROM {table} WHERE {corpus_where})",
                           text_col, id_col, n)
    bench_cte = shingle_sql(
        f"(SELECT * FROM {table} WHERE {benchmark_where})",
        text_col, id_col, n)
    ratio = round6u_sql("COALESCE(n_leaked, 0) * 1.0 / n_ngrams")
    return f"""
    WITH corp AS ({corp_cte}),
    bench AS (SELECT {id_col} AS bench_id, shingle FROM ({bench_cte})),
    hits AS (SELECT b.bench_id, c.shingle, c.{id_col}
             FROM corp c JOIN bench b USING (shingle)),
    per_bench AS (
      SELECT bench_id, COUNT(DISTINCT shingle) AS n_leaked,
             COUNT(DISTINCT {id_col}) AS n_corpus_docs
      FROM hits GROUP BY bench_id
    ),
    totals AS (SELECT bench_id, COUNT(*) AS n_ngrams
               FROM bench GROUP BY bench_id)
    SELECT t.bench_id, CAST(t.n_ngrams AS BIGINT) AS n_ngrams,
           CAST(COALESCE(n_leaked, 0) AS BIGINT) AS n_leaked,
           {ratio} AS leak_ratio,
           CAST(COALESCE(n_corpus_docs, 0) AS BIGINT) AS n_corpus_docs
    FROM totals t LEFT JOIN per_bench USING (bench_id)
    """


def duplicate_clusters(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Group near-duplicate PAIRS into clusters and name each cluster by
    its minimum doc id — the step between pair generation (MinHash/
    SimHash/cosine) and actually dropping duplicates: keep one canonical
    doc per cluster, drop the rest.

    Iterative min-label propagation ACCELERATED BY POINTER JUMPING: each
    round every node adopts the smallest label among itself, its
    neighbors, AND its current label's own label (path halving — the
    hash-to-min trick). Labels only decrease and are bounded below by the
    component minimum, and the fixpoint condition (label ≤ every
    neighbor's label) forces label = component min — identical output to
    plain propagation, but label chains collapse geometrically, so
    convergence is O(log diameter) rounds instead of O(diameter): a
    10 000-node path labels in ~14 rounds, not 10 000. Near-dup
    components are usually shallow, but one pathological chain (serially
    quoted documents) would otherwise stall the whole corpus job. Per
    round: two joins (neighbor min + pointer jump) and a fixpoint probe,
    lineage cut with localCheckpoint.

    Input: (doc_a, doc_b) pairs (any extra columns ignored). Output:
    (doc_id, cluster_id) for every doc appearing in at least one pair.
    """
    labels, _ = _min_label_fixpoint(pairs, max_iters)
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("lbl").alias("cluster_id"))


def _min_label_fixpoint(pairs: DataFrame, max_iters: int):
    """(labels, rounds_used) — see :func:`duplicate_clusters`.

    Round shape (r13, interleaved A/B at sf0.1): ONE propagation step
    per materialization — a two-step round was measured SLOWER (4.3–5.0
    vs 3.2–3.9 s: the deeper uncheckpointed plan adds more stages than
    the saved barriers cost); the per-round checkpoint is LAZY, so the
    materialization folds into the fixpoint-probe job instead of paying
    a separate barrier job per round (the pagerank r12 finding); and
    the edge list is REPARTITIONED BY dst once before its cut, so the
    per-round neighbor join reuses that layout instead of re-exchanging
    the edge-sized side every round (guide §2.4 — at certification SFs
    AQE broadcasts the label side anyway, but at corpus scale labels
    are not broadcastable and the pinned edge layout is what keeps the
    loop to one label-sized exchange per round)."""
    e = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = lineage_cut(edges.distinct().repartition(F.col("dst")),
                        eager=True)
    labels = (edges.select(F.col("src").alias("node")).distinct()
              .withColumn("lbl", F.col("node")))
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        neighbor_min = (edges.join(labels, edges.dst == labels.node)
                        .groupBy("src").agg(F.min("lbl").alias("nlbl")))
        new_labels = (labels.join(neighbor_min,
                                  labels.node == neighbor_min.src, "left")
                      .select("node", F.col("lbl").alias("prev"),
                              F.least("lbl", F.coalesce("nlbl", "lbl"))
                              .alias("lbl")))
        # pointer jump: lbl(u) <- min(lbl(u), lbl(lbl(u))). The label
        # table self-join is label-cardinality-sized (shrinks as
        # components resolve), not edge-sized.
        jump = new_labels.select(F.col("node").alias("jnode"),
                                 F.col("lbl").alias("jlbl"))
        new_labels = (new_labels.join(
            jump, new_labels.lbl == jump.jnode, "left")
            .select("node", "prev",
                    F.least("lbl", F.coalesce("jlbl", "lbl")).alias("lbl")))
        new_labels = lineage_cut(new_labels)
        # the previous label rides through the round, so the fixpoint
        # probe is a narrow filter over the just-materialized partitions
        # — the old shape re-joined new vs old labels, a full extra
        # shuffle job per round (r12: the loop's per-round job count is
        # what the small-cluster case pays for; guide §2.4)
        changed = new_labels.filter(F.col("lbl") != F.col("prev")).take(1)
        labels = new_labels.select("node", "lbl")
        if not changed:
            break
    return labels, rounds


def duplicate_clusters_sql(pairs_cte: str) -> str:
    """DuckDB oracle: transitive closure via recursive CTE, cluster id =
    min reachable node (exponential-blowup-safe at oracle scale only —
    the Spark side is the distributed form)."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_cte}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(a, b) AS (
      SELECT src, src FROM edges
      UNION
      SELECT r.a, e.dst FROM reach r JOIN edges e ON r.b = e.src
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    """


# --------------------------------------------------------------------------
# normalized dedup + boilerplate mining + incremental (batch-vs-corpus)
# --------------------------------------------------------------------------

def normalize_expr(text_col: str = "text") -> Column:
    """Aggressive normalization before hashing: lowercase, strip every
    non-alphanumeric-non-space char, collapse whitespace runs, trim —
    catches near-dups that differ only in case/punctuation/spacing (the
    cheapest rung between exact and MinHash dedup)."""
    return F.trim(F.regexp_replace(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
        " +", " "))


def normalize_sql(text_col: str = "text") -> str:
    return (f"trim(regexp_replace(regexp_replace(lower({text_col}),"
            f" '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))")


def normalized_dedup_groups(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Exact dedup over the NORMALIZED text: same one-shuffle hash-groupBy
    as :func:`exact_dedup_groups`, run on :func:`normalize_expr` output."""
    fp = F.md5(normalize_expr(text_col))
    return (df.groupBy(fp.alias("fingerprint"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count(F.lit(1)).alias("n_copies")))


def normalized_dedup_sql(table: str = "documents", text_col: str = "text",
                         id_col: str = "doc_id") -> str:
    return f"""
    SELECT md5({normalize_sql(text_col)}) AS fingerprint,
           MIN({id_col}) AS keep_id, COUNT(*) AS n_copies
    FROM {table} GROUP BY 1
    """


def boilerplate_ngrams(df: DataFrame, min_df: int = 50, n: int = 3,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """n-grams whose DOCUMENT frequency crosses ``min_df`` — the
    boilerplate detector (nav bars, license headers, templated footers
    recur verbatim across a web corpus; their n-grams have corpus-scale
    df while genuine content n-grams stay rare).

    One pass: distinct (doc, shingle) → count per shingle → threshold.
    The shuffle key is the shingle hash (uniform); output is tiny (only
    boilerplate survives), so downstream removal can broadcast it.
    """
    sh = shingle_select(df, text_col, id_col, n=n, distinct=True)
    return (sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("doc_freq"))
            .filter(F.col("doc_freq") >= min_df))


def boilerplate_ngrams_sql(table: str = "documents", min_df: int = 50,
                           n: int = 3, text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    return f"""
    WITH sh AS ({shingle_sql(table, text_col, id_col, n)})
    SELECT shingle, COUNT(*) AS doc_freq
    FROM sh GROUP BY shingle HAVING COUNT(*) >= {min_df}
    """


def incremental_dedup_pairs(corpus_sigs: DataFrame, batch_sigs: DataFrame,
                            n_hashes: int = 8, rows_per_band: int = 2,
                            id_col: str = "doc_id") -> DataFrame:
    """(batch_id, corpus_id) candidate pairs: which NEW docs collide with
    the EXISTING corpus — the production shape of continuous dedup, where
    the historical signature table persists and each incoming batch only
    joins against it (never re-LSH the whole corpus per batch).

    The batch side of the band join is small by construction (one
    ingestion increment), so Spark broadcasts it; the corpus side streams
    by. Emits at most one row per (batch, corpus) pair via distinct.
    """
    n_bands = n_hashes // rows_per_band
    stack = ", ".join(
        f"'{b}', concat({', '.join(f'h{b * rows_per_band + r}' for r in range(rows_per_band))})"
        for b in range(n_bands))

    def melt(sigs: DataFrame, out: str) -> DataFrame:
        return sigs.select(
            F.col(id_col).alias(out),
            F.expr(f"stack({n_bands}, {stack}) AS (band, h)"))

    corpus = melt(corpus_sigs, "corpus_id")
    batch = melt(batch_sigs, "batch_id")
    return (corpus.join(F.broadcast(batch), ["band", "h"])
            .select("batch_id", "corpus_id")
            .distinct())


def incremental_dedup_sql(table: str = "documents", split_id: int = 400,
                          n_hashes: int = 8, rows_per_band: int = 2,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> str:
    """Oracle: same signatures computed over the whole table, banded pairs
    restricted to corpus-side (< split) × batch-side (>= split)."""
    n_bands = n_hashes // rows_per_band
    shingles = shingle_sql(table, text_col, id_col, n=3)
    hs = ", ".join(
        f"MIN(substring(md5(shingle), {4 * i + 1}, 4)) AS h{i}"
        for i in range(n_hashes))
    melted = "\n      UNION ALL ".join(
        f"SELECT {id_col}, {b} AS band, "
        + " || ".join(f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        + " AS h FROM sigs"
        for b in range(n_bands))
    return f"""
    WITH sh AS ({shingles}),
    sigs AS (SELECT {id_col}, {hs} FROM sh GROUP BY {id_col}),
    melted AS (
      {melted}
    )
    SELECT DISTINCT b.{id_col} AS batch_id, c.{id_col} AS corpus_id
    FROM melted c JOIN melted b ON c.band = b.band AND c.h = b.h
    WHERE c.{id_col} < {split_id} AND b.{id_col} >= {split_id}
    """


def incremental_hamming_pairs(corpus_sigs: DataFrame,
                              batch_sigs: DataFrame,
                              sig_col: str = "simhash",
                              n_bands: int = 4, band_bits: int = 15,
                              max_hamming: int = 3,
                              id_col: str = "doc_id") -> DataFrame:
    """(batch_id, corpus_id, hamming): which NEW fingerprints land
    within ``max_hamming`` of the EXISTING corpus — the Hamming twin of
    :func:`incremental_dedup_pairs`, and the serving half of the media
    families' "decode once, ship signatures" contract: the corpus side
    is a PERSISTED signature store (perceptual image/audio/video hashes
    written at ingest), so deduping an ingestion increment never
    re-opens a single historical byte.

    Same pigeonhole banding as :func:`banded_hamming_pairs` (exact when
    ``max_hamming < n_bands``); the batch side of the (band, nib) join
    is one increment — broadcast — and the corpus store streams by,
    partition-pruned to colliding buckets by the join itself. No
    in-bucket expansion is needed at all here (and so no star-fallback
    cap): candidates are cross-side only, never corpus×corpus.
    """
    width = 1 << band_bits
    bands = (f"explode(transform(sequence(0, {n_bands - 1}),"
             f" b -> struct(b AS band, ({sig_col} div CAST(pow({width},"
             f" b) AS BIGINT)) % {width} AS nib)))")

    def melt(sigs: DataFrame, out: str, sh: str) -> DataFrame:
        return (sigs.select(F.col(id_col).alias(out),
                            F.col(sig_col).alias(sh),
                            F.expr(bands).alias("bn"))
                .select(out, sh, "bn.band", "bn.nib"))

    corpus = melt(corpus_sigs, "corpus_id", "csh")
    batch = melt(batch_sigs, "batch_id", "bsh")
    return (corpus.join(F.broadcast(batch), ["band", "nib"])
            .select("batch_id", "corpus_id",
                    F.expr("bit_count(bigint(csh) ^ bigint(bsh))")
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


# --------------------------------------------------------------------------
# prefix-filtering similarity join (AllPairs/PPJoin family) — exact recall
# --------------------------------------------------------------------------

def prefix_filter_pairs(sh: DataFrame, threshold: float = 0.6,
                        id_col: str = "doc_id") -> DataFrame:
    """Candidate pairs by PREFIX FILTERING (Bayardo et al., WWW'07 /
    PPJoin): order each doc's shingles by ascending global document
    frequency; two docs with Jaccard >= t MUST share a shingle inside
    each other's first |d| - ceil(t*|d|) + 1 rarest shingles — so
    bucketing only the prefixes gives EXACT recall (unlike MinHash-LSH's
    probabilistic recall) while the candidate stream shrinks to the
    rare-shingle prefix instead of every shingle.

    Dataflow: global shingle df (vocabulary-sized agg) joins back as the
    ordering key; per-doc rank window is bounded by doc length; the pair
    bucket key is a rare shingle, so buckets are small BY CONSTRUCTION
    (a shingle frequent enough to make a big bucket is never in a
    prefix). Verification is exact Jaccard on candidates.
    """
    import math

    df_counts = sh.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_df"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    ranked = (sh.join(df_counts, "shingle")
              .withColumn("_rk", F.row_number().over(
                  Window.partitionBy(id_col)
                  .orderBy(F.col("_df").asc(), F.col("shingle").asc())))
              .join(sizes, id_col))
    # round to 6dp before ceil: for (t, sz) where t*sz is mathematically an
    # integer, IEEE noise a hair above it would make ceil gain 1 and shrink
    # the prefix by one element, voiding the exact-recall theorem
    prefix = ranked.filter(
        F.col("_rk") <= F.col("_sz")
        - F.ceil(F.round(F.lit(threshold) * F.col("_sz"), 6)) + 1)
    a = prefix.select(F.col(id_col).alias("doc_a"), "shingle")
    b = prefix.select(F.col(id_col).alias("doc_b"), "shingle")
    return (a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct())


def prefix_filter_jaccard(docs: DataFrame, threshold: float = 0.6,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """The complete prefix-filtered similarity join: exact-recall
    candidates -> exact Jaccard verify. Output is IDENTICAL to the
    exhaustive :func:`jaccard_pairs` at the same threshold (recall 1 is
    a theorem, not a tuning outcome), which is exactly what the shared
    oracle certifies."""
    sh = shingle_select(docs, text_col, id_col)
    cands = prefix_filter_pairs(sh, threshold, id_col)
    return jaccard_on_pairs(sh, cands, threshold=threshold, id_col=id_col)


def incremental_dedup_verified(docs: DataFrame, split_id: int = 400,
                               threshold: float = 0.6,
                               text_col: str = "text",
                               id_col: str = "doc_id") -> DataFrame:
    """The full continuous-ingestion dedup decision: LSH candidates from
    :func:`incremental_dedup_pairs`, then exact Jaccard against the
    matched corpus docs — output is (batch_id, corpus_id, jaccard) for
    every NEW doc that actually duplicates the existing corpus (what the
    ingestion job drops or links, not just what it inspects).

    Shingles are computed only for candidate-matched docs on both sides
    (semi-join pruning), so the verify cost scales with the candidate
    count, not the corpus.
    """
    corpus = docs.filter(F.col(id_col) < split_id)
    batch = docs.filter(F.col(id_col) >= split_id)
    cands = incremental_dedup_pairs(
        minhash_signatures_inline(corpus, text_col, id_col),
        minhash_signatures_inline(batch, text_col, id_col),
        id_col=id_col)
    sh = shingle_select(docs, text_col, id_col)
    pairs = cands.select(F.col("corpus_id").alias("doc_a"),
                         F.col("batch_id").alias("doc_b"))
    verified = jaccard_on_pairs(sh, pairs, threshold=threshold,
                                id_col=id_col)
    return verified.select(F.col("doc_b").alias("batch_id"),
                           F.col("doc_a").alias("corpus_id"), "jaccard")


def incremental_dedup_verified_sql(table: str = "documents",
                                   split_id: int = 400,
                                   threshold: float = 0.6,
                                   text_col: str = "text",
                                   id_col: str = "doc_id") -> str:
    cand = incremental_dedup_sql(table, split_id, text_col=text_col,
                                 id_col=id_col)
    shingles = shingle_sql(table, text_col, id_col)
    return f"""
    WITH cand AS ({cand}),
    shx AS ({shingles}),
    sz AS (SELECT {id_col}, COUNT(*) AS n FROM shx GROUP BY {id_col}),
    inter AS (
      SELECT c.batch_id, c.corpus_id, COUNT(*) AS i
      FROM cand c
      JOIN shx a ON a.{id_col} = c.corpus_id
      JOIN shx b ON b.{id_col} = c.batch_id AND a.shingle = b.shingle
      GROUP BY c.batch_id, c.corpus_id
    )
    SELECT i.batch_id, i.corpus_id,
           FLOOR((i.i * 1.0 / (sa.n + sb.n - i.i)) * 1000000 + 0.5) / 1000000 AS jaccard
    FROM inter i
    JOIN sz sa ON sa.{id_col} = i.corpus_id
    JOIN sz sb ON sb.{id_col} = i.batch_id
    WHERE FLOOR((i.i * 1.0 / (sa.n + sb.n - i.i)) * 1000000 + 0.5) / 1000000 >= {threshold}
    """


# --------------------------------------------------------------------------
# span-level dedup (exact-substring family, n-gram granularity)
# --------------------------------------------------------------------------

def span_dedup_stats(df: DataFrame, n: int = 8, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document duplicated-SPAN statistics: how much of each doc's
    n-gram stream already appears in an EARLIER document (min-id owner) —
    the n-gram-granularity form of exact-substring dedup (suffix-array
    dedup à la "Deduplicating Training Data Makes Language Models Better",
    Lee et al. 2021), which drops repeated spans rather than whole docs.

    Differs from :func:`boilerplate_ngrams` (corpus-FREQUENCY threshold):
    here a span shared by just TWO docs counts against the later one, so
    pairwise paste-plagiarism is caught, not only template boilerplate.

    Dataflow: positions explode narrow; ownership is a gram-keyed
    aggregation (min id per gram — uniform hash shuffle, no joins of doc
    against doc); a doc's dup_frac = fraction of its gram POSITIONS whose
    gram has an earlier owner. Output: (id, n_grams, n_dup_positions,
    dup_frac). Downstream policy gates on dup_frac (drop > 0.8, strip
    spans in 0.2..0.8, keep below).
    """
    # same two-consumer shape as span_dedup_rewrite: cut the explode
    grams = lineage_cut(_word_grams(
        df.select(F.col(id_col), tokens(text_col).alias("t")),
        id_col, n, "gram"))
    owner = grams.groupBy("gram").agg(F.min(id_col).alias("owner_id"))
    return (grams.join(owner, "gram")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.when(F.col("owner_id") < F.col(id_col), 1)
                       .otherwise(0)).alias("n_dup_positions"))
            .select(id_col, "n_grams", "n_dup_positions",
                    round6u(F.col("n_dup_positions") / F.col("n_grams"))
                    .alias("dup_frac")))


def span_dedup_stats_sql(table: str = "documents", n: int = 8,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> str:
    parts = " || ' ' || ".join(f"t[i + {k}]" for k in range(n))
    return f"""
    WITH grams AS (
      SELECT {id_col}, unnest(list_transform(
               generate_series(1, len(t) - {n - 1}), i -> {parts})) AS gram
      FROM (SELECT {id_col}, {tokens_sql(text_col)} AS t FROM {table})
      WHERE len(t) >= {n}
    ),
    owner AS (SELECT gram, MIN({id_col}) AS owner_id FROM grams GROUP BY gram)
    SELECT {id_col},
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN owner_id < {id_col} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_positions,
           FLOOR(SUM(CASE WHEN owner_id < {id_col} THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS dup_frac
    FROM grams JOIN owner USING (gram)
    GROUP BY {id_col}
    """


def span_dedup_rewrite(df: DataFrame, n: int = 8, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Duplicate-span REMOVAL (Lee et al. 2021 §4 — the rewrite half of
    exact-substring dedup; :func:`span_dedup_stats` is the measurement
    half): every token covered by an n-gram that already appears in an
    EARLIER document (min-id owner) is dropped, and the surviving tokens
    are reassembled in original order. The canonical (first) copy of a
    span is kept verbatim; later copies lose exactly the duplicated run,
    not the whole document — the op that salvages the unique tail of a
    quote-heavy page instead of discarding it.

    Keep rule, precisely: token j of doc d survives iff NO gram start
    position p in [j-n+1, j] of doc d has owner(gram_p) < d. Docs
    shorter than n tokens have no grams and pass through verbatim; docs
    whose every token is covered come back with clean_text NULL.

    Scale shape — same as the stats op plus one narrow join: positions
    explode narrow; ownership is a gram-keyed min aggregation (uniform
    hash shuffle, no doc-vs-doc join); the per-doc duplicated-position
    list rides back on an id-keyed join (dup docs are a small fraction
    of the corpus, and a doc's position list is bounded by its own
    length); the rewrite itself is per-row array work (coverage test is
    O(|dup positions|) per token via HOFs — bounded by doc length,
    embarrassingly parallel). Case/reassembly: gram keys are lowercased
    (matching the stats op), surviving tokens keep original case.
    """
    # NULL text drops the row on both engines (split(NULL) is NULL here;
    # the oracle's LATERAL over a NULL series emits no rows)
    base = (df.select(F.col(id_col),
                      F.split(F.col(text_col), " ").alias("_t"))
            .filter(F.col("_t").isNotNull()))
    # grams feeds the owner agg AND the dup join: cut it so the
    # word-gram explode runs once (r13 interleaved A/B: 1.30-1.67 vs
    # 1.67-1.76 s at sf0.1, rows identical)
    grams = lineage_cut(_word_grams(
        base.select(id_col,
                    F.expr("transform(_t, x -> lower(x))").alias("t")),
        id_col, n, "gram", with_pos=True))
    owner = grams.groupBy("gram").agg(F.min(id_col).alias("owner_id"))
    dup = (grams.join(owner, "gram")
           .filter(F.col("owner_id") < F.col(id_col))
           .groupBy(id_col)
           .agg(F.sort_array(F.collect_list("pos")).alias("_p")))
    return (base.join(dup, id_col, "left")
            .withColumn("_p", F.coalesce(F.col("_p"),
                                         F.expr("CAST(array() AS ARRAY<INT>)")))
            .withColumn("_kept", F.expr(
                "filter(transform(sequence(1, size(_t)),"
                " j -> named_struct('j', j, 'tok', element_at(_t, j))),"
                f" s -> NOT exists(_p,"
                f" p -> p >= s.j - {n - 1} AND p <= s.j))"))
            .select(id_col,
                    F.nullif(F.expr(
                        "array_join(transform(_kept, s -> s.tok), ' ')"),
                        F.lit("")).alias("clean_text"),
                    F.size("_t").cast("long").alias("n_tokens"),
                    (F.size("_t") - F.size("_kept")).cast("long")
                    .alias("n_dropped")))


def span_dedup_rewrite_sql(table: str = "documents", n: int = 8,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`span_dedup_rewrite` — the same keep rule
    spelled relationally: duplicated gram starts expand to covered token
    indexes (LATERAL 0..n-1), survivors reassemble with an ordered
    string_agg. Pure integer/string logic, no float-parity concerns."""
    parts = " || ' ' || ".join(f"lt[i + {k}]" for k in range(n))
    return f"""
    WITH base AS (
      SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {table}
    ),
    grams AS (
      SELECT {id_col}, g.i AS pos, {parts} AS gram
      FROM (SELECT {id_col}, list_transform(t, x -> lower(x)) AS lt
            FROM base),
           LATERAL (SELECT unnest(generate_series(1, len(lt) - {n - 1}))
                    AS i) g
      WHERE len(lt) >= {n}
    ),
    owner AS (SELECT gram, MIN({id_col}) AS owner_id FROM grams
              GROUP BY gram),
    covered AS (
      SELECT DISTINCT g.{id_col}, g.pos + k.k AS j
      FROM grams g JOIN owner o USING (gram),
           LATERAL (SELECT unnest(generate_series(0, {n - 1})) AS k) k
      WHERE o.owner_id < g.{id_col}
    ),
    toks AS (
      SELECT {id_col}, g.j, t[g.j] AS tok
      FROM base,
           LATERAL (SELECT unnest(generate_series(1, len(t))) AS j) g
    )
    SELECT t.{id_col},
           nullif(string_agg(CASE WHEN c.j IS NULL THEN t.tok END, ' '
                             ORDER BY t.j), '') AS clean_text,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN c.j IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_dropped
    FROM toks t LEFT JOIN covered c
      ON t.{id_col} = c.{id_col} AND t.j = c.j
    GROUP BY t.{id_col}
    """


def span_longest_match(df: DataFrame, n: int = 8, min_len: int = 12,
                       text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Variable-length LONGEST-MATCH duplicated spans — the true
    suffix-array semantics of exact-substring dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2021: report
    each maximal duplicated substring once, with its length), where
    :func:`span_dedup_stats` / :func:`span_dedup_rewrite` only see
    fixed-``n``-gram hits.

    A duplicated run of ``L`` tokens shared with one earlier owner doc
    shows up as ``L - n + 1`` CONSECUTIVE duplicated gram positions with
    the same owner, so coalescing consecutive (doc, owner) gram starts
    (the gaps-and-islands shape of ``q_scd2_intervals``: island key =
    pos - row_number) recovers the maximal span exactly: start = first
    gram position, token length = last - first + n. Spans shorter than
    ``min_len`` tokens are noise-filtered (min_len >= n; at min_len = n
    every single-gram hit is its own span).

    Output: (id, owner_id, start_pos, span_len) — one row per maximal
    (doc, owner) duplicated span, 1-based token positions.

    Scale shape (100 TB): grams explode narrow (pos int + gram string);
    ownership is the same gram-keyed min aggregation as the stats op
    (uniform hash shuffle, NO doc-vs-doc join); only DUPLICATED positions
    (a small fraction of the corpus) reach the window, and its
    partitioning key (doc, owner) is high-cardinality and uniform — no
    global ordering anywhere. Matches reference scope: the reference has
    no span-level dedup at all; this extends SURVEY §2's dedup family.
    """
    grams = _word_grams(
        df.select(F.col(id_col), tokens(text_col).alias("t")),
        id_col, n, "gram", with_pos=True)
    owner = grams.groupBy("gram").agg(F.min(id_col).alias("owner_id"))
    dup = (grams.join(owner, "gram")
           .filter(F.col("owner_id") < F.col(id_col))
           .select(id_col, "owner_id", "pos"))
    w = Window.partitionBy(id_col, "owner_id").orderBy("pos")
    return (dup.withColumn("_isl", F.col("pos") - F.row_number().over(w))
            .groupBy(id_col, "owner_id", "_isl")
            .agg(F.min("pos").alias("start_pos"),
                 (F.max("pos") - F.min("pos") + n).cast("long")
                 .alias("span_len"))
            .filter(F.col("span_len") >= min_len)
            .select(id_col, "owner_id",
                    F.col("start_pos").cast("long").alias("start_pos"),
                    "span_len"))


def span_longest_match_sql(table: str = "documents", n: int = 8,
                           min_len: int = 12, text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`span_longest_match` — the identical
    gaps-and-islands coalescing in plain SQL (no recursion needed: the
    island key pos - ROW_NUMBER() is engine-agnostic integer logic)."""
    parts = " || ' ' || ".join(f"lt[i + {k}]" for k in range(n))
    return f"""
    WITH grams AS (
      SELECT {id_col}, g.i AS pos, {parts} AS gram
      FROM (SELECT {id_col}, {tokens_sql(text_col)} AS lt FROM {table}),
           LATERAL (SELECT unnest(generate_series(1, len(lt) - {n - 1}))
                    AS i) g
      WHERE len(lt) >= {n}
    ),
    owner AS (SELECT gram, MIN({id_col}) AS owner_id FROM grams
              GROUP BY gram),
    dup AS (
      SELECT g.{id_col}, o.owner_id, g.pos,
             g.pos - ROW_NUMBER() OVER (
               PARTITION BY g.{id_col}, o.owner_id ORDER BY g.pos) AS isl
      FROM grams g JOIN owner o USING (gram)
      WHERE o.owner_id < g.{id_col}
    )
    SELECT {id_col}, owner_id,
           CAST(MIN(pos) AS BIGINT) AS start_pos,
           CAST(MAX(pos) - MIN(pos) + {n} AS BIGINT) AS span_len
    FROM dup
    GROUP BY {id_col}, owner_id, isl
    HAVING MAX(pos) - MIN(pos) + {n} >= {min_len}
    """


def cross_source_dup_matrix(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            source_col: str = "source") -> DataFrame:
    """Near-duplicate LEAKAGE matrix between sources: for every pair of
    corpus sources, how many MinHash-candidate near-dup pairs span them.

    The corpus-diagnostics view of dedup — before choosing which copy of
    a near-dup cluster to keep, a curation run wants to know WHERE the
    duplication lives (two crawls of the same site, a dataset uploaded
    twice under different names, a benchmark mirrored into a web dump).
    Same-source pairs are reported too (source_a = source_b), so the
    matrix partitions the full candidate-pair set.

    Scale shape (100 TB): candidate pairs come from
    :func:`minhash_band_pairs` (bucketed, capped — never all-pairs); the
    (id → source) attribution joins shuffle on the doc id, uniform and
    skew-free, and the pair side is orders of magnitude smaller than the
    corpus. The final matrix is at most |sources|² rows.
    """
    sigs = minhash_signatures_inline(docs, text_col=text_col, id_col=id_col)
    pairs = minhash_band_pairs(sigs, id_col=id_col)
    src = docs.select(F.col(id_col), F.col(source_col))
    attributed = (pairs
                  .join(src.withColumnRenamed(id_col, "doc_a")
                        .withColumnRenamed(source_col, "_sa"), "doc_a")
                  .join(src.withColumnRenamed(id_col, "doc_b")
                        .withColumnRenamed(source_col, "_sb"), "doc_b"))
    return (attributed
            .select(F.least("_sa", "_sb").alias("source_a"),
                    F.greatest("_sa", "_sb").alias("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_pairs")))


def cross_source_dup_matrix_sql(table: str = "documents",
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                source_col: str = "source") -> str:
    ctes = _minhash_ctes(shingle_sql(table, text_col=text_col,
                                     id_col=id_col), 8, 2, id_col)
    return f"""{ctes},
    src AS (SELECT {id_col}, {source_col} FROM {table}),
    attributed AS (
      SELECT least(sa.{source_col}, sb.{source_col}) AS source_a,
             greatest(sa.{source_col}, sb.{source_col}) AS source_b
      FROM pairs p
      JOIN src sa ON p.doc_a = sa.{id_col}
      JOIN src sb ON p.doc_b = sb.{id_col}
    )
    SELECT source_a, source_b, COUNT(*) AS n_pairs
    FROM attributed GROUP BY 1, 2"""


def containment_on_pairs(sh: DataFrame, pairs: DataFrame,
                         threshold: float = 0.8,
                         id_col: str = "doc_id") -> DataFrame:
    """Asymmetric shingle CONTAINMENT on candidate pairs: |A∩B| / |A|.

    Jaccard misses subset duplication — a paragraph quoted inside a much
    longer doc scores low Jaccard but containment ≈ 1 for the shorter
    side. Emits one row per (contained, container) DIRECTION above the
    threshold, so a pair can appear twice (mutual containment = exact
    near-dup). Same scale shape as :func:`jaccard_on_pairs`: candidates
    come pre-pruned but are NOT hint-broadcast (the max_df-capped
    generator emits O(n·max_df) rows — AQE sizes the probe joins from
    observed size); the only large shuffle keys on the pair.

    Candidate choice matters for RECALL: a containment-0.8 pair can have
    Jaccard ~|A|/|B| (arbitrarily low), which MinHash-LSH banding will
    miss by design. Shingle-sharing candidates (:func:`containment_pairs`)
    give exact recall — any containment > 0 pair shares a shingle — at
    the quadratic-baseline cost; at corpus scale, bound the expansion the
    same way `jaccard_pairs` documents (frequency-capped shingles).
    """
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (a.join(pairs, "doc_a")
             .join(b, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("i")))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    both = (inter.join(sa, "doc_a").join(sb, "doc_b"))
    fwd = both.select(F.col("doc_a").alias("contained"),
                      F.col("doc_b").alias("container"),
                      round6u(F.col("i") / F.col("na")).alias("containment"))
    rev = both.select(F.col("doc_b").alias("contained"),
                      F.col("doc_a").alias("container"),
                      round6u(F.col("i") / F.col("nb")).alias("containment"))
    return (fwd.unionByName(rev)
            .filter(F.col("containment") >= threshold))


def containment_pairs(sh: DataFrame, threshold: float = 0.8,
                      id_col: str = "doc_id",
                      max_df: int | None = None) -> DataFrame:
    """Exact-recall containment: shingle-sharing candidates (any pair with
    containment > 0 shares a shingle) + :func:`containment_on_pairs`.

    ``max_df`` is the corpus-scale lever (same discipline as
    ``max_bucket`` in the LSH generators): shingles appearing in more
    than ``max_df`` docs are EXCLUDED FROM PAIR GENERATION (never from
    the exact intersection counts), bounding the per-shingle expansion at
    O(max_df²). Recall is then exact for any pair sharing at least one
    sub-cap shingle — a containment-0.8 pair whose every shared shingle
    is boilerplate-common is the only miss, and those pairs are better
    handled by :func:`boilerplate_ngrams` removal first. Default None =
    exact recall (the certified oracle form).
    """
    if max_df is not None:
        # capped: generate pairs from sub-cap shingles only, but count
        # intersections over the FULL shingle sets (two-phase)
        rare = (sh.groupBy("shingle")
                .agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_df)
                .select("shingle"))
        gen = sh.join(rare, "shingle")
        a = gen.select(F.col(id_col).alias("doc_a"), "shingle")
        b = gen.select(F.col(id_col).alias("doc_b"), "shingle")
        pairs = (a.join(b, "shingle")
                 .filter(F.col("doc_a") < F.col("doc_b"))
                 .select("doc_a", "doc_b").distinct())
        return containment_on_pairs(sh, pairs, threshold, id_col)
    # exact form: ONE shingle self-join counts intersections directly
    # (sh is distinct, so COUNT(*) per pair == |A∩B|) — no separate pair
    # materialization + re-join (3 scans of the shingle join -> 1)
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("doc_a") < F.col("doc_b"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("i")))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    both = inter.join(sa, "doc_a").join(sb, "doc_b")
    fwd = both.select(F.col("doc_a").alias("contained"),
                      F.col("doc_b").alias("container"),
                      round6u(F.col("i") / F.col("na")).alias("containment"))
    rev = both.select(F.col("doc_b").alias("contained"),
                      F.col("doc_a").alias("container"),
                      round6u(F.col("i") / F.col("nb")).alias("containment"))
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


def containment_sql(shingle_cte: str, threshold: float = 0.8,
                    id_col: str = "doc_id") -> str:
    return f"""
    WITH sh AS ({shingle_cte}),
    inter AS (
      SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b, COUNT(*) AS i
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.{id_col} < b.{id_col}
      GROUP BY 1, 2
    ),
    sizes AS (SELECT {id_col}, COUNT(*) AS n FROM sh GROUP BY {id_col}),
    both_dirs AS (
      SELECT i.doc_a AS contained, i.doc_b AS container,
             FLOOR((i.i * 1.0 / sa.n) * 1000000 + 0.5) / 1000000 AS containment
      FROM inter i JOIN sizes sa ON sa.{id_col} = i.doc_a
      UNION ALL
      SELECT i.doc_b, i.doc_a, FLOOR((i.i * 1.0 / sb.n) * 1000000 + 0.5) / 1000000
      FROM inter i JOIN sizes sb ON sb.{id_col} = i.doc_b
    )
    SELECT contained, container, containment
    FROM both_dirs WHERE containment >= {threshold}"""


def consecutive_dedup(df, key_col: str = "user_id",
                      order_cols: tuple[str, ...] = ("ts", "event_id"),
                      value_col: str = "event_type"):
    """Drop CONSECUTIVE repeats of ``value_col`` within each key's ordered
    stream — the transcript/segment-cleaning op (repeated ASR hypotheses,
    duplicated chat turns, double-fired events): only runs collapse, a
    value may legitimately recur later.

    One per-key window (millions of small partitions at scale, never a
    global sort); null-safe compare so NULL runs collapse too. A key's
    FIRST row is always kept — lag() returns NULL there, which a bare
    null-safe compare would conflate with "previous value was NULL" and
    silently drop a leading-NULL row (found by the hypothesis reference
    test), so first-row-ness is detected via a lagged literal. The batch
    twin of the streaming exactly-first dedup — that one keys on identity
    forever, this one on adjacency.
    """
    from pyspark.sql import Window, functions as F

    w = Window.partitionBy(key_col).orderBy(*order_cols)
    return (df.withColumn("_prev", F.lag(value_col).over(w))
            .withColumn("_has_prev", F.lag(F.lit(1)).over(w))
            .filter(F.col("_has_prev").isNull()
                    | ~F.col(value_col).eqNullSafe(F.col("_prev")))
            .drop("_prev", "_has_prev"))


# --------------------------------------------------------------------------
# paragraph-level dedup (RefinedWeb granularity)
# --------------------------------------------------------------------------

PARA_SPLIT_RE = r"\n[ \t]*\n"


def paragraph_dedup(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Corpus-wide PARAGRAPH dedup (RefinedWeb §3 granularity): split each
    document on blank lines, keep only the globally-FIRST occurrence of
    each (whitespace-normalized) paragraph, reassemble the survivors in
    original order. Catches templated boilerplate (nav bars, footers,
    license headers) that document-level dedup can never remove because
    the surrounding content differs.

    Scale shape — two uniform shuffles, zero joins:
    1. narrow posexplode (rows grow ~paras/doc, no shuffle);
    2. one hash-partitioned window (row_number over md5(paragraph)
       ordered by (doc, position)) marks the canonical copy — paragraph
       hashes are near-unique so partitions stay balanced at any corpus
       size (the pathological key is empty text, filtered before the
       shuffle);
    3. one groupBy(doc) reassembly — collect_list skips the NULL
       non-keepers, array_sort restores original paragraph order, so
       kept text, kept count and dropped count come out of a single
       aggregation.

    Documents whose every paragraph was seen earlier come back with
    clean_text NULL (matching SQL string_agg-over-nothing), n_kept 0.
    """
    para = F.trim(F.col("_para"))
    paras = (df.select(id_col,
                       F.posexplode(F.split(text_col, PARA_SPLIT_RE))
                        .alias("_idx", "_para"))
             .select(id_col, "_idx", para.alias("_para"))
             .filter(F.col("_para") != ""))
    h = F.md5(F.regexp_replace(F.lower(F.col("_para")), r"\s+", " "))
    w = Window.partitionBy(h).orderBy(id_col, "_idx")
    flagged = paras.withColumn("_keep", F.row_number().over(w) == 1)
    kept_struct = F.when(F.col("_keep"),
                         F.struct(F.col("_idx"), F.col("_para")))
    return (flagged.groupBy(id_col)
            .agg(F.nullif(
                     F.array_join(
                         F.transform(
                             F.array_sort(F.collect_list(kept_struct)),
                             lambda s: s.getField("_para")),
                         "\n\n"),
                     F.lit("")).alias("clean_text"),
                 F.sum(F.col("_keep").cast("int")).alias("n_kept"),
                 F.sum((~F.col("_keep")).cast("int")).alias("n_dropped")))


def paragraph_dedup_sql(table: str = "documents", text_col: str = "text",
                        id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`paragraph_dedup` — same keep rule spelled
    with LATERAL generate_series (positional unnest) + a window."""
    return f"""
    WITH paras AS (
      SELECT {id_col}, g.i AS idx, trim(ps[g.i]) AS para
      FROM (SELECT {id_col},
                   regexp_split_to_array({text_col}, '\\n[ \\t]*\\n') AS ps
            FROM {table}),
           LATERAL (SELECT unnest(generate_series(1, len(ps))) AS i) g
    ),
    flagged AS (
      SELECT {id_col}, idx, para,
             ROW_NUMBER() OVER (
               PARTITION BY md5(regexp_replace(lower(para), '\\s+', ' ', 'g'))
               ORDER BY {id_col}, idx) = 1 AS keep
      FROM paras WHERE para <> ''
    )
    SELECT {id_col},
           string_agg(CASE WHEN keep THEN para END,
                      chr(10) || chr(10) ORDER BY idx) AS clean_text,
           CAST(COALESCE(SUM(CASE WHEN keep THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN keep THEN 0 ELSE 1 END), 0)
                AS BIGINT) AS n_dropped
    FROM flagged GROUP BY {id_col}
    """


def ngram_novelty(pool: DataFrame, reference: DataFrame, n: int = 3,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Per-document n-gram NOVELTY against a reference corpus: the
    fraction of a doc's distinct word n-grams never seen in the
    reference — the memorization/derivativeness signal a curation pass
    scores alongside quality (near-zero novelty ⇒ boilerplate or a
    near-copy the pairwise dedup family may have missed; the inverse
    of decontamination, which looks for ANY overlap with a small
    benchmark — here the reference is corpus-scale).

    Shape: both sides reuse the shingle stream; the membership probe is
    ONE shuffle keyed on the shingle (uniform by construction), with NO
    broadcast hint — the reference is corpus-scale, AQE decides. The
    novelty ratio lands as BIGINT micro-units: (n_grams − n_seen)·10⁶
    is an exact integer, one IEEE division by n_grams, half-up floor —
    bit-identical cross-engine. Docs shorter than ``n`` words drop
    (no shingles ⇒ no novelty denominator).
    """
    ps = shingle_select(pool, text_col, id_col, n=n)
    rs = (shingle_select(reference, text_col, id_col, n=n)
          .select("shingle").distinct())
    joined = ps.join(rs.withColumn("_hit", F.lit(1)), "shingle", "left")
    return (joined.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_grams"),
                 F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                 .cast("long").alias("n_seen"))
            .select(id_col, "n_grams", "n_seen",
                    F.expr("CAST(FLOOR(CAST((n_grams - n_seen) * 1000000"
                           " AS DOUBLE) / n_grams + 0.5) AS BIGINT)")
                    .alias("novelty_micro")))


def ngram_novelty_sql(pool_sql: str, reference_sql: str, n: int = 3,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> str:
    """DuckDB oracle for :func:`ngram_novelty` — same shingle streams,
    membership join, and micro-unit arithmetic."""
    ps = shingle_sql(f"({pool_sql})", text_col, id_col, n)
    rs = shingle_sql(f"({reference_sql})", text_col, id_col, n)
    return f"""
    WITH ps AS ({ps}),
    rs AS (SELECT DISTINCT shingle FROM ({rs})),
    agg AS (
      SELECT p.{id_col},
             COUNT(*) AS n_grams,
             SUM(CASE WHEN r.shingle IS NOT NULL THEN 1 ELSE 0 END)
                 AS n_seen
      FROM ps p LEFT JOIN rs r USING (shingle)
      GROUP BY p.{id_col}
    )
    SELECT {id_col}, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_seen AS BIGINT) AS n_seen,
           CAST(FLOOR(CAST((n_grams - n_seen) * 1000000 AS DOUBLE)
                / n_grams + 0.5) AS BIGINT) AS novelty_micro
    FROM agg
    """
