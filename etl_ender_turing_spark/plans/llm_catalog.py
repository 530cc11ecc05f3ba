"""LLM-training-data-pipeline queries: dedup, similarity search, text
analysis over the documents/embeddings tables — each with a DuckDB oracle
generated from the SAME SQL-snippet builders the Spark side uses, so both
engines evaluate literally the same hash/arithmetic formulas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators import dedup as dd
# clear_fixture_cache: the name perfbench calls between ops
from ..functions.barrier import (clear_shared_cuts as clear_fixture_cache,
                                 lineage_cut, shared_cut)
from ..operators import sampling as sp
from ..operators import similarity as sim
from ..operators import textstats as ts
from ..sources.readers import read_table
from .catalog import register


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "documents")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings")


# The dedup family re-derives the IDENTICAL shingle/verified-pair
# subtrees in every query; one shared cut each (keyed by plan) lets a
# serial pass over the catalog compute them once. Fixture-scale only — a
# production corpus persists its SIGNATURE table, not raw shingles
# (SCALE.md incremental section); the operators themselves stay pure.
def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared_cut(dd.shingle_select(_docs(spark, sf_dir)))


def _verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding -> exact-Jaccard verification at threshold 0.6 — the
    shared subtree of the seven cluster/keep/multi-signal queries."""
    sh = _shingles(spark, sf_dir)
    return shared_cut(dd.jaccard_on_pairs(
        sh, dd.minhash_band_pairs(dd.minhash_signatures(sh)),
        threshold=0.6))


# =========================================================================
# Deduplication
# =========================================================================

@register(
    "q_dedup_exact",
    """
    SELECT md5(lower(text)) AS fingerprint,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM documents GROUP BY 1
    """,
    doc="exact content dedup: hash-groupBy, keeper id per group")
def q_dedup_exact(spark, sf_dir):
    return dd.exact_dedup_groups(_docs(spark, sf_dir))


_SHINGLE_CTE = dd.shingle_sql("documents")


@register(
    "q_dedup_minhash_lsh",
    dd.minhash_sql(_SHINGLE_CTE),
    doc="MinHash signatures + LSH banding (4 bands x 2 rows) -> candidate "
        "near-dup pairs")
def q_dedup_minhash_lsh(spark, sf_dir):
    sigs = dd.minhash_signatures_inline(_docs(spark, sf_dir))
    return dd.minhash_band_pairs(sigs)


@register(
    "q_dedup_simhash",
    dd.simhash_oracle_sql("documents"),
    doc="60-bit SimHash fingerprint per document (integer-exact)")
def q_dedup_simhash(spark, sf_dir):
    return dd.simhash_inline(_docs(spark, sf_dir))


@register(
    "q_dedup_simhash_pairs",
    dd.simhash_pairs_sql("documents", max_hamming=3),
    doc="SimHash near-dup pairs: pigeonhole nibble banding (no recall loss "
        "at hamming<=3) + exact bit_count(xor) verification on candidates")
def q_dedup_simhash_pairs(spark, sf_dir):
    return dd.simhash_pairs(dd.simhash_inline(_docs(spark, sf_dir)),
                            max_hamming=3)


@register(
    "q_dedup_ngram_jaccard",
    dd.jaccard_sql(_SHINGLE_CTE, threshold=0.6),
    doc="exact n-gram Jaccard similarity on shingle-sharing candidate "
        "pairs — CORRECTNESS BASELINE ONLY (expands every shingle-sharing "
        "pair); the production scale form is q_dedup_lsh_jaccard, which "
        "must find the identical pair set")
def q_dedup_ngram_jaccard(spark, sf_dir):
    return dd.jaccard_pairs(_shingles(spark, sf_dir), threshold=0.6)


@register(
    "q_dedup_lsh_jaccard",
    dd.lsh_jaccard_sql(_SHINGLE_CTE, threshold=0.6),
    doc="the composed 100 TB dedup pipeline: MinHash-LSH candidate pruning "
        "-> exact Jaccard verification on candidates only")
def q_dedup_lsh_jaccard(spark, sf_dir):
    return _verified_pairs(spark, sf_dir)


@register(
    "q_minhash_estimate_error",
    f"""
    WITH exact_pairs AS ({dd.jaccard_sql(_SHINGLE_CTE, threshold=0.6)}),
    sh AS ({_SHINGLE_CTE}),
    sigs AS (
      SELECT doc_id,
             {", ".join(f"MIN(substr(md5(shingle), {4 * i + 1}, 4)) AS h{i}"
                        for i in range(8))}
      FROM sh GROUP BY doc_id
    ),
    est AS (
      SELECT e.doc_a, e.doc_b, e.jaccard,
             ({" + ".join(f"CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END"
                          for i in range(8))}) / 8.0 AS j_est
      FROM exact_pairs e
      JOIN sigs a ON a.doc_id = e.doc_a
      JOIN sigs b ON b.doc_id = e.doc_b
    )
    SELECT doc_a, doc_b, jaccard, j_est,
           ABS(j_est - jaccard) <= 0.35 AS within_tol
    FROM est
    """,
    doc="MinHash as an ESTIMATOR, error-bounded: for every true near-dup "
        "pair, the 8-sample signature-agreement estimate vs exact Jaccard "
        "with a |err|<=0.35 bound (~sqrt(j(1-j)/8) two-sigma) — the "
        "q_approx_sketches discipline applied to minhash: estimator "
        "drift past its budget hash-mismatches")
def q_minhash_estimate_error(spark, sf_dir):
    sh = _shingles(spark, sf_dir)
    # EXHAUSTIVE pair set (jaccard_pairs), matching the oracle's CTE
    # exactly — not the LSH-pruned candidates, whose recall at this
    # SF/threshold happens to be 100% but is a data-dependent property;
    # the recall dependence stays isolated in q_lsh_recall_check
    exact = dd.jaccard_pairs(sh, threshold=0.6)
    sigs = dd.minhash_signatures(sh)
    a = sigs.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"h{i}").alias(f"a{i}") for i in range(8)])
    b = sigs.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"h{i}").alias(f"b{i}") for i in range(8)])
    agree = sum(F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
                for i in range(8))
    return (exact.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b", "jaccard",
                    (agree / F.lit(8.0)).alias("j_est"))
            .withColumn("within_tol",
                        F.abs(F.col("j_est") - F.col("jaccard")) <= 0.35))


@register(
    "q_lsh_recall_check",
    f"""
    WITH exact_pairs AS ({dd.jaccard_sql(_SHINGLE_CTE, threshold=0.6)}),
    lsh_pairs AS ({dd.lsh_jaccard_sql(_SHINGLE_CTE, threshold=0.6)})
    SELECT (SELECT COUNT(*) FROM exact_pairs) AS n_exact,
           (SELECT COUNT(*) FROM lsh_pairs) AS n_lsh,
           (SELECT COUNT(*) FROM lsh_pairs l
            WHERE EXISTS (SELECT 1 FROM exact_pairs e
                          WHERE e.doc_a = l.doc_a
                            AND e.doc_b = l.doc_b)) AS n_overlap
    FROM (SELECT 1)
    """,
    doc="certified LSH recall: the exhaustive shingle-sharing Jaccard "
        "pair set vs the LSH-pruned one, counted side by side — the "
        "'candidate pruning loses nothing at this threshold' claim as a "
        "hash-checked NUMBER (n_exact = n_lsh = n_overlap at j>=0.6 with "
        "4x2 banding), not a docstring assertion")
def q_lsh_recall_check(spark, sf_dir):
    sh = _shingles(spark, sf_dir)
    exact = dd.jaccard_pairs(sh, threshold=0.6).select("doc_a", "doc_b")
    lsh = _verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_lsh = lsh.agg(F.count(F.lit(1)).alias("n_lsh"))
    n_overlap = (lsh.join(exact, ["doc_a", "doc_b"], "left_semi")
                 .agg(F.count(F.lit(1)).alias("n_overlap")))
    return n_exact.crossJoin(n_lsh).crossJoin(n_overlap)


@register(
    "q_dedup_containment",
    dd.containment_sql(_SHINGLE_CTE, threshold=0.8),
    doc="asymmetric shingle containment |A∩B|/|A|: catches subset "
        "duplication (a doc quoted inside a longer one) that symmetric "
        "Jaccard under-scores; shingle-sharing candidates = exact recall "
        "(LSH would miss low-Jaccard containment by design); directional "
        "rows")
def q_dedup_containment(spark, sf_dir):
    return dd.containment_pairs(_shingles(spark, sf_dir), threshold=0.8)


@register(
    "q_dup_clusters",
    dd.duplicate_clusters_sql(dd.lsh_jaccard_sql(_SHINGLE_CTE, threshold=0.6)),
    doc="duplicate-cluster resolution: connected components over the "
        "LSH->Jaccard near-dup pairs via iterative min-label propagation "
        "(O(diameter) rounds); canonical doc = min id per cluster. Oracle "
        "computes the same closure with a recursive CTE")
def q_dup_clusters(spark, sf_dir):
    return dd.duplicate_clusters(_verified_pairs(spark, sf_dir))


@register(
    "q_dup_cluster_stats",
    f"""
    WITH cl AS ({dd.duplicate_clusters_sql(
        dd.lsh_jaccard_sql(_SHINGLE_CTE, threshold=0.6))}),
    sizes AS (
      SELECT cluster_id, COUNT(*) AS sz FROM cl GROUP BY cluster_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_clustered_docs,
           CAST(MAX(sz) AS BIGINT) AS max_cluster,
           CAST(SUM(CAST(sz AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
             AS mean_cluster
    FROM sizes
    """,
    doc="duplicate-cluster shape report: cluster count, clustered-doc "
        "total, largest cluster, exact-decimal mean size — the dedup "
        "outcome a curation run logs before deciding keep policies; one "
        "agg over the cluster assignment")
def q_dup_cluster_stats(spark, sf_dir):
    cl = dd.duplicate_clusters(_verified_pairs(spark, sf_dir))
    sizes = cl.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    return sizes.agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("sz").cast("long").alias("n_clustered_docs"),
        F.max("sz").cast("long").alias("max_cluster"),
        F.expr("CAST(SUM(CAST(sz AS DECIMAL(28,6))) AS DOUBLE)"
               " / COUNT(*)").alias("mean_cluster"))


@register(
    "q_dedup_keep_canonical",
    f"""
    WITH cl AS ({dd.duplicate_clusters_sql(
        dd.lsh_jaccard_sql(_SHINGLE_CTE, threshold=0.6))})
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM cl WHERE doc_id <> cluster_id)
    """,
    doc="the complete content-dedup pipeline: LSH candidates -> exact "
        "Jaccard verify -> cluster resolution -> drop every non-canonical "
        "member (anti-join); what actually ships to training")
def q_dedup_keep_canonical(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    drop = (dd.duplicate_clusters(_verified_pairs(spark, sf_dir))
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select("doc_id"))
    # No broadcast hint: at real duplicate rates (30%+ of a 100 TB corpus)
    # the drop-set is corpus-scale — let AQE pick broadcast vs shuffle
    # anti-join from the observed size at runtime.
    return (docs.join(drop, "doc_id", "left_anti")
            .select("doc_id", "source", "n_chars"))


@register(
    "q_dedup_keep_best",
    f"""
    WITH cl AS ({dd.duplicate_clusters_sql(
        dd.lsh_jaccard_sql(_SHINGLE_CTE, threshold=0.6))}),
    ranked AS (
      SELECT cl.doc_id,
             ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
                                ORDER BY d.n_chars DESC, cl.doc_id) AS rn
      FROM cl JOIN documents d ON d.doc_id = cl.doc_id
    )
    SELECT doc_id, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
    """,
    doc="QUALITY-AWARE canonical selection: per duplicate cluster keep the "
        "best-scoring member (longest text, id tie-break) instead of the "
        "min id — the curation-realistic variant of q_dedup_keep_canonical; "
        "argmax per cluster via max_by (partial+final agg, no window over "
        "the corpus)")
def q_dedup_keep_best(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    cl = dd.duplicate_clusters(_verified_pairs(spark, sf_dir))
    members = cl.join(docs.select("doc_id", "n_chars"), "doc_id")
    best = (members.groupBy("cluster_id")
            .agg(F.expr("max_by(doc_id, struct(n_chars, -doc_id))")
                 .alias("keep_id")))
    drop = (cl.join(best, "cluster_id")
            .filter(F.col("doc_id") != F.col("keep_id"))
            .select("doc_id"))
    return (docs.join(drop, "doc_id", "left_anti")
            .select("doc_id", "source", "n_chars"))


@register(
    "q_dedup_embed_cosine",
    sim.neardup_pairs_sql("embeddings", threshold=0.3),
    doc="embedding-cosine near-dup pairs: LSH-bucket candidates + exact "
        "cosine threshold (synthetic vectors are random, so 0.3 keeps the "
        "high-similarity tail; real corpora use ~0.95)")
def q_dedup_embed_cosine(spark, sf_dir):
    return sim.neardup_pairs(_emb(spark, sf_dir), threshold=0.3)


# =========================================================================
# Similarity search over embeddings
# =========================================================================

@register(
    "q_embed_cosine_topk",
    sim.brute_force_topk_sql("embeddings", query_id=0, k=10),
    doc="brute-force cosine top-k ANN baseline (broadcast query vector)")
def q_embed_cosine_topk(spark, sf_dir):
    return sim.brute_force_topk(_emb(spark, sf_dir), query_id=0, k=10)


@register(
    "q_embed_lsh_buckets",
    sim.lsh_buckets_sql("embeddings", n_planes=8),
    doc="deterministic random-hyperplane LSH bucket assignment (scale path)")
def q_embed_lsh_buckets(spark, sf_dir):
    return sim.lsh_buckets(_emb(spark, sf_dir), n_planes=8)


@register(
    "q_embed_ivf_cells",
    sim.ivf_assignments_sql("embeddings"),
    doc="IVF cell assignment: deterministic seed centroids, max-cosine "
        "argmax per vector — the centroid-cell ANN scale path beside LSH")
def q_embed_ivf_cells(spark, sf_dir):
    return sim.ivf_assignments(_emb(spark, sf_dir))


@register(
    "q_embed_ivf_topk",
    sim.ivf_topk_sql("embeddings", query_id=0, k=10),
    doc="IVF ANN top-k: exact cosine within the nprobe nearest cells")
def q_embed_ivf_topk(spark, sf_dir):
    return sim.ivf_topk(_emb(spark, sf_dir), query_id=0, k=10)


@register(
    "q_ann_recall_check",
    f"""
    WITH brute AS ({sim.brute_force_topk_sql("embeddings", query_id=0, k=10)}),
    ivf AS ({sim.ivf_topk_sql("embeddings", query_id=0, k=10)})
    SELECT (SELECT COUNT(*) FROM brute) AS n_brute,
           (SELECT COUNT(*) FROM ivf) AS n_ivf,
           (SELECT COUNT(*) FROM ivf i
            WHERE EXISTS (SELECT 1 FROM brute b
                          WHERE b.vec_id = i.vec_id)) AS n_overlap
    FROM (SELECT 1)
    """,
    doc="certified ANN recall@10: exact top-k vs IVF(nprobe) top-k "
        "overlap as a hash-checked count — the measured twin of "
        "tools/recall_probe.py, pinned per round by the driver")
def q_ann_recall_check(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    brute = sim.brute_force_topk(emb, query_id=0, k=10).select("vec_id")
    ivf = sim.ivf_topk(emb, query_id=0, k=10).select("vec_id")
    n_b = brute.agg(F.count(F.lit(1)).alias("n_brute"))
    n_i = ivf.agg(F.count(F.lit(1)).alias("n_ivf"))
    n_o = (ivf.join(brute, "vec_id", "left_semi")
           .agg(F.count(F.lit(1)).alias("n_overlap")))
    return n_b.crossJoin(n_i).crossJoin(n_o)


@register(
    "q_compressed_ann_recall",
    f"""
    WITH brute AS ({sim.brute_force_topk_sql("embeddings", query_id=3, k=10)}),
    mrl AS ({sim.matryoshka_topk_sql("embeddings", query_id=3, k=10,
                                     rerank=20)}),
    bin AS ({sim.binary_hamming_topk_sql("embeddings", query_id=3, k=10)})
    SELECT 'matryoshka_r20' AS method,
           (SELECT COUNT(*) FROM mrl m
            WHERE EXISTS (SELECT 1 FROM brute b
                          WHERE b.vec_id = m.vec_id)) AS n_overlap10
    UNION ALL
    SELECT 'binary_sign',
           (SELECT COUNT(*) FROM bin s
            WHERE EXISTS (SELECT 1 FROM brute b
                          WHERE b.vec_id = s.vec_id))
    """,
    doc="certified recall of the COMPRESSED serving paths vs exact "
        "top-10: Matryoshka (16-dim prefix, rerank 20) and 1-bit sign "
        "signatures, each as a hash-checked overlap count — the "
        "compression-vs-recall trade measured, pinned, and re-verified "
        "per round (synthetic i.i.d. vectors are ANN's adversarial case, "
        "so these are floor numbers)")
def q_compressed_ann_recall(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    brute = sim.brute_force_topk(emb, query_id=3, k=10).select("vec_id")
    mrl = sim.matryoshka_topk(emb, query_id=3, k=10, rerank=20) \
             .select("vec_id")
    binm = sim.binary_hamming_topk(emb, query_id=3, k=10).select("vec_id")
    row_m = (mrl.join(brute, "vec_id", "left_semi")
             .agg(F.count(F.lit(1)).alias("n_overlap10"))
             .select(F.lit("matryoshka_r20").alias("method"), "n_overlap10"))
    row_b = (binm.join(brute, "vec_id", "left_semi")
             .agg(F.count(F.lit(1)).alias("n_overlap10"))
             .select(F.lit("binary_sign").alias("method"), "n_overlap10"))
    return row_m.unionByName(row_b)


@register(
    "q_embed_matryoshka_topk",
    sim.matryoshka_topk_sql("embeddings", query_id=3, k=10),
    doc="Matryoshka two-stage serving (MRL): coarse cosine over the "
        "16-dim prefix (4x-smaller scan) -> 50-candidate exact full-dim "
        "rerank -> top-10; both stages TakeOrderedAndProject")
def q_embed_matryoshka_topk(spark, sf_dir):
    return sim.matryoshka_topk(_emb(spark, sf_dir), query_id=3, k=10)


@register(
    "q_embed_binary_topk",
    sim.binary_hamming_topk_sql("embeddings", query_id=3, k=10),
    doc="1-bit sign-quantized ANN: 64-dim sign signature packed into two "
        "BIGINT halves, Hamming = bit_count(xor) against a broadcast "
        "scalar — integer-exact, 32x smaller than the float scan")
def q_embed_binary_topk(spark, sf_dir):
    return sim.binary_hamming_topk(_emb(spark, sf_dir), query_id=3, k=10)


@register(
    "q_embed_ivf_kmeans",
    # the loop is unrolled to 3 CTE rounds: deterministic seeds +
    # exact-decimal means + 6dp argmax make each round bit-reproducible,
    # so the iterative trainer is value-certified, not just rows-only
    sim.kmeans_ivf_sql("embeddings", k=16, iters=3),
    doc="IVF with TRAINED centroids: 3 Lloyd iterations (broadcast assign "
        "+ partial-aggregated dim means, k*d rows to driver per round), "
        "then the oracled cell-assignment dataflow; oracle = 3 unrolled "
        "CTE rounds")
def q_embed_ivf_kmeans(spark, sf_dir):
    cents, _ = sim.kmeans_fit(spark, _emb(spark, sf_dir), k=16, iters=3,
                              compute_inertia=False)
    return sim.ivf_assignments(_emb(spark, sf_dir), centroids=cents)


@register(
    "q_embed_ann_lsh_topk",
    sim.ann_bucketed_topk_sql("embeddings", query_id=0, k=10),
    doc="LSH-bucketed approximate top-k: exact cosine within query bucket")
def q_embed_ann_lsh_topk(spark, sf_dir):
    return sim.ann_bucketed_topk(_emb(spark, sf_dir), query_id=0, k=10)


# =========================================================================
# Text analysis
# =========================================================================

_QCOLS = ts.quality_sql_columns("text")


@register(
    "q_text_quality",
    f"""
    SELECT doc_id,
           {_QCOLS['n_tokens']} AS n_tokens,
           {_QCOLS['n_distinct_tokens']} AS n_distinct_tokens,
           {_QCOLS['ttr']} AS ttr,
           {_QCOLS['mean_token_len']} AS mean_token_len,
           {_QCOLS['stopword_ratio']} AS stopword_ratio
    FROM documents
    """,
    doc="quality scoring: token counts, type-token ratio, stopword ratio")
def q_text_quality(spark, sf_dir):
    cols = ts.quality_columns("text")
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(n) for n, c in cols.items()])


@register(
    "q_lang_id",
    f"""
    SELECT {ts.lang_guess_sql('text')} AS lang_guess,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_declared_langs
    FROM documents GROUP BY 1
    """,
    doc="heuristic language ID (stopword argmax) + distribution")
def q_lang_id(spark, sf_dir):
    return (_docs(spark, sf_dir)
            .select(ts.lang_guess_expr("text").alias("lang_guess"), "lang")
            .groupBy("lang_guess")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.count_distinct("lang").alias("n_declared_langs")))


@register(
    "q_lang_confusion",
    f"""
    SELECT lang AS declared, {ts.lang_guess_sql('text')} AS guessed,
           COUNT(*) AS n_docs,
           {{ratio}} AS row_share
    FROM documents GROUP BY 1, 2
    """.format(ratio="CAST(FLOOR(COUNT(*) * 1000000.0 / SUM(COUNT(*)) "
                     "OVER (PARTITION BY lang) + 0.5) / 1000000 "
                     "AS DOUBLE)"),
    doc="language-ID confusion matrix (declared lang column vs the "
        "stopword-argmax guess): per (declared, guessed) doc counts and "
        "row-normalized shares — the data-quality diagnostic that "
        "catches BOTH a drifting upstream lang tagger and a broken "
        "heuristic (diagonal mass drops either way). One partial+final "
        "agg; row shares via a window over the TINY confusion matrix, "
        "6dp-floored so the ratio is cross-engine exact")
def q_lang_confusion(spark, sf_dir):
    from pyspark.sql import Window
    d = (_docs(spark, sf_dir)
         .select(F.col("lang").alias("declared"),
                 ts.lang_guess_expr("text").alias("guessed"))
         .groupBy("declared", "guessed")
         .agg(F.count(F.lit(1)).alias("n_docs")))
    tot = Window.partitionBy("declared")
    share = F.expr("CAST(FLOOR(n_docs * 1000000.0 / tot_docs + 0.5) "
                   "/ 1000000 AS DOUBLE)")
    return (d.withColumn("tot_docs", F.sum("n_docs").over(tot))
            .select("declared", "guessed", "n_docs",
                    share.alias("row_share")))


@register(
    "q_token_count",
    r"""
    SELECT doc_id,
           len(string_split(trim(text), ' ')) AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS n_regex_tokens,
           n_chars
    FROM documents
    """,
    doc="token counting: whitespace + BPE-ish regex tokenizer")
def q_token_count(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).alias("n_ws_tokens"),
        ts.regex_token_count("text").alias("n_regex_tokens"),
        "n_chars")


@register(
    "q_repetition_signals",
    ts.repetition_signals_sql("documents"),
    doc="Gopher-style repetition quality rules: top-unigram/bigram mass, "
        "duplicate-trigram fraction — pure per-row HOF projections, zero "
        "shuffles at any scale")
def q_repetition_signals(spark, sf_dir):
    return ts.repetition_signals(_docs(spark, sf_dir))


@register(
    "q_decontaminate",
    dd.contaminated_docs_sql(corpus_where="doc_id >= 20",
                             benchmark_where="doc_id < 20"),
    doc="benchmark decontamination: corpus docs sharing any word 5-gram "
        "with the benchmark set (benchmark n-grams broadcast; corpus side "
        "never self-joins)")
def q_decontaminate(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return dd.contaminated_docs(corpus=docs.filter(F.col("doc_id") >= 20),
                                benchmark=docs.filter(F.col("doc_id") < 20),
                                n=5)


@register(
    "q_contamination_report",
    dd.contamination_report_sql(corpus_where="doc_id >= 20",
                                benchmark_where="doc_id < 20"),
    doc="per-benchmark-doc contamination report (operators/dedup."
        "contamination_report): for each eval item, how many of its "
        "5-grams leak into the corpus and how many corpus docs carry "
        "them — the eval-integrity summary reviewed before trusting a "
        "benchmark number (q_decontaminate answers which CORPUS docs "
        "must go; this answers how compromised each EVAL item is, and "
        "clean items report 0 via the left join, not a missing row). "
        "Benchmark (id, n-gram) pairs broadcast; all aggregation runs "
        "on broadcast-join survivors + a benchmark-sized totals table; "
        "leak_ratio via round6u")
def q_contamination_report(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return dd.contamination_report(
        corpus=docs.filter(F.col("doc_id") >= 20),
        benchmark=docs.filter(F.col("doc_id") < 20), n=5)


# =========================================================================
# Data mixing: deterministic sampling / epoch weighting / token budget
# =========================================================================

_RATES = {"src0": 0.5, "src1": 0.25, "src2": 1.0}
_EPOCHS = {"src0": 2.5, "src3": 0.4}


@register(
    "q_sample_stratified",
    sp.stratified_sample_sql("documents", _RATES, "source"),
    doc="deterministic stratified sampling: per-source keep rates decided "
        "by md5(id) — reproducible on any cluster, no RNG, one narrow "
        "filter (no shuffle)")
def q_sample_stratified(spark, sf_dir):
    return sp.stratified_sample(_docs(spark, sf_dir), _RATES, "source")


@register(
    "q_data_mixture",
    sp.epoch_mixture_sql("documents", _EPOCHS, "source"),
    doc="epoch-weighted data mixture: 2.5 epochs of src0 + 0.4 of src3, "
        "fractional tails as salted deterministic samples, epoch column "
        "keys the replicas")
def q_data_mixture(spark, sf_dir):
    return sp.epoch_mixture(_docs(spark, sf_dir), _EPOCHS, "source")


@register(
    "q_token_budget",
    sp.token_budget_head_sql("documents", budget=20_000,
                             quality_col="n_chars", token_col="n_chars"),
    doc="best-documents-first selection to a 20k-char budget: range-"
        "partitioned two-pass prefix sum — NO single-reducer global window")
def q_token_budget(spark, sf_dir):
    return sp.token_budget_head(_docs(spark, sf_dir), budget=20_000,
                                quality_col="n_chars", token_col="n_chars")


@register(
    "q_curriculum_order",
    sp.curriculum_order_sql(
        "documents", ts.quality_sql_columns()["n_tokens"], n_buckets=10),
    doc="curriculum training manifest (operators/sampling."
        "curriculum_order): every doc's global 1-based training position "
        "under an easy-first curriculum — length-decile bucket ascending "
        "(short-to-long is the classic length curriculum), deterministic "
        "md5 shuffle within each bucket so no model ever sees storage "
        "order. Two scale moves, both certified: decile buckets from an "
        "integer value-HISTOGRAM aggregate broadcast back (never an "
        "ntile window over the corpus), and the global position as "
        "range-partitioned per-partition row_number plus n_ranges driver-"
        "side prefix offsets (the token_budget_head pattern) — pos "
        "depends only on the total order, not on sampled split points. "
        "Oracle computes the identical buckets and ONE global ROW_NUMBER "
        "over the same (bucket, md5, id) order — a boundary or offset "
        "bug anywhere shifts positions and hash-mismatches")
def q_curriculum_order(spark, sf_dir):
    d = _docs(spark, sf_dir).select(
        "doc_id", ts.quality_columns()["n_tokens"].alias("score"))
    return sp.curriculum_order(d, "score", n_buckets=10)


_MULTI_PAIRS_SQL = f"""
    SELECT doc_a, doc_b FROM ({dd.lsh_jaccard_sql(_SHINGLE_CTE, threshold=0.6)})
    UNION
    SELECT id_a AS doc_a, id_b AS doc_b
    FROM ({sim.neardup_pairs_sql("embeddings", threshold=0.3)})
"""


@register(
    "q_dedup_multi_signal",
    dd.duplicate_clusters_sql(_MULTI_PAIRS_SQL),
    doc="multi-signal dedup: text near-dup pairs (LSH->Jaccard) UNION "
        "embedding-cosine near-dup pairs feed ONE cluster closure — "
        "catches paraphrases text shingles miss and template docs "
        "embeddings miss; both candidate generators stay pruned")
def q_dedup_multi_signal(spark, sf_dir):
    text_pairs = _verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    embed_pairs = (sim.neardup_pairs(_emb(spark, sf_dir), threshold=0.3)
                   .select(F.col("id_a").alias("doc_a"),
                           F.col("id_b").alias("doc_b")))
    pairs = text_pairs.unionByName(embed_pairs).distinct()
    return dd.duplicate_clusters(pairs)


@register(
    "q_embed_quantize",
    # qvec serialized to a comma-joined string: the driver's pandas
    # canonicalizer sorts cell values and cannot hash list cells.
    f"SELECT vec_id, scale, array_to_string(qvec, ',') AS qvec_csv "
    f"FROM ({sim.quantize_int8_sql('embeddings')})",
    doc="symmetric per-vector int8 quantization (scale = max|x|/127, "
        "trunc toward zero — identical in both engines): the 4x embedding "
        "storage path; pure projection, no shuffle")
def q_embed_quantize(spark, sf_dir):
    return (sim.quantize_int8(_emb(spark, sf_dir))
            .select("vec_id", "scale",
                    F.array_join("qvec", ",").alias("qvec_csv")))


@register(
    "q_embed_random_projection",
    sim.random_projection_sql("embeddings", k=8),
    doc="Johnson-Lindenstrauss SIGN projection (operators/similarity."
        "random_projection): y_j = sum_i v_i * s(i,j) with s = +/-1 "
        "from md5 parity (Achlioptas 2001) — data-independent "
        "dimension reduction with ZERO shuffle and no trained artifact "
        "(every worker regenerates the matrix from the hash). Products "
        "quantized to the 1e-12 grid and accumulated as BIGINT grid "
        "units (exact integer adds — order-independent and cheaper "
        "than the decimal fold it replaced); output is BIGINT "
        "micro-units, one (vec_id, j) row per output dim")
def q_embed_random_projection(spark, sf_dir):
    return sim.random_projection(_emb(spark, sf_dir), k=8)


_EMB_REF_SQL = "SELECT * FROM embeddings WHERE vec_id % 2 = 0"
_EMB_CUR_SQL = ("SELECT vec_id, label, CASE WHEN label = 3 THEN "
                "list_transform(embedding, x -> -x) ELSE embedding END "
                "AS embedding FROM embeddings WHERE vec_id % 2 = 1")


@register(
    "q_embed_drift",
    sim.embedding_drift_sql(_EMB_REF_SQL, _EMB_CUR_SQL),
    doc="embedding-space drift monitor (operators/similarity."
        "embedding_drift): per-label cosine between two snapshots' "
        "exact-decimal centroids — the vector-column counterpart of "
        "q_psi_drift (a silently retrained embedding model or a rotated "
        "label shows up as centroid_cos dropping from ~1; scalar PSI on "
        "lengths cannot see it). One melt + partial+final decimal mean "
        "per snapshot (label x dim output), label-cardinality centroid "
        "join, labels lost from a snapshot surface as NULL cosine via "
        "the full outer join. Fixture negates label 3's current-half "
        "vectors, so exactly one label reads centroid_cos = -1 while "
        "the rest sit near +1")
def q_embed_drift(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    ref = emb.filter(F.col("vec_id") % 2 == 0)
    cur = (emb.filter(F.col("vec_id") % 2 == 1)
           .select("vec_id", "label",
                   F.when(F.col("label") == 3,
                          F.expr("transform(embedding, x -> -x)"))
                   .otherwise(F.col("embedding")).alias("embedding")))
    return sim.embedding_drift(ref, cur)


from ..operators.conform import (corpus_manifest,  # noqa: E402
                                 corpus_manifest_sql, psi_drift,
                                 psi_drift_sql)


@register(
    "q_corpus_manifest",
    corpus_manifest_sql("documents"),
    doc="order-independent corpus fingerprint (operators/conform."
        "corpus_manifest): per-source row count + XOR of per-row 32-bit "
        "md5 chunks, twice — id-bound (detects id remaps and row edits) "
        "and content-only (stable across re-keying) — the artifact two "
        "pipeline runs on different clusters compare to prove they "
        "shipped the SAME corpus without sorting or diffing a row. XOR "
        "is commutative/associative so the checksum is invariant to row "
        "order, partition layout and cluster size, and group checksums "
        "XOR-combine into the corpus checksum; one partial+final agg, "
        "bytes-in to three-numbers-out at any scale")
def q_corpus_manifest(spark, sf_dir):
    return corpus_manifest(_docs(spark, sf_dir))

_PSI_REF_SQL = "SELECT * FROM documents WHERE doc_id < 400"
_PSI_CUR_SQL = ("SELECT doc_id, source, n_chars + CASE WHEN source = "
                "'src3' THEN 200 ELSE 0 END AS n_chars "
                "FROM documents WHERE doc_id >= 400")


@register(
    "q_psi_drift",
    psi_drift_sql(_PSI_REF_SQL, _PSI_CUR_SQL),
    doc="PSI distribution-drift monitor between corpus snapshots "
        "(operators/conform.psi_drift): per-source Population Stability "
        "Index of the length distribution — THE production drift gate "
        "(<0.1 stable, >0.25 broken); a crawl source whose lengths "
        "shift under you is how silent corpus regressions ship. Bin "
        "edges from the REFERENCE's value histogram via the repo's "
        "explicit integer-index quantile rule (value-cardinality agg, "
        "never a corpus sort), 9-edge array broadcast into narrow "
        "binning on both snapshots, add-one smoothing on empty cells, "
        "per-bin (q-p)·ln(q/p) terms 6dp-floor-quantized and decimal-"
        "summed (the lm ln discipline — one dual-dialect snippet). "
        "Fixture shifts src3's current snapshot by +200 chars, so "
        "exactly one source crosses the drift threshold")
def q_psi_drift(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") < 400)
    cur = (docs.filter(F.col("doc_id") >= 400)
           .select("doc_id", "source",
                   (F.col("n_chars")
                    + F.when(F.col("source") == "src3", 200)
                    .otherwise(0)).alias("n_chars")))
    return psi_drift(ref, cur)


@register(
    "q_text_nfc",
    """
    WITH planted AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769)
                          WHEN doc_id % 3 = 1 THEN ' A' || chr(778)
                          ELSE ' plain' END AS txt
      FROM documents)
    SELECT doc_id, md5(nfc_normalize(txt)) AS nfc_md5,
           CAST(length(txt) - length(nfc_normalize(txt)) AS BIGINT)
             AS n_composed
    FROM planted
    """,
    doc="Unicode NFC normalization (functions/text_codec.nfc_normalize):"
        " canonical composition so the two spellings of cafe+ACCENT are "
        "byte-identical before any md5-keyed dedup — without it, exact/"
        "normalized dedup silently treats canonical-equivalent texts as "
        "distinct docs (real in multi-source crawls, invisible to ASCII "
        "fixtures). No JVM NFC builtin exists, so this is the third "
        "sanctioned Arrow-batched Python stage; certified against "
        "DuckDB's OWN nfc_normalize — independent implementations that "
        "must agree byte-for-byte (plants decomposed e+U+0301 and "
        "A+U+030A on 2/3 of rows; n_composed pins the char-count "
        "change, md5 pins the bytes)")
def q_text_nfc(spark, sf_dir):
    from ..functions.text_codec import nfc_normalize
    plant = F.concat(
        F.col("text"),
        # decomposed on purpose (e + U+0301, A + U+030A): NFC must
        # compose them; a precomposed literal would certify a no-op
        F.when(F.col("doc_id") % 3 == 0, F.lit(" cafe\u0301"))
        .when(F.col("doc_id") % 3 == 1, F.lit(" A\u030a"))
        .otherwise(F.lit(" plain")))
    d = _docs(spark, sf_dir).select("doc_id", plant.alias("txt"))
    nfc = nfc_normalize("txt")
    return d.select("doc_id", F.md5(nfc).alias("nfc_md5"),
                    (F.length("txt") - F.length(nfc)).cast("long")
                    .alias("n_composed"))


_CARD_PLANT_SQL = (
    "text || CASE WHEN doc_id % 5 = 0 THEN ' card 4111' || "
    "CASE WHEN doc_id % 2 = 0 THEN ' 1111 1111 1111' "
    "ELSE '-1111-1111-1111' END "
    "WHEN doc_id % 5 = 1 THEN ' card 4111111111111112' "
    "WHEN doc_id % 5 = 3 THEN ' card 5500 0000 0000 0004' "
    "ELSE '' END || ' ref 12345'")

_CARD_SQL = ts.card_sql_columns("txt")


@register(
    "q_card_redact",
    f"""
    WITH planted AS (SELECT doc_id, {_CARD_PLANT_SQL} AS txt
                     FROM documents)
    SELECT doc_id, {_CARD_SQL['n_card_candidates']} AS n_card_candidates,
           {_CARD_SQL['n_cards_valid']} AS n_cards_valid,
           md5({_CARD_SQL['redacted']}) AS redacted_md5
    FROM planted
    """,
    doc="checksum-validated payment-card redaction (operators/textstats."
        "card_columns): 13-19-digit candidate runs from ONE regexp pass, "
        "each Luhn-validated by an indexed array-HOF fold (d*2-9 "
        "identity, pure INT — Spark div promotes the fold accumulator "
        "to BIGINT and fails analysis), and only VALIDATING runs are "
        "masked — the precision upgrade over pattern-only PII: order "
        "ids and tracking numbers stop being destructive false "
        "redactions. Narrow projection, no shuffle. Fixture plants a "
        "valid Visa test number (separator varies by parity), an "
        "invalid near-miss (must count as candidate, never mask), a "
        "valid Mastercard, and a short digit run that must not even be "
        "a candidate; masked text md5-matches value-for-value")
def q_card_redact(spark, sf_dir):
    plant = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(" card 4111"),
                        F.when(F.col("doc_id") % 2 == 0,
                               F.lit(" 1111 1111 1111"))
                        .otherwise(F.lit("-1111-1111-1111"))))
        .when(F.col("doc_id") % 5 == 1, F.lit(" card 4111111111111112"))
        .when(F.col("doc_id") % 5 == 3,
              F.lit(" card 5500 0000 0000 0004"))
        .otherwise(F.lit("")),
        F.lit(" ref 12345"))
    cols = ts.card_columns("txt")
    return (_docs(spark, sf_dir).select("doc_id", plant.alias("txt"))
            .select("doc_id",
                    cols["n_card_candidates"].alias("n_card_candidates"),
                    cols["n_cards_valid"].alias("n_cards_valid"),
                    F.md5(cols["redacted"]).alias("redacted_md5")))



_PII_PLANT_SQL = (
    "text || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || doc_id || "
    "'@example.com or +1 (555) 123-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END")

_PII_SQL = ts.pii_sql_columns("txt")


@register(
    "q_pii_redact",
    f"""
    WITH planted AS (SELECT doc_id, {_PII_PLANT_SQL} AS txt FROM documents)
    SELECT doc_id, {_PII_SQL['n_emails']} AS n_emails,
           {_PII_SQL['n_phones']} AS n_phones,
           md5({_PII_SQL['redacted']}) AS redacted_md5
    FROM planted
    """,
    doc="PII scan + redaction: email/phone detection and masking as pure "
        "regexp projections (Java-regex/RE2-common subset). The synthetic "
        "corpus has no PII, so the query plants deterministic contact "
        "strings on doc_id%7==0 rows in BOTH engines — positives are real "
        "and the masked text md5-matches value-for-value")
def q_pii_redact(spark, sf_dir):
    plant = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com or +1 (555) 123-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0")))
        .otherwise(F.lit("")))
    cols = ts.pii_columns("txt")
    return (_docs(spark, sf_dir).select("doc_id", plant.alias("txt"))
            .select("doc_id",
                    cols["n_emails"].alias("n_emails"),
                    cols["n_phones"].alias("n_phones"),
                    F.md5(cols["redacted"]).alias("redacted_md5")))


# =========================================================================
# Multimodal plumbing (Arrow-batched mapInPandas; decode stubbed)
# =========================================================================

@register(
    "q_multimodal_features",
    """
    SELECT doc_id,
           'image' AS media_type,
           strlen(text) AS n_bytes,
           list_sum(list_transform(generate_series(1, least(strlen(text), 256)),
                    i -> ord(substring(text, i, 1)))) * 1.0
             / least(strlen(text), 256) AS byte_mean,
           CAST(list_sum(list_transform(generate_series(1, least(strlen(text), 256)),
                    i -> ord(substring(text, i, 1)))) % 17 AS INTEGER)
             AS byte_entropy_q
    FROM documents
    """,
    doc="multimodal: binary payload + typed meta -> Arrow-batched mapInPandas "
        "feature extraction (decode stubbed; oracle recomputes the fake "
        "features in SQL, proving the Python batch stage)")
def q_multimodal_features(spark, sf_dir):
    from ..operators import multimodal as mm
    media = mm.synthesize_media_from_documents(_docs(spark, sf_dir))
    return mm.extract_features(media)


@register(
    "q_media_meta",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END
             AS media_type,
           CASE WHEN doc_id % 2 = 1 THEN 'wav'
                WHEN doc_id % 4 = 2 THEN 'png'
                WHEN doc_id % 8 = 0 THEN 'jpeg-progressive'
                ELSE 'jpeg-baseline' END AS codec,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(doc_id % 512 + 16 AS INTEGER) END AS width,
           CASE WHEN doc_id % 2 = 0
                THEN CAST(doc_id % 256 + 16 AS INTEGER) END AS height,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(8000 + (doc_id % 5) * 8000 AS INTEGER) END
             AS sample_rate,
           CASE WHEN doc_id % 2 = 1
                THEN CAST(1 + (doc_id // 2) % 2 AS INTEGER) END AS channels,
           CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS bit_depth,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 36
                     WHEN doc_id % 4 = 2 THEN 33
                     WHEN doc_id % 16 = 4 THEN 48
                     ELSE 41 END AS BIGINT) AS n_bytes
    FROM documents
    """,
    doc="REAL media header decode, certified: JVM-side hex/unhex plants "
        "valid PNG IHDR / JPEG SOI+APP0+SOF0/SOF2 / RIFF-WAVE fmt headers "
        "with doc_id-derived dimensions; the Arrow mapInPandas stage "
        "parses them back with stdlib struct (big-endian PNG u32s, JPEG "
        "marker-segment scan with height-before-width u16s, little-endian "
        "WAV u16/u32, chunk scan with pad bytes); the oracle recomputes "
        "the planted values arithmetically — a byte-order, offset, or "
        "segment-skip bug in the parser hash-mismatches (builder and "
        "parser never share code)")
def q_media_meta(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.extract_media_meta(mm.synthesize_planted_media(docs))


def _planted_pgm_hashes(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.image_dhash(mm.synthesize_planted_pgm(docs))


from ..operators.multimodal import (  # noqa: E402
    planted_jpeg_dhash_sql, planted_pgm_dhash_sql,
    planted_pgm_incremental_sql, planted_pgm_neardup_sql,
    planted_pgm_stats_sql, planted_wav_stats_sql)


@register(
    "q_audio_stats",
    planted_wav_stats_sql("documents"),
    doc="REAL PCM amplitude statistics (operators/multimodal."
        "audio_sample_stats): planted 16-bit mono WAVs carry an actual "
        "data chunk (JVM-side two's-complement little-endian assembly); "
        "the Arrow stage walks the RIFF chunks and struct-unpacks the "
        "samples — min/max, integer energy (sum of squares) and mean "
        "amplitude, the silence/clipping/DC-offset features an audio "
        "curation pass gates on; oracle regenerates every sample "
        "arithmetically (builder and parser never share code)")
def q_audio_stats(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.audio_sample_stats(mm.synthesize_planted_wav_pcm(docs))


from ..operators.multimodal import planted_ppm_dhash_sql  # noqa: E402


@register(
    "q_image_phash_ppm",
    planted_ppm_dhash_sql("documents"),
    doc="perceptual hashing over COLOR images — binary P6 PPM decoded "
        "to ITU-R BT.601 integer luma ((299R+587G+114B)//1000, "
        "bit-reproducible, no float matmul) before the shared dHash; "
        "the odd-id perturbation rides the green (luma-heavy) channel "
        "so planted near-dup pairs survive the reduction. Oracle "
        "regenerates all three channels arithmetically and reduces "
        "with the same integer luma — a channel-order or rounding bug "
        "on either side hash-mismatches")
def q_image_phash_ppm(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.image_dhash(mm.synthesize_planted_ppm(docs))


from ..operators.multimodal import planted_g711_stats_sql  # noqa: E402


@register(
    "q_audio_g711_stats",
    planted_g711_stats_sql("documents"),
    doc="G.711 telephony audio decode (multimodal._ulaw2lin/_alaw2lin): "
        "the 8 kHz µ-law/A-law WAVs contact-center call recordings "
        "actually ship, expanded by the CCITT companding formulas "
        "(bit-validated against stdlib audioop across all 256 bytes in "
        "the unit test) inside the same RIFF walk and amplitude-stats "
        "stage as PCM; format tag 7 on odd ids, 6 on even, so both "
        "expansions run. Oracle regenerates companded bytes "
        "arithmetically and expands them with the same formulas in SQL "
        "— a companding-table bug on either side hash-mismatches")
def q_audio_g711_stats(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.audio_sample_stats(mm.synthesize_planted_g711_wav(docs))


from ..operators.multimodal import (  # noqa: E402
    planted_mp3_meta_sql, planted_wav_fp_sql, planted_wav_neardup_sql)


@register(
    "q_mp3_meta",
    planted_mp3_meta_sql("documents"),
    doc="REAL MPEG-1 Layer III frame walk (operators/multimodal."
        "extract_mp3_meta) — the audio container #2, the MP4-box-walk "
        "analogue: each frame's byte length derives from its OWN header "
        "(144*bitrate/samplerate + padding, ISO 11172-3), so a wrong "
        "table entry or missed padding bit desynchronizes the hop and "
        "the stream drops. Planted fixtures mix padded/unpadded frames "
        "per stream and a quarter carry a leading ID3v2 tag the walker "
        "must synchsafe-skip; emits frame count, rates and exact "
        "integer duration. Oracle regenerates all fields arithmetically")
def q_mp3_meta(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.extract_mp3_meta(mm.synthesize_planted_mp3(docs))


@register(
    "q_audio_fingerprint",
    planted_wav_fp_sql("documents"),
    doc="acoustic perceptual fingerprint (operators/multimodal."
        "audio_fingerprint): planted 256-sample PCM pairs are REALLY "
        "decoded (RIFF walk + int16 unpack) and folded into a 63-bit "
        "energy-delta fingerprint — 64 exact integer frame energies, "
        "bit f = energy[f] > energy[f+1], the Haitsma–Kalker/"
        "Chromaprint delta-coding shape minus the FFT (time-domain "
        "frame energy stands in for band energy; no scipy in the "
        "stack). Pure integers end to end, bit-reproducible on any "
        "worker; oracle regenerates frame energies from the planting "
        "formula, never from bytes")
def q_audio_fingerprint(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.audio_fingerprint(mm.synthesize_planted_wav_pairs(docs))


@register(
    "q_audio_neardup",
    planted_wav_neardup_sql("documents", max_hamming=3),
    doc="audio NEAR-DUP pairs — the acoustic member of the perceptual "
        "dedup family: 63-bit energy-delta fingerprints from really-"
        "decoded planted PCM pairs (odd ids perturb ONE sample of the "
        "page's waveform -> one frame energy moves -> hamming <= 2 by "
        "construction) fed through the SAME pigeonhole banding as text "
        "SimHash and image dHash via dedup.banded_hamming_pairs "
        "(4 x 16-bit bands, exact for hamming <= 3, max_bucket star "
        "fallback); oracle recomputes fingerprints arithmetically and "
        "bands them relationally")
def q_audio_neardup(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    fps = mm.audio_fingerprint(mm.synthesize_planted_wav_pairs(docs))
    return dd.banded_hamming_pairs(fps, sig_col="fp", n_bands=4,
                                   band_bits=16, max_hamming=3)


from ..sources.webdataset import planted_wds_pairs_sql  # noqa: E402


@register(
    "q_webdataset_pairs",
    planted_wds_pairs_sql("documents"),
    doc="WebDataset shard ingestion (sources/webdataset."
        "webdataset_pairs) — the de-facto multimodal training layout "
        "(LAION-style .tar shards pairing <stem>.jpg + <stem>.txt): a "
        "REAL ustar offset walk (octal sizes, VERIFIED header "
        "checksums, 512-padded bodies) over shards written by stdlib "
        "tarfile (independent writer vs hand-rolled reader), stem "
        "pairing, caption decode, and the certified DC-only JPEG "
        "entropy decode + integer dHash attached at ingest so "
        "downstream image dedup never re-opens the shard. Oracle "
        "regenerates captions as string arithmetic and hashes from "
        "the 'w:'-salted block constants, never touching tar bytes")
def q_webdataset_pairs(spark, sf_dir):
    from ..sources import webdataset as wds
    docs = _docs(spark, sf_dir).select("doc_id")
    return wds.webdataset_pairs(wds.synthesize_planted_webdataset(docs))


from ..sources.ziparchive import planted_zip_members_sql  # noqa: E402


@register(
    "q_zip_members",
    planted_zip_members_sql("documents"),
    doc="ZIP archive ingestion (sources/ziparchive.zip_members) — the "
        "PKZIP container ad-hoc dataset drops ship in: a REAL "
        "EOCD → central-directory → local-header walk (the central "
        "entries are authoritative for method/sizes/CRC; local-header "
        "front-to-back scans break on streaming writers and prefixed "
        "archives) with raw-DEFLATE inflation, CRC-32 + size "
        "verification, and a zip-bomb inflation cap, over archives "
        "written by the independent stdlib zipfile writer — STORED on "
        "even ids, DEFLATED on odd, so both data paths decode. Oracle "
        "regenerates member names, methods, sizes, and bodies as "
        "string arithmetic, never touching archive bytes")
def q_zip_members(spark, sf_dir):
    from ..sources import ziparchive as za
    docs = _docs(spark, sf_dir).select("doc_id")
    return za.zip_members(za.synthesize_planted_zips(docs))


from ..sources.webdataset import _WDS_V_DUCK  # noqa: E402

_WDS_GATE_V = _WDS_V_DUCK.format(did="(m.doc_id % 10000000)",
                                 bx="g.bx", by="g.by")


@register(
    "q_stream_wds_gate",
    f"""
    WITH ids AS (
      SELECT doc_id FROM documents
      UNION ALL
      SELECT doc_id + 10000000 FROM documents WHERE doc_id % 4 = 0
    ),
    blocks AS (
      SELECT m.doc_id, g.bx, g.by, {_WDS_GATE_V} AS v
      FROM ids m,
           LATERAL (SELECT unnest(generate_series(0, 65)) AS i) n,
           LATERAL (SELECT n.i % 11 AS bx, n.i // 11 AS by) g
    ),
    sigs AS (
      SELECT a.doc_id,
             CAST(SUM(CASE WHEN a.v > b.v
                      THEN CAST(pow(2, a.by * 10 + a.bx) AS BIGINT)
                      ELSE 0 END) AS BIGINT) AS simhash
      FROM blocks a JOIN blocks b
        ON a.doc_id = b.doc_id AND a.by = b.by AND b.bx = a.bx + 1
      WHERE a.bx < 10
      GROUP BY a.doc_id
    ),
    melted AS (
      SELECT doc_id, simhash, b AS band,
             (simhash // CAST(pow(32768, b) AS BIGINT)) % 32768 AS nib
      FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS doc_b
      FROM melted a JOIN melted b
        ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
    )
    SELECT s.doc_id, s.doc_id IN (SELECT doc_b FROM cand) AS is_dup
    FROM sigs s
    """,
    doc="streaming WebDataset intake + image near-dup gate run to "
        "completion (streaming/stream.wds_gate_stream, availableNow): "
        ".tar shards land in a directory, the verified ustar walk + "
        "JPEG entropy decode + dHash run statelessly per micro-batch, "
        "and the shared first-owner band gate flags duplicate images "
        "AT INGEST — every 4th sample is re-exported under an offset "
        "sample id with an identical image (the duplicate-delivery "
        "case a real exporter produces), so the positive path is "
        "planted, not incidental. One stateful op, state band-"
        "vocabulary-sized; oracle spells shards' union + banding "
        "relationally")
def q_stream_wds_gate(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_wds_gate_batch
    ckpt = tempfile.mkdtemp(prefix="q_stream_wds_gate_ckpt_")
    landing = tempfile.mkdtemp(prefix="q_stream_wds_gate_landing_")
    return run_wds_gate_batch(spark, sf_dir, ckpt, landing)


from ..operators.multimodal import planted_mp4_meta_sql  # noqa: E402


@register(
    "q_video_meta",
    planted_mp4_meta_sql("documents"),
    doc="REAL ISO-BMFF (MP4) container walk (operators/multimodal."
        "extract_video_meta): planted minimal MP4s — ftyp + moov "
        "holding a 'free' sibling the walk must SKIP plus a spec-shaped "
        "108-byte mvhd v0 — parsed by box-size offsets (a declared size "
        "overrunning the buffer stops the walk, never mis-slices); "
        "emits brand, timescale, duration ticks and seconds. Completes "
        "the multimodal decode triple: image pixels, audio samples, "
        "video container; oracle regenerates all fields arithmetically")
def q_video_meta(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.extract_video_meta(mm.synthesize_planted_mp4(docs))


from ..operators.multimodal import (  # noqa: E402
    planted_mjpeg_hash_sql, planted_mjpeg_neardup_sql)


@register(
    "q_video_frame_hashes",
    planted_mjpeg_hash_sql("documents"),
    doc="frame-sampled video perceptual hashing (operators/multimodal."
        "video_frame_hashes): planted MJPEG-in-MP4 videos — ftyp + "
        "moov(trak>mdia>minf>stbl{stsd,stts,stsc,stsz,stco}) + mdat "
        "holding 3 DC-only baseline JPEG frames at stco's ABSOLUTE file "
        "offsets. The Arrow stage REALLY walks the sample table (stsz "
        "sizes + stco offsets, size-guarded), entropy-decodes each "
        "frame with the certified JPEG decoder and dHashes the pixels "
        "with the same integer arithmetic as the image family; oracle "
        "regenerates every 8x8 block constant from the md5 planting "
        "formula ('v:' salt), never touching bytes")
def q_video_frame_hashes(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.video_frame_hashes(mm.synthesize_planted_mjpeg(docs))


@register(
    "q_video_frag_hashes",
    planted_mjpeg_hash_sql("documents"),
    doc="FRAGMENTED-MP4 frame hashing (operators/multimodal."
        "_parse_fragment_samples): the same planted frames re-shipped "
        "in the DASH/CMAF layout — moov carries mvex>trex but NO "
        "stsz/stco, each frame arrives as moof(mfhd + traf{tfhd, "
        "trun}) + mdat with moof-relative trun data offsets; the three "
        "fragments resolve their sample size via the per-sample trun "
        "table, tfhd's default_sample_size, and the trex default "
        "respectively, so every resolution branch is certified. "
        "Because the frames are bit-identical to q_video_frame_hashes' "
        "progressive fixture, the SAME md5-regenerating oracle covers "
        "both containers — a fragment-walk bug hash-mismatches")
def q_video_frag_hashes(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.video_frame_hashes(mm.synthesize_planted_fmp4(docs))


@register(
    "q_video_neardup",
    planted_mjpeg_neardup_sql("documents", max_total_hamming=4),
    doc="video NEAR-DUP pairs — total frame-aligned Hamming distance "
        "over per-frame perceptual hashes (operators/multimodal."
        "video_neardup): odd ids brighten ONE block of ONE frame, a "
        "planted near-dup video pair at total distance <= 2. Candidates "
        "from pigeonhole banding per (frame, band) — a pair within "
        "total T=4 over 3 frames has a frame within hamming 1, which "
        "shares a 15-bit band — then the exact total runs only on "
        "band-colliding pairs (star-fallback bucket cap as everywhere); "
        "oracle spells the same banding + frame-aligned sum "
        "relationally")
def q_video_neardup(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    hashes = mm.video_frame_hashes(mm.synthesize_planted_mjpeg(docs))
    return mm.video_neardup(hashes, max_total_hamming=4)


@register(
    "q_video_dup_clusters",
    dd.duplicate_clusters_sql(
        f"SELECT doc_a, doc_b FROM ({planted_mjpeg_neardup_sql('documents', max_total_hamming=4)})"),
    doc="video near-dup CLUSTER resolution — the frame-hash pairs fed "
        "through the same pointer-jumping min-label resolver the text "
        "and image dedup families use (dedup.duplicate_clusters, "
        "O(log diameter) rounds with lineage cuts): (doc_id, "
        "cluster_id) per video appearing in any pair, canonical = min "
        "id; oracle walks the transitive closure with a recursive CTE")
def q_video_dup_clusters(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    hashes = mm.video_frame_hashes(mm.synthesize_planted_mjpeg(docs))
    pairs = mm.video_neardup(hashes, max_total_hamming=4)
    return dd.duplicate_clusters(pairs)


from ..operators import feature_hash as fh  # noqa: E402
from ..sources import warc as wc  # noqa: E402


@register(
    "q_text_hash_embed",
    fh.text_hash_embed_sql("documents", dim=64, n=3),
    doc="signed feature-hashing text embeddings (Weinberger 2009; "
        "operators/feature_hash.text_hash_embed): char 3-grams hash "
        "into 64 signed slots (md5 slot + parity sign — the "
        "deterministic-coin pattern), L2-normalized — a zero-model "
        "text->vector bridge to the ANN family. One narrow explode + "
        "one uniform (doc, slot) agg + a per-doc norm reduce; sqrt and "
        "one division are the only floats, both correctly-rounded "
        "IEEE, weights 6dp-quantized")
def q_text_hash_embed(spark, sf_dir):
    return fh.text_hash_embed(_docs(spark, sf_dir), dim=64, n=3)


@register(
    "q_text_embed_neighbors",
    fh.hash_embed_neighbors_sql("documents", query_id=0, k=10,
                                dim=64, n=3),
    doc="zero-model text-similarity search: top-10 cosine neighbors of "
        "doc 0 under the hashed embeddings — sparse dot products "
        "joining on the slot index (query side a <=dim-row broadcast), "
        "12dp-quantized product terms decimal-summed "
        "(order-independent), TakeOrderedAndProject top-k on a total "
        "order (sim DESC, id)")
def q_text_embed_neighbors(spark, sf_dir):
    emb = fh.text_hash_embed(_docs(spark, sf_dir), dim=64, n=3)
    return fh.hash_embed_neighbors(emb, query_id=0, k=10)


_LI_TERMS = ("vector", "stream", "join", "window")


@register(
    "q_late_interaction_topk",
    fh.late_interaction_topk_sql("documents", _LI_TERMS, k=10,
                                 dim=64, n=3),
    doc="ColBERT-style LATE-INTERACTION retrieval (operators/"
        "feature_hash.late_interaction_topk): score = sum over query "
        "terms of MAX over the doc's tokens of cos(term, token) — "
        "per-term soft matching on zero-model hashing-trick token "
        "embeddings (Khattab & Zaharia 2020 re-expressed without a "
        "model). Token embeddings computed on the DISTINCT vocabulary "
        "(replication-flat); query side a <=|terms|*dim-row broadcast; "
        "(term, token) candidates share >=1 hash slot — the "
        "inverted-index pruning real late-interaction serving does. "
        "Per-(doc, term) maxima quantize to BIGINT micro-units before "
        "the integer score sum (order-independent cross-engine); "
        "completes the retrieval family: BM25 (lexical), dense cosine, "
        "RRF hybrid, late interaction")
def q_late_interaction_topk(spark, sf_dir):
    return fh.late_interaction_topk(_docs(spark, sf_dir), _LI_TERMS,
                                    k=10, dim=64, n=3)


@register(
    "q_li_recall_check",
    f"""
    WITH li AS ({fh.late_interaction_topk_sql("documents", _LI_TERMS,
                                              k=10, dim=64, n=3)}),
    exact AS ({fh.hash_embed_query_topk_sql("documents",
                                            " ".join(_LI_TERMS),
                                            k=10, dim=64, n=3)})
    SELECT (SELECT COUNT(*) FROM li) AS n_li,
           (SELECT COUNT(*) FROM exact) AS n_exact,
           (SELECT COUNT(*) FROM li i
            WHERE EXISTS (SELECT 1 FROM exact e
                          WHERE e.doc_id = i.doc_id)) AS n_overlap
    FROM (SELECT 1)
    """,
    doc="certified late-interaction recall: overlap of the MaxSim "
        "top-10 (q_late_interaction_topk) against the exact whole-doc "
        "cosine top-10 for the SAME query text (operators/feature_hash."
        "hash_embed_query_topk — the terms joined as one string through "
        "the identical hash-embed pipeline), as hash-checked counts — "
        "the q_ann_recall_check / q_compressed_ann_recall counted-"
        "overlap certification the retrieval family's newest member "
        "was missing; per-term soft matching and whole-doc pooling "
        "legitimately rank differently, so the pinned number is the "
        "measured agreement, re-verified every round")
def q_li_recall_check(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # NOTE (r10, measured): each top-10 frame is referenced twice below
    # (its own count + the semi-join), but ReuseExchange already dedupes
    # the repeated shuffle subtrees — an eager localCheckpoint of the
    # 10-row frames was TRIED and made the query SLOWER (8.2 s vs 7.1 s
    # warm at sf0.1), so the plan stays declarative. The two retrieval
    # pipelines (token-level MaxSim vs whole-doc hash embed) share no
    # subtree with each other by construction.
    li = (fh.late_interaction_topk(docs, _LI_TERMS, k=10, dim=64, n=3)
          .select("doc_id"))
    exact = (fh.hash_embed_query_topk(docs, " ".join(_LI_TERMS),
                                      k=10, dim=64, n=3)
             .select("doc_id"))
    n_l = li.agg(F.count(F.lit(1)).alias("n_li"))
    n_e = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    n_o = (li.join(exact, "doc_id", "left_semi")
           .agg(F.count(F.lit(1)).alias("n_overlap")))
    return n_l.crossJoin(n_e).crossJoin(n_o)


@register(
    "q_li_from_index",
    fh.late_interaction_topk_sql("documents", _LI_TERMS, k=10,
                                 dim=64, n=3),
    doc="late interaction served from the PERSISTED index (operators/"
        "feature_hash.build_li_index: distinct doc-token projection + "
        "vocabulary token embeddings, both bucketed by token — r11 "
        "VERDICT #3's build-once/serve-many treatment, the BM25 "
        "q_bm25_from_index lifecycle applied to the retrieval family's "
        "newest member): serving embeds only the query terms, "
        "slot-joins the persisted vocabulary embeddings (the sims "
        "groupBy rides the tok bucketing — no exchange), broadcasts "
        "the vocabulary-bounded sims into the persisted doc-token "
        "scan and aggregates — ZERO corpus-text work at serve time. "
        "Measured honestly at sf0.1: serve 1.7 s vs 1.5 s inline — the "
        "final doc-token aggregation dominates at this SF and is "
        "identical in both paths; what the index removes (tokenize + "
        "vocabulary embed, ~0.3 s here) is the part that scales with "
        "RAW TEXT volume, so the lifecycle pays off exactly where the "
        "100 TB corpus is text-heavy and queried repeatedly. Certified "
        "against the SAME oracle as q_late_interaction_topk")
def q_li_from_index(spark, sf_dir):
    import tempfile

    idx = tempfile.mkdtemp(prefix="q_li_idx_")
    fh.build_li_index(_docs(spark, sf_dir), "q_li_idx", n_buckets=16,
                      dim=64, n=3, path=idx)
    return fh.late_interaction_from_index(spark, "q_li_idx", _LI_TERMS,
                                          k=10, dim=64, n=3)


@register(
    "q_warc_records",
    wc.planted_warc_records_sql("documents", per_chunk=10),
    doc="WARC (ISO 28500) web-archive ingestion (sources/warc.py): "
        "valid multi-record chunks are assembled JVM-side (one HTTP "
        "response record per document, the document's own text as the "
        "body, 10 records per chunk) and the Arrow mapInPandas stage "
        "REALLY walks the container — version line, header block, "
        "Content-Length payload slice, CRLFCRLF frame — then parses "
        "the inner HTTP message; splitting on separators would "
        "mis-slice bodies, so the offset walk is the only correct "
        "parse. Oracle regenerates every field arithmetically "
        "(builder and parser never share code); the 100 TB shape is "
        "one chunk per binaryFile row, embarrassingly parallel")
def q_warc_records(spark, sf_dir):
    chunks = wc.synthesize_planted_warc(
        _docs(spark, sf_dir).select("doc_id", "text"), per_chunk=10)
    return wc.parse_warc_records(chunks)


@register(
    "q_warc_gz_records",
    wc.planted_warc_records_sql("documents", per_chunk=10),
    doc="compressed web-archive ingestion (sources/warc."
        "synthesize_planted_warc_gz + gunzip_members): the SAME planted "
        "records shipped the way CommonCrawl publishes them — "
        "PER-RECORD gzip members concatenated into one .warc.gz blob. "
        "The reader walks the member chain with stdlib zlib "
        "(decompressobj unused_data hops — searching for magic bytes "
        "would misfire on 0x1f8b inside compressed data), then the "
        "certified Content-Length record walk runs on the inflated "
        "bytes. THE ORACLE IS THE PLAIN-WARC SQL UNCHANGED: compression "
        "must be transparent, so the gzip walk is certified "
        "byte-for-byte against the uncompressed family")
def q_warc_gz_records(spark, sf_dir):
    chunks = wc.synthesize_planted_warc_gz(
        _docs(spark, sf_dir).select("doc_id", "text"), per_chunk=10)
    return wc.parse_warc_records(chunks)


@register(
    "q_warc_domain_stats",
    wc.planted_warc_domain_stats_sql("documents"),
    doc="ingest-to-analyze composition over parsed WARC records "
        "(sources/warc.warc_domain_stats): per-host page counts and "
        "byte/token volume from really-parsed archive chunks — the "
        "first report a crawl operator reads after an archive lands; "
        "one hash aggregation over host-cardinality keys, oracle "
        "regenerated arithmetically")
def q_warc_domain_stats(spark, sf_dir):
    chunks = wc.synthesize_planted_warc(
        _docs(spark, sf_dir).select("doc_id", "text"), per_chunk=10)
    return wc.warc_domain_stats(wc.parse_warc_records(chunks))


@register(
    "q_stream_warc_gate",
    wc.planted_warc_gate_sql("documents", min_tokens=40),
    doc="streaming WARC ingestion run to completion (streaming/stream."
        "warc_gate_stream, availableNow): planted multi-record archive "
        "chunks land in a directory, the file-stream source consumes "
        "them incrementally, each chunk parses in the same Arrow "
        "Content-Length offset walk as the batch reader (mapInPandas is "
        "stream-agnostic), and the ingest-time quality gate (token "
        "floor + stopword ratio + fingerprint) filters records before "
        "they reach the corpus. Fully stateless, so the single-round "
        "verdict equals the batch oracle; at scale maxFilesPerTrigger "
        "bounds a micro-batch and chunk files parallelize the parse")
def q_stream_warc_gate(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_warc_gate_batch
    ckpt = tempfile.mkdtemp(prefix="q_stream_warc_ckpt_")
    landing = tempfile.mkdtemp(prefix="q_stream_warc_landing_")
    return run_warc_gate_batch(spark, sf_dir, ckpt, landing,
                               min_tokens=40)


from ..sources.ziparchive import planted_zip_gate_sql  # noqa: E402


@register(
    "q_stream_zip_gate",
    planted_zip_gate_sql("documents", min_bytes=40),
    doc="streaming ZIP intake run to completion (streaming/stream."
        "zip_gate_stream, availableNow): vendor-drop archives land in "
        "a directory, the file-stream source consumes them "
        "incrementally, each walks the same Arrow central-directory "
        "parse as the batch reader (zip_members is stream-agnostic), "
        "and a minimum-content gate keeps only .txt members >= 40 "
        "bytes — manifest stubs never reach the corpus. Stateless, so "
        "the single-round verdict equals the batch oracle; CRC-failed "
        "archives drop whole inside the Arrow stage")
def q_stream_zip_gate(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_zip_gate_batch
    ckpt = tempfile.mkdtemp(prefix="q_stream_zip_ckpt_")
    landing = tempfile.mkdtemp(prefix="q_stream_zip_landing_")
    return run_zip_gate_batch(spark, sf_dir, ckpt, landing, min_bytes=40)


@register(
    "q_image_stats",
    planted_pgm_stats_sql("documents"),
    doc="REAL pixel statistics over decoded PGM payloads (operators/"
        "multimodal.image_pixel_stats): brightness sum/min/max/mean and "
        "dimensions from the Arrow mapInPandas decode — the content-"
        "level features a vision curation pass gates on (all-black "
        "frames, low-contrast junk); the mean is one IEEE division of "
        "two exact integers, and the oracle regenerates every pixel "
        "arithmetically (builder and parser never share code)")
def q_image_stats(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.image_pixel_stats(mm.synthesize_planted_pgm(docs))


@register(
    "q_image_phash",
    planted_pgm_dhash_sql("documents"),
    doc="perceptual image hashing: JVM-side hex/unhex plants VALID binary-"
        "PGM images (pixels arithmetic in doc_id); the Arrow mapInPandas "
        "stage REALLY decodes them (stdlib Netpbm header parse + raw "
        "bytes) and computes a 60-bit dHash over an 11x6 area-downscale "
        "in pure integer arithmetic (cross-multiplied mean compares — no "
        "float anywhere, bit-reproducible on any worker). The oracle "
        "regenerates cell sums from the same pixel formula and assembles "
        "the hash with exact integer powers — a parse offset, downscale "
        "boundary, or bit-order bug hash-mismatches")
def q_image_phash(spark, sf_dir):
    return _planted_pgm_hashes(spark, sf_dir)


@register(
    "q_image_phash_jpeg",
    planted_jpeg_dhash_sql("documents"),
    doc="perceptual hashing over the image family's SECOND real "
        "container: planted DC-ONLY BASELINE JPEGs (valid T.81 streams "
        "— DQT/DHT/SOF0/SOS segments, canonical Huffman DC coding with "
        "prediction, byte stuffing; blocks are md5-planted constants, so "
        "the DC-only integer IDCT is exact). The Arrow stage REALLY "
        "entropy-decodes the scan (independent unpacking logic from the "
        "builder's packer) and the same integer dHash runs on the "
        "decoded pixels; the 88x48 dHash cells coincide with the 8x8 "
        "blocks, so the oracle compares md5-regenerated block constants "
        "directly — never touching bytes")
def q_image_phash_jpeg(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.image_dhash(mm.synthesize_planted_jpeg(docs))


from ..operators.multimodal import (  # noqa: E402
    planted_gif_dhash_sql, planted_png_dhash_sql)


@register(
    "q_image_phash_png",
    planted_png_dhash_sql("documents"),
    doc="perceptual hashing over the image family's THIRD real "
        "container: planted 8-bit grayscale PNGs with real chunk/CRC "
        "framing and a real DEFLATE stream (stdlib zlib — an actual "
        "compressed bitstream, unlike the uncompressed PGM path). The "
        "builder's forward filtering cycles y%5 through ALL FIVE RFC "
        "2083 filter types, so the Arrow stage's reconstruction "
        "(None/Sub/Up/Average/Paeth) exercises every branch on every "
        "image before the same integer dHash runs; the oracle "
        "regenerates pixels from the 'p:'-salted md5 formula, never "
        "from bytes — an inflate or filter-math bug hash-mismatches")
def q_image_phash_png(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.image_dhash(mm.synthesize_planted_png(docs))


@register(
    "q_image_phash_gif",
    planted_gif_dhash_sql("documents"),
    doc="perceptual hashing over the image family's FOURTH real "
        "container — GIF, the format's second REAL decompressor after "
        "PNG's DEFLATE: planted grayscale-palette GIFs carry a genuine "
        "variable-width LZW stream (greedy longest-match dictionary "
        "growth from the builder, so the decoder's width-growth and "
        "cScSc paths run on every image — the width schedule's classic "
        "off-by-one is pinned by an 8k-case round-trip fuzz test), a "
        "256-entry color-table walk, and an extension block the reader "
        "must skip by sub-block sizes. Same integer dHash; the oracle "
        "regenerates pixels from the 'g:'-salted md5 formula, never "
        "from bytes — an LZW bug on either side hash-mismatches")
def q_image_phash_gif(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.image_dhash(mm.synthesize_planted_gif(docs))


from ..operators.multimodal import planted_bmp_dhash_sql  # noqa: E402


@register(
    "q_image_phash_bmp",
    planted_bmp_dhash_sql("documents"),
    doc="perceptual hashing over the image family's FIFTH container — "
        "8-bit palette BMP (decode_bmp_gray): file-header data offset, "
        "field-validated BITMAPINFOHEADER, achromatic-palette mapping, "
        "and the two layout rules naive readers get wrong — 4-byte row "
        "strides and bottom-up row order (negative-height top-down "
        "handled too, unit-pinned). Same integer dHash; oracle "
        "regenerates pixels from the 'b:'-salted md5 formula, never "
        "from bytes — a stride or row-order bug hash-mismatches")
def q_image_phash_bmp(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.image_dhash(mm.synthesize_planted_bmp(docs))


@register(
    "q_image_neardup",
    planted_pgm_neardup_sql("documents", max_hamming=3),
    doc="perceptual-hash image NEAR-DUP pairs — the multimodal member of "
        "the dedup family: 60-bit dHashes from really-decoded planted "
        "PGMs (one perturbed pixel per odd id -> a planted near-identical "
        "pair per page) fed through the SAME 4x15-bit pigeonhole banding "
        "as text SimHash (dedup.simhash_pairs, exact for hamming<=3, "
        "max_bucket star fallback caps the in-bucket expansion); oracle "
        "recomputes hashes arithmetically and bands them relationally")
def q_image_neardup(spark, sf_dir):
    sigs = _planted_pgm_hashes(spark, sf_dir)
    return dd.simhash_pairs(sigs, max_hamming=3)


@register(
    "q_image_dup_clusters",
    dd.duplicate_clusters_sql(planted_pgm_neardup_sql("documents",
                                                      max_hamming=3)),
    doc="image near-dup CLUSTER resolution — the perceptual-hash pairs "
        "fed through the same pointer-jumping min-label resolver the "
        "text dedup family uses (dedup.duplicate_clusters, O(log "
        "diameter) rounds with lineage cuts): (doc_id, cluster_id) per "
        "image appearing in any pair, canonical = min id; oracle walks "
        "the transitive closure with a recursive CTE")
def q_image_dup_clusters(spark, sf_dir):
    pairs = dd.simhash_pairs(_planted_pgm_hashes(spark, sf_dir),
                             max_hamming=3)
    return dd.duplicate_clusters(pairs)


@register(
    "q_incremental_image_dedup",
    planted_pgm_incremental_sql("documents", max_hamming=3),
    doc="incremental MEDIA dedup against a PERSISTED signature store "
        "(dedup.incremental_hamming_pairs): the even-id half's "
        "perceptual hashes are written to parquet (the store the "
        "'decode once, ship signatures' contract accumulates at "
        "ingest), then the odd-id increment dedups against the store "
        "read BACK from disk — each planted odd image finds its even "
        "twin without re-opening a single historical byte. Pigeonhole "
        "(band, nib) join with the one-increment batch side broadcast; "
        "candidates are cross-side only, so no in-bucket expansion and "
        "no star cap exist on this path at all — the q_incremental_"
        "dedup_verified lifecycle, completed for the media families")
def q_incremental_image_dedup(spark, sf_dir):
    import tempfile

    sigs = _planted_pgm_hashes(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="q_img_sig_store_")
    (sigs.filter(F.col("doc_id") % 2 == 0)
     .write.mode("overwrite").parquet(path))
    store = spark.read.parquet(path)
    batch = sigs.filter(F.col("doc_id") % 2 == 1)
    return dd.incremental_hamming_pairs(store, batch, max_hamming=3)


@register(
    "q_fingerprint",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
           source
    FROM documents
    """,
    doc="document fingerprinting: normalized content hash")
def q_fingerprint(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", ts.fingerprint("text").alias("fingerprint"), "source")


# =========================================================================
# Document shaping: chunking / packing / term weighting
# =========================================================================

from ..operators import chunking as ck   # noqa: E402
from ..operators import terms as tm      # noqa: E402


@register(
    "q_chunk_documents",
    ck.chunk_documents_sql("documents", chunk_tokens=64, overlap=16),
    doc="sliding-window chunking (64-token windows, 16 overlap): narrow "
        "explode, zero shuffle at any scale")
def q_chunk_documents(spark, sf_dir):
    return ck.chunk_documents(_docs(spark, sf_dir),
                              chunk_tokens=64, overlap=16)


@register(
    "q_pack_sequences",
    ck.pack_sequences_sql("documents", budget=256, n_shards=8),
    doc="fixed-budget sequence packing: hash-sharded running token sum, "
        "per-shard windows (no global sort / single reducer)")
def q_pack_sequences(spark, sf_dir):
    return ck.pack_sequences(_docs(spark, sf_dir), budget=256, n_shards=8)


@register(
    "q_pack_efficiency",
    ck.pack_efficiency_sql("documents", budget=256, n_shards=8),
    doc="packing-efficiency report over q_pack_sequences (operators/"
        "chunking.pack_efficiency): sequence count, token totals, mean "
        "tokens per sequence and budget-slot utilization — the numbers "
        "a trainer converts into step counts and accelerator "
        "throughput; utilization above/below 1 distinguishes the "
        "overflow-spill and padding-waste regimes. Two aggregations "
        "past the packing projection (per-(shard,seq) sums on uniform "
        "keys, then one global reduce); ratios via round6u")
def q_pack_efficiency(spark, sf_dir):
    return ck.pack_efficiency(_docs(spark, sf_dir), budget=256,
                              n_shards=8)


@register(
    "q_tfidf_top_terms",
    tm.tfidf_top_terms_sql("documents", k=3),
    doc="TF-IDF top-3 terms per document: partial+final TF agg, "
        "vocabulary-sized DF agg, per-document window (never global)")
def q_tfidf_top_terms(spark, sf_dir):
    return tm.tfidf_top_terms(_docs(spark, sf_dir), k=3)


@register(
    "q_train_val_test_split",
    sp.train_val_test_split_sql("documents"),
    doc="deterministic stratified train/val/test split (80/10/10): md5 "
        "coin per doc, membership stable under corpus growth (eval sets "
        "never contaminated by re-splits); per-(source, split) counts")
def q_train_val_test_split(spark, sf_dir):
    return sp.train_val_test_split(_docs(spark, sf_dir))


@register(
    "q_temperature_mixture",
    sp.temperature_mixture_sql("documents"),
    doc="temperature-weighted source rebalancing (share^(1/2), XLM-R "
        "recipe): per-source keep rates from the sqrt-flattened token "
        "distribution, deterministic md5-coin selection; rate math on the "
        "|sources|-row aggregate, corpus side one broadcast join + filter")
def q_temperature_mixture(spark, sf_dir):
    return sp.temperature_mixture(_docs(spark, sf_dir))


@register(
    "q_bigram_coherence",
    ts.bigram_coherence_sql("documents"),
    doc="2-gram LM quality proxy: per-doc mean corpus transition "
        "frequency P(w2|w1) — the deterministic perplexity-filter "
        "stand-in; catches garbled token ORDER that unigram rarity "
        "cannot see")
def q_bigram_coherence(spark, sf_dir):
    return ts.bigram_coherence(_docs(spark, sf_dir))


_BM25_TERMS = ("vector", "stream", "join", "window")


@register(
    "q_bm25_prf",
    tm.bm25_prf_topk_sql("documents", ("vector", "stream"), k=10),
    doc="pseudo-relevance feedback retrieval (terms.bm25_prf_topk, RM3 "
        "shape): BM25 round one, the 5 best docs become silent "
        "relevance judgments, their 3 most informative terms (feedback "
        "frequency x idf, so corpus-common tokens never expand the "
        "query) join the query, round two re-ranks — the classic "
        "vocabulary-mismatch fix. Both rounds are the bm25_topk scale "
        "profile; additions are one vocabulary-scale candidate-df "
        "aggregate and a 3-row driver pull (centroid-collect "
        "discipline); every selection deterministically ordered; "
        "summed term scores decimal-accumulated")
def q_bm25_prf(spark, sf_dir):
    return tm.bm25_prf_topk(_docs(spark, sf_dir), ("vector", "stream"),
                            k=10)


@register(
    "q_bm25_topk",
    tm.bm25_topk_sql("documents", _BM25_TERMS, k=5),
    doc="BM25 lexical retrieval: top-5 docs per probe term; query-term "
        "filter BEFORE the tf shuffle, broadcast df/corpus stats, "
        "per-term window (the sparse-retrieval dual of the ANN family)")
def q_bm25_topk(spark, sf_dir):
    return tm.bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=5)


@register(
    "q_hybrid_rrf",
    tm.hybrid_rrf_topk_sql("documents", "embeddings", term="vector",
                           query_id=0, k=10),
    doc="hybrid retrieval: reciprocal-rank fusion (1/(60+rank)) of the "
        "BM25 sparse list and the dense cosine top-k — rank arithmetic "
        "is bit-exact cross-engine; heavy lifting stays in the candidate "
        "generators")
def q_hybrid_rrf(spark, sf_dir):
    return tm.hybrid_rrf_topk(_docs(spark, sf_dir), _emb(spark, sf_dir),
                              term="vector", query_id=0, k=10)


@register(
    "q_bm25_from_index",
    tm.bm25_topk_sql("documents", _BM25_TERMS, k=5),
    doc="BM25 served from the PERSISTED inverted index (postings bucketed "
        "by term -> bucket-pruned scan; 1-row stats table): build-once/"
        "serve-many lifecycle certified against the same oracle as the "
        "inline form")
def q_bm25_from_index(spark, sf_dir):
    import tempfile

    idx = tempfile.mkdtemp(prefix="q_bm25_idx_")
    tm.build_text_index(_docs(spark, sf_dir), "q_bm25_idx", n_buckets=16,
                        path=idx)
    return tm.bm25_from_index(spark, "q_bm25_idx", _BM25_TERMS, k=5)


@register(
    "q_embed_ivf_from_index",
    sim.ivf_topk_sql("embeddings", query_id=7, k=10),
    doc="IVF ANN served from the PERSISTED index (vectors partitioned by "
        "cell on disk -> nprobe becomes parquet partition pruning): "
        "certified against the same oracle as the inline IVF top-k")
def q_embed_ivf_from_index(spark, sf_dir):
    import tempfile

    idx = tempfile.mkdtemp(prefix="q_ivf_idx_")
    sim.build_ivf_index(_emb(spark, sf_dir), idx)
    return sim.ivf_topk_from_index(spark, idx, query_id=7, k=10)


@register(
    "q_cross_source_dups",
    dd.cross_source_dup_matrix_sql("documents"),
    doc="near-dup leakage matrix between corpus sources: MinHash candidate "
        "pairs attributed to (source_a, source_b) cells — where the "
        "duplication lives, not just how much")
def q_cross_source_dups(spark, sf_dir):
    return dd.cross_source_dup_matrix(_docs(spark, sf_dir))


# =========================================================================
# Semantic dedup / kNN graph / normalized dedup / boilerplate /
# incremental dedup / the composed end-to-end curation pipeline
# =========================================================================

from ..operators import curation as cu   # noqa: E402


@register(
    "q_semdedup_keep",
    sim.semantic_dedup_sql("embeddings", threshold=0.3),
    doc="SemDeDup (arXiv:2303.09540): IVF-cell clustering, within-cell "
        "cosine threshold, drop every vector with a smaller-id "
        "above-threshold neighbor — semantic dedup without any "
        "cross-cluster comparison (the quadratic piece is bounded by "
        "cell size)")
def q_semdedup_keep(spark, sf_dir):
    # fixed k (the library default is corpus-derived auto_n_centroids):
    # the unrolled oracle SQL embeds the same 16 seed centroids
    return sim.semantic_dedup_keep(_emb(spark, sf_dir), threshold=0.3,
                                   n_centroids=sim.N_CENTROIDS)


@register(
    "q_knn_graph",
    sim.knn_graph_sql("embeddings", k=3),
    doc="k-NN graph (k=3) within LSH buckets: one uniform bucket-key "
        "shuffle + per-id window over in-bucket candidates only — the "
        "distributed primitive under SemDeDup/graph curation; never the "
        "O(n^2) global cross join")
def q_knn_graph(spark, sf_dir):
    # fixed plane count (library default is corpus-derived auto_n_planes)
    return sim.knn_graph(_emb(spark, sf_dir), k=3, n_planes=8)


@register(
    "q_dedup_normalized",
    dd.normalized_dedup_sql("documents"),
    doc="normalization-hash dedup: lowercase, strip non-alnum, collapse "
        "whitespace, then the same one-shuffle hash-groupBy as exact "
        "dedup — the cheapest rung between exact and MinHash")
def q_dedup_normalized(spark, sf_dir):
    return dd.normalized_dedup_groups(_docs(spark, sf_dir))


@register(
    "q_boilerplate_ngrams",
    dd.boilerplate_ngrams_sql("documents", min_df=4),
    doc="boilerplate n-gram mining: 3-grams whose document frequency "
        "crosses the threshold (nav bars / license headers recur "
        "verbatim); distinct (doc,shingle) -> uniform-hash shuffle -> "
        "tiny thresholded output fit for broadcast removal")
def q_boilerplate_ngrams(spark, sf_dir):
    return dd.boilerplate_ngrams(_docs(spark, sf_dir), min_df=4)


@register(
    "q_incremental_dedup",
    dd.incremental_dedup_sql("documents", split_id=400),
    doc="incremental dedup: NEW batch (doc_id>=400) LSH-banded against "
        "the EXISTING corpus signatures (doc_id<400) — the continuous-"
        "ingestion shape where the historical signature table persists "
        "and only the small batch side broadcasts; never re-LSH the "
        "corpus per batch")
def q_incremental_dedup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    corpus_sigs = dd.minhash_signatures_inline(
        docs.filter(F.col("doc_id") < 400))
    batch_sigs = dd.minhash_signatures_inline(
        docs.filter(F.col("doc_id") >= 400))
    return dd.incremental_dedup_pairs(corpus_sigs, batch_sigs)


_CURATION_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25}


@register(
    "q_training_set",
    cu.prepare_training_set_sql("documents", rates=_CURATION_RATES,
                                default_rate=0.5),
    doc="the composed end-to-end curation pipeline (what actually ships "
        "to a training run): quality gate -> exact dedup (keep min id) "
        "-> benchmark decontamination (5-gram broadcast) -> "
        "deterministic stratified mixture; each stage keeps its "
        "individual scale shape, certified as ONE value-level oracle")
def q_training_set(spark, sf_dir):
    return cu.prepare_training_set(_docs(spark, sf_dir),
                                   rates=_CURATION_RATES,
                                   default_rate=0.5)


@register(
    "q_shard_balance",
    cu.shard_balance_sql("documents", n_shards=16),
    doc="shard-balance report for the training-export layout (operators/"
        "curation.shard_balance): per-shard counts under the SAME "
        "md5-mod assignment write_training_shards uses, reduced to one "
        "row — shards used, doc totals, min/max shard size and the "
        "6dp-floored max/mean imbalance ratio. The pre-flight check "
        "before a multi-hour export: a skewed shard is a straggler "
        "training worker, and this is how a broken id scheme surfaces "
        "BEFORE the write. One partial+final count (≤ n_shards rows) "
        "plus a 1-row reduce")
def q_shard_balance(spark, sf_dir):
    return cu.shard_balance(_docs(spark, sf_dir), n_shards=16)


@register(
    "q_curation_attrition",
    cu.curation_attrition_sql("documents", rates=_CURATION_RATES,
                              default_rate=0.5),
    doc="per-stage attrition funnel over the curation chain (operators/"
        "curation.curation_attrition): one row per stage — raw -> "
        "quality gate -> exact dedup -> decontaminate -> stratified "
        "sample — with surviving doc and token counts; the run-over-run "
        "funnel a production data team alerts on (a dedup stage that "
        "drops 40% instead of 4% is an incident only stage counts can "
        "see). Same stage shapes as q_training_set; every stage frame "
        "now feeds two consumers (next stage + its own count) so each "
        "is localCheckpoint-cut — the capstone's no-cross-consumer-CSE "
        "lesson — and the report itself is one extra partial+final agg "
        "per stage. Oracle: the same stage CTEs, UNION ALL of counts")
def q_curation_attrition(spark, sf_dir):
    return cu.curation_attrition(_docs(spark, sf_dir),
                                 rates=_CURATION_RATES, default_rate=0.5)


@register(
    "q_quality_gate_percentile",
    sp.quality_percentile_gate_sql("documents", "n_chars", "source", p=0.5),
    doc="distribution-aware quality gate: keep docs at/above their "
        "SOURCE's median score — per-stratum percentile aggregate "
        "(tiny, broadcast back), never a per-stratum window over the "
        "data; approx_percentile swaps in at 100 TB unchanged")
def q_quality_gate_percentile(spark, sf_dir):
    return sp.quality_percentile_gate(_docs(spark, sf_dir), "n_chars",
                                      "source", p=0.5)


@register(
    "q_corpus_stats",
    sp.corpus_mixture_stats_sql("documents", "n_chars", "source"),
    doc="corpus composition stats per source: doc count, exact token sum, "
        "token share — the input numbers of a mixture design; one "
        "partial+final agg, share via window over the tiny aggregate")
def q_corpus_stats(spark, sf_dir):
    return sp.corpus_mixture_stats(_docs(spark, sf_dir), "n_chars", "source")


_QG = ts.quality_sql_columns("text")
_QG_PII = ts.pii_sql_columns("text")


@register(
    "q_stream_quality_gate",
    rf"""
    SELECT doc_id, source,
           {_QG['n_tokens']} AS n_tokens,
           {_QG['stopword_ratio']} AS stopword_ratio,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
             AS fingerprint,
           {_QG_PII['redacted']} AS clean_text
    FROM documents
    WHERE {_QG['n_tokens']} >= 40
    """,
    doc="streaming ingest-time quality gate run to completion "
        "(availableNow): token-floor filter + stopword ratio + content "
        "fingerprint + PII redaction on a document STREAM, value-matched "
        "against the batch SQL — stateless projections make the streaming "
        "plan the batch plan verbatim (SURVEY §2.9 + LLM quality ladder)")
def q_stream_quality_gate(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_quality_gate_batch
    ckpt = tempfile.mkdtemp(prefix="q_stream_qg_ckpt_")
    return run_quality_gate_batch(spark, sf_dir, ckpt, min_tokens=40,
                                  glob_filter="documents.parquet")


@register(
    "q_token_rarity",
    ts.token_rarity_sql("documents"),
    doc="per-doc mean corpus token frequency: the rational-arithmetic "
        "LM-style quality signal (high = boilerplate, low = garbled/rare); "
        "vocabulary-sized agg broadcast back onto the token stream")
def q_token_rarity(spark, sf_dir):
    return ts.token_rarity(_docs(spark, sf_dir))


@register(
    "q_ngram_novelty",
    dd.ngram_novelty_sql(
        "SELECT * FROM documents WHERE doc_id % 2 = 1",
        "SELECT * FROM documents WHERE doc_id % 2 = 0", n=3),
    doc="per-doc n-gram NOVELTY vs a reference corpus (operators/dedup."
        "ngram_novelty): fraction of the doc's distinct word trigrams "
        "never seen in the reference — the memorization/derivativeness "
        "signal (near-zero novelty = boilerplate or a near-copy the "
        "pairwise dedup missed; the inverse of decontamination, whose "
        "reference is a tiny benchmark). One uniform shingle-keyed "
        "membership shuffle, NO broadcast hint (the reference is "
        "corpus-scale, AQE decides); novelty lands as exact micro-units")
def q_ngram_novelty(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return dd.ngram_novelty(docs.filter(F.col("doc_id") % 2 == 1),
                            docs.filter(F.col("doc_id") % 2 == 0), n=3)


@register(
    "q_embed_outliers",
    sim.embed_outliers_sql("embeddings", per_cell=3),
    doc="embedding-space outliers: the 3 vectors farthest from their IVF "
        "cell centroid, per cell — exact-rank selection via a per-cell "
        "(bounded) window, never a global sort or percentile interpolation")
def q_embed_outliers(spark, sf_dir):
    # fixed k for oracle determinism (library default is auto_n_centroids)
    return sim.embed_outliers(_emb(spark, sf_dir), per_cell=3,
                              n_centroids=sim.N_CENTROIDS)


@register(
    "q_embed_pq_codes",
    # codes serialized to a comma-joined string: the driver's pandas
    # canonicalizer cannot sort/hash list cells
    f"SELECT vec_id, array_to_string(codes, ',') AS codes_csv "
    f"FROM ({sim.pq_codes_sql('embeddings')})",
    doc="product quantization: 8 subvector codes per vector against a "
        "deterministic 16-entry codebook (squared-L2 argmin) — 64-dim "
        "float32 to 8 bytes, the IVF-PQ storage path; narrow melt + "
        "broadcast codebook join + min_by argmin, uniform-key shuffles "
        "only")
def q_embed_pq_codes(spark, sf_dir):
    return (sim.pq_codes(_emb(spark, sf_dir))
            .select("vec_id", F.array_join(
                F.expr("transform(codes, c -> CAST(c AS STRING))"),
                ",").alias("codes_csv")))


@register(
    "q_embed_pq_topk",
    sim.pq_topk_sql("embeddings", query_id=0, k=10),
    doc="top-k served FROM the 8-byte PQ codes: codebook reconstruction "
        "(broadcast, KB-sized) + exact cosine against the uncompressed "
        "query — the asymmetric-distance serving path; same "
        "TakeOrderedAndProject top-k shape as the brute-force baseline")
def q_embed_pq_topk(spark, sf_dir):
    return sim.pq_topk(_emb(spark, sf_dir), query_id=0, k=10)


@register(
    "q_embed_ann_multiprobe",
    sim.ann_multiprobe_topk_sql("embeddings", query_id=0, k=10),
    doc="multi-probe LSH ANN (Lv et al. VLDB'07): exact cosine over the "
        "37 buckets within Hamming radius 2 of the query bucket — the "
        "recall lever of hyperplane LSH (~14% of corpus scanned vs 1/256 "
        "single-bucket; recall measured in tools/recall_probe.py)")
def q_embed_ann_multiprobe(spark, sf_dir):
    return sim.ann_multiprobe_topk(_emb(spark, sf_dir), query_id=0, k=10)


@register(
    "q_kmeans_one_step",
    sim.kmeans_one_step_sql("embeddings"),
    doc="one Lloyd iteration at value level: seed-centroid assignment + "
        "exact-decimal element-wise means per (cell, dim) — certifies the "
        "per-round dataflow of the iterative kmeans_fit trainer (which "
        "stays rows-only because loops are not SQL-expressible)")
def q_kmeans_one_step(spark, sf_dir):
    return sim.kmeans_one_step(_emb(spark, sf_dir))


@register(
    "q_group_token_budget",
    sp.group_token_budget_sql("documents", budget=2000,
                              quality_col="n_chars", token_col="n_chars",
                              strata_col="source"),
    doc="per-stratum token budget: best-first cumulative selection to at "
        "most 2000 chars PER SOURCE — the window partitions on the "
        "stratum, so no global order exists anywhere (mixture-design "
        "primitive; per-group form of q_token_budget)")
def q_group_token_budget(spark, sf_dir):
    return sp.group_token_budget(_docs(spark, sf_dir), budget=2000,
                                 quality_col="n_chars",
                                 token_col="n_chars", strata_col="source")


@register(
    "q_dedup_prefix_jaccard",
    dd.jaccard_sql(_SHINGLE_CTE, threshold=0.6),
    doc="prefix-filtering similarity join (AllPairs/PPJoin, WWW'07): "
        "rarest-shingle prefixes give EXACT-recall candidates (a theorem, "
        "vs MinHash-LSH's probabilistic recall) and small buckets by "
        "construction; certified against the SAME exhaustive-Jaccard "
        "oracle as q_dedup_ngram_jaccard — different algorithm, "
        "provably identical output")
def q_dedup_prefix_jaccard(spark, sf_dir):
    return dd.prefix_filter_jaccard(_docs(spark, sf_dir), threshold=0.6)


@register(
    "q_incremental_dedup_verified",
    dd.incremental_dedup_verified_sql("documents", split_id=400,
                                      threshold=0.6),
    doc="the full continuous-ingestion dedup decision: batch-vs-corpus "
        "LSH candidates -> exact Jaccard verify -> (batch_id, corpus_id, "
        "jaccard) for every NEW doc that actually duplicates the corpus "
        "(what ingestion drops/links, not just inspects)")
def q_incremental_dedup_verified(spark, sf_dir):
    return dd.incremental_dedup_verified(_docs(spark, sf_dir),
                                         split_id=400, threshold=0.6)


@register(
    "q_gopher_rules",
    ts.gopher_rules_sql("documents"),
    doc="the published pre-training heuristic gate: Gopher rules (word "
        "count, mean word length, alpha-word ratio, stopword presence, "
        "symbol ratio; Rae et al. 2021 A1.1) + C4 lexical drops (brace, "
        "lorem ipsum; Raffel et al. 2020 2.2) as ONE no-UDF projection — "
        "per-rule booleans kept so corpus diagnostics can aggregate "
        "failure causes, not just the keep bit")
def q_gopher_rules(spark, sf_dir):
    cols = ts.gopher_rule_columns("text")
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(n) for n, c in cols.items()])


@register(
    "q_source_head_cap",
    sp.source_head_cap_sql("documents", cap=30, quality_col="n_chars"),
    doc="per-domain ceiling: keep each source's 30 best documents (rank "
        "= quality desc, id tie-break) so no single site dominates the "
        "corpus — count-based sibling of the token-budget selector; "
        "per-stratum window only, no global sort")
def q_source_head_cap(spark, sf_dir):
    return sp.source_head_cap(_docs(spark, sf_dir), cap=30,
                              quality_col="n_chars")


@register(
    "q_weighted_sample",
    sp.weighted_sample_sql("documents", score_col="n_chars"),
    doc="quality-weighted deterministic sampling: keep probability = "
        "score/max(score) via the layout-stable hash unit — soft quality "
        "gate that oversamples good docs but keeps the tail represented; "
        "scalar max broadcasts, decision is engine-reproducible")
def q_weighted_sample(spark, sf_dir):
    return sp.weighted_sample(_docs(spark, sf_dir), score_col="n_chars")


@register(
    "q_span_dedup_stats",
    dd.span_dedup_stats_sql("documents", n=8),
    doc="span-level dedup statistics (exact-substring family, Lee et al. "
        "2021, at 8-gram granularity): fraction of each doc's gram "
        "positions whose gram appears in an earlier doc — catches "
        "pairwise paste-duplication that frequency-threshold boilerplate "
        "detection misses; gram-keyed min-owner agg, no doc-vs-doc join")
def q_span_dedup_stats(spark, sf_dir):
    return dd.span_dedup_stats(_docs(spark, sf_dir), n=8)


@register(
    "q_span_dedup_rewrite",
    dd.span_dedup_rewrite_sql("documents", n=8),
    doc="duplicate-span REMOVAL (the rewrite half of exact-substring "
        "dedup, Lee et al. 2021 §4; q_span_dedup_stats is the "
        "measurement half): tokens covered by an 8-gram already seen in "
        "an earlier doc are dropped and the survivors reassembled in "
        "order — later copies lose exactly the duplicated run, the "
        "canonical copy stays verbatim. Gram-keyed min-owner agg + one "
        "id-keyed join back; the rewrite is per-row HOF array work — "
        "no doc-vs-doc join anywhere")
def q_span_dedup_rewrite(spark, sf_dir):
    return dd.span_dedup_rewrite(_docs(spark, sf_dir), n=8)


# Weak label for the classifier fit: every Gopher/C4 rule EXCEPT
# rule_stopwords, which is constant-false on the synthetic corpus (the
# generator never plants >= 2 Gopher stopwords) — a constant label makes
# the fit degenerate (all-reject); the subset splits ~55/45 on
# rule_word_count, so the trained weights demonstrate actual learning.
# Production callers pass their own label (source-based labels —
# "reference corpus vs crawl" — are the standard).
_CLF_FIT_RULES = ("rule_word_count", "rule_mean_word_len",
                  "rule_alpha_words", "rule_symbol_ratio",
                  "rule_no_brace", "rule_no_lorem")


@register(
    "q_quality_classifier_fit",
    ts.quality_classifier_fit_sql(
        "documents", label_sql=ts.gopher_keep_subset_sql(rules=_CLF_FIT_RULES)),
    doc="in-engine classifier TRAINING: one diagonal-Hessian Newton step "
        "of logistic regression from w=0 over the deterministic quality "
        "features, weak-labeled by the Gopher/C4 rule gate (the "
        "distill-the-rules shape of production quality classifiers). "
        "12dp-quantized decimal sums, ONE partial+final aggregation to a "
        "single row exploded to the d-row model — zero joins/windows")
def q_quality_classifier_fit(spark, sf_dir):
    return ts.quality_classifier_fit(
        _docs(spark, sf_dir),
        label=ts.gopher_keep_subset(rules=_CLF_FIT_RULES))


@register(
    "q_quality_clf_fitted_scores",
    ts.quality_classifier_score_fitted_sql(
        "documents", label_sql=ts.gopher_keep_subset_sql(rules=_CLF_FIT_RULES)),
    doc="end-to-end model filter: score every doc with the weights "
        "q_quality_classifier_fit just trained (fit -> pivot to a 1-row "
        "model -> broadcast join -> one projection; the DSIR "
        "model/from-model pattern for the classifier family)")
def q_quality_clf_fitted_scores(spark, sf_dir):
    return ts.quality_classifier_score_fitted(
        _docs(spark, sf_dir),
        label=ts.gopher_keep_subset(rules=_CLF_FIT_RULES))


@register(
    "q_span_longest_match",
    dd.span_longest_match_sql("documents", n=8, min_len=12),
    doc="variable-length LONGEST-MATCH duplicated spans (true "
        "suffix-array semantics, Lee et al. 2021): consecutive "
        "duplicated 8-gram positions per (doc, owner) coalesce via "
        "gaps-and-islands (pos - row_number) into maximal spans with "
        "their exact token length; spans < 12 tokens filtered. Gram-keyed "
        "min-owner agg + a high-cardinality (doc, owner) window over "
        "duplicated positions only — no doc-vs-doc join, no global sort")
def q_span_longest_match(spark, sf_dir):
    return dd.span_longest_match(_docs(spark, sf_dir), n=8, min_len=12)


@register(
    "q_quality_classifier",
    ts.quality_classifier_sql("documents"),
    doc="classifier-based quality filtering (the fasttext/logistic model "
        "gate of GPT-3/LLaMA-style pipelines) with a deterministic linear "
        "stand-in: featurize in one projection, score with fixed "
        "broadcast-small weights, gate on the score; rational squash "
        "instead of exp so values certify bit-exactly cross-engine")
def q_quality_classifier(spark, sf_dir):
    cols = ts.quality_classifier_columns("text")
    return _docs(spark, sf_dir).select(
        "doc_id", *[c.alias(n) for n, c in cols.items()])


@register(
    "q_char_entropy",
    ts.char_entropy_sql("documents"),
    doc="Shannon character entropy (bits) per document: two uniform hash "
        "aggregations, no windows/joins — the curation signal that "
        "catches binary junk / base64 blobs (near-max entropy) and "
        "degenerate filler (near-zero) that token-level ratios miss; "
        "6dp-floored decimal-summed ln terms certify bit-exactly")
def q_char_entropy(spark, sf_dir):
    return ts.char_entropy(_docs(spark, sf_dir))


@register(
    "q_zipf_slope",
    tm.zipf_slope_sql("documents", top_v=200),
    doc="Zipf rank-frequency slope over the top-200 corpus tokens (OLS "
        "of ln freq on ln rank; natural text ~ -1): vocabulary agg -> "
        "TakeOrderedAndProject top-v -> window over exactly top_v rows "
        "-> one-row decimal-summed regression — a corpus-health "
        "diagnostic that flattens under boilerplate and steepens on "
        "random-token junk")
def q_zipf_slope(spark, sf_dir):
    return tm.zipf_slope(_docs(spark, sf_dir), top_v=200)


from ..operators import web as wb   # noqa: E402


# planted-TLD arithmetic shared by the URL-family oracles: the fixture
# cycles 1-/2-/3-label public suffixes so the PSL eTLD+1 path is what
# gets certified, not just the .com fallback
_TLD_SQL = ("CASE WHEN doc_id % 4 = 1 THEN 'co.uk' "
            "WHEN doc_id % 4 = 2 THEN 'com.au' "
            "WHEN doc_id % 4 = 3 THEN 'k12.ak.us' ELSE 'com' END")


@register(
    "q_url_parse",
    f"""
    SELECT doc_id,
           'w' || CAST(doc_id % 97 AS VARCHAR) || '.example-'
               || CAST(doc_id % 7 AS VARCHAR) || '.' || {_TLD_SQL} AS host,
           'example-' || CAST(doc_id % 7 AS VARCHAR) || '.' || {_TLD_SQL}
             AS reg_domain,
           '/path/' || CAST(doc_id AS VARCHAR) AS path,
           CASE WHEN doc_id % 3 = 0
                THEN 'q=' || CAST(doc_id % 5 AS VARCHAR) END AS query
    FROM documents
    """,
    doc="URL component extraction (operators/web.parse_urls): JVM "
        "parse_url + public-suffix eTLD+1 (embedded PSL snapshot, InSet "
        "probes — web.reg_domain_expr) over arithmetically-planted urls "
        "whose TLD cycles com / co.uk / com.au / k12.ak.us; the oracle "
        "recomputes host/reg_domain/path/query directly from doc_id, so "
        "a parsing- or suffix-table bug hash-mismatches (parser and "
        "builder share no code) — the key extraction under domain "
        "filters, per-domain caps and URL dedup in web-corpus curation")
def q_url_parse(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    return wb.parse_urls(wb.synthesize_planted_urls(docs))


@register(
    "q_domain_stats",
    f"""
    WITH parsed AS (
      SELECT doc_id,
             'w' || CAST(doc_id % 97 AS VARCHAR) || '.example-'
                 || CAST(doc_id % 7 AS VARCHAR) || '.' || {_TLD_SQL}
               AS host,
             'example-' || CAST(doc_id % 7 AS VARCHAR) || '.' || {_TLD_SQL}
               AS reg_domain
      FROM documents
    )
    SELECT reg_domain, COUNT(*) AS n_docs,
           COUNT(DISTINCT host) AS n_hosts
    FROM parsed GROUP BY reg_domain
    """,
    doc="per-registered-domain corpus composition (docs + distinct "
        "subdomains): one partial+final agg, domain-cardinality output — "
        "what a crawl curation run reads before setting per-domain caps")
def q_domain_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    return wb.domain_stats(wb.parse_urls(wb.synthesize_planted_urls(docs)))


@register(
    "q_domain_blocklist",
    f"""
    WITH parsed AS (
      SELECT doc_id,
             'example-' || CAST(doc_id % 7 AS VARCHAR) || '.' || {_TLD_SQL}
               AS reg_domain
      FROM documents
    )
    SELECT reg_domain, COUNT(*) AS n_kept
    FROM parsed
    WHERE reg_domain NOT IN ('example-1.com', 'example-3.co.uk')
    GROUP BY reg_domain
    """,
    doc="domain blocklist filter (broadcast anti-join; blocklists are "
        "domain-cardinality, AQE broadcasts from observed size; entries "
        "include a multi-label-suffix domain so blocking matches at the "
        "true eTLD+1 granularity) — the spam/SEO-farm drop every "
        "web-corpus pipeline runs first")
def q_domain_blocklist(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    parsed = wb.parse_urls(wb.synthesize_planted_urls(docs))
    blocked = spark.createDataFrame(
        [("example-1.com",), ("example-3.co.uk",)], "reg_domain string")
    return (wb.domain_blocklist_filter(parsed, blocked)
            .groupBy("reg_domain")
            .agg(F.count(F.lit(1)).alias("n_kept")))


@register(
    "q_url_dedup",
    """
    WITH canon AS (
      SELECT doc_id,
             'https://site.example-'
               || CAST((doc_id // 4) % 7 AS VARCHAR) || '.com/page/'
               || CAST(doc_id // 4 AS VARCHAR) AS canon
      FROM documents
    )
    SELECT canon, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
    FROM canon GROUP BY canon
    """,
    doc="URL-canonicalization dedup (operators/web.url_dedup_groups): "
        "lowercase host, strip tracking params (utm_*/fbclid/gclid) and "
        "trailing slash with JVM parse_url+regexp, then the one-shuffle "
        "exact-dedup groupBy on the canonical string. Fixture plants 4 "
        "noisy variants per logical page (bare / utm param / UPPERCASE "
        "host / trailing slash); the oracle recomputes the canonical "
        "form arithmetically, so every variant must collapse to exactly "
        "its group of 4 or the hash mismatches")
def q_url_dedup(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    return wb.url_dedup_groups(wb.synthesize_noisy_url_variants(docs))


@register(
    "q_ccnet_buckets",
    f"""
    WITH scored AS ({ts.bigram_coherence_sql("documents")}),
    langs AS (
      SELECT doc_id, {ts.lang_guess_sql('text')} AS lang FROM documents
    ),
    sl AS (SELECT s.doc_id, l.lang, s.mean_transition_p
           FROM scored s JOIN langs l USING (doc_id)),
    th AS (
      -- explicit integer-index tercile rule (sorted 1-based index
      -- ceil(p*n) via integer div), mirrored exactly on the Spark
      -- side: both engines' builtin discrete percentiles pick float-
      -- arithmetic-dependent indexes that disagree for some group sizes
      SELECT lang,
             l[(len(l) + 2) // 3] AS t1,
             l[(2 * len(l) + 2) // 3] AS t2
      FROM (SELECT lang, list_sort(list(mean_transition_p)) AS l
            FROM sl GROUP BY lang)
    )
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(FLOOR(mean_transition_p * 1000000 + 0.5)
                         / 1000000 AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*) AS mean_score
    FROM (
      SELECT sl.lang, sl.mean_transition_p,
             CASE WHEN sl.mean_transition_p > th.t2 THEN 'head'
                  WHEN sl.mean_transition_p > th.t1 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM sl JOIN th USING (lang)
    ) GROUP BY lang, bucket
    """,
    doc="CCNet-style per-language quality bucketing (head/middle/tail by "
        "LM-proxy score percentiles): thresholds come from ONE exact "
        "per-language percentile aggregate and bucket assignment is a "
        "broadcast threshold join + comparison — NO per-language window "
        "(5 languages would mean 5-partition sorts of the corpus; the "
        "threshold-join form is how CCNet itself buckets at scale, from "
        "sampled percentiles)")
def q_ccnet_buckets(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    scored = ts.bigram_coherence(docs)
    langs = docs.select("doc_id", ts.lang_guess_expr("text").alias("lang"))
    # sl feeds TWO branches (tercile agg + bucket join): cut it so
    # the coherence scoring tree runs once (guide §3.3)
    sl = lineage_cut(scored.join(langs, "doc_id"))
    # DISCRETE thresholds (a data value, never interpolated), selected
    # by an EXPLICIT integer-index rule — sorted 1-based index
    # ceil(p*n), computed with integer div. Built-in percentile_disc /
    # quantile_disc pick float-arithmetic-dependent indexes that
    # disagree between Spark and DuckDB for some group sizes (found by
    # the r6 web-pipeline de-group, n=39), so the rule is spelled out
    # identically on both sides. Same memory class as percentile_disc
    # (per-group buffer); approx_percentile swaps in at 100 TB.
    th = (sl.groupBy("lang")
          .agg(F.sort_array(F.collect_list("mean_transition_p"))
               .alias("l"))
          .select("lang",
                  F.expr("element_at(l, CAST((size(l) + 2) div 3 AS INT))")
                  .alias("t1"),
                  F.expr("element_at(l, CAST((2 * size(l) + 2) div 3"
                         " AS INT))").alias("t2")))
    b = (sl.join(F.broadcast(th), "lang")
         .withColumn("bucket",
                     F.when(F.col("mean_transition_p") > F.col("t2"), "head")
                     .when(F.col("mean_transition_p") > F.col("t1"),
                           "middle")
                     .otherwise("tail")))
    return (b.groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 # FLOOR-6dp before the decimal cast: a bare
                 # CAST(double AS DECIMAL(28,6)) rounds halfway values
                 # half-up in Spark but half-even in DuckDB (two sf0.1
                 # docs landed exactly on x.xxxxxx5) — the round6u
                 # contract applies to decimal casts too
                 F.expr("CAST(SUM(CAST(FLOOR(mean_transition_p * 1000000"
                        " + 0.5) / 1000000 AS DECIMAL(28,6)))"
                        " AS DOUBLE) / COUNT(*)").alias("mean_score")))


@register(
    "q_html_extract",
    r"""
    SELECT doc_id,
           CASE WHEN len(string_split(
                      regexp_replace(trim(text), '\s+', ' ', 'g'), ' ')) >= 4
                THEN regexp_replace(trim(text), '\s+', ' ', 'g') || chr(10)
                ELSE '' END
             || 'section ' || CAST(doc_id % 7 AS VARCHAR)
             || ' alpha & beta gamma' AS main_text
    FROM documents
    """,
    doc="HTML main-content extraction (operators/web."
        "extract_main_content): JVM-only regexp pipeline — drop script/"
        "style/comment subtrees, block-close tags to line breaks, strip "
        "remaining tags, decode entities (&amp; last), keep lines with "
        ">= 4 words (jusText/CCNet short-line boilerplate drop). The "
        "fixture wraps each doc's REAL text in a planted page skeleton "
        "(title/nav/h1/tag-cloud/footer chrome + an &amp; entity); the "
        "oracle recomputes the expected text from the raw column, so a "
        "stripping, entity or line-filter bug hash-mismatches — one "
        "narrow projection, runs inside the scan stage at 100 TB")
def q_html_extract(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return wb.extract_main_content(wb.synthesize_planted_html(docs))


# ONE blocklist constant feeds both the Spark builder and the oracle —
# the pair can never drift (r6 advisor: the oracle used to hardcode it)
_CURATION_BLOCKLIST = ("example-1.com", "example-2.co.uk")


@register(
    "q_web_curation_pipeline",
    wb.curate_web_corpus_sql("documents", threshold=0.6,
                             blocked=_CURATION_BLOCKLIST),
    doc="the composed end-to-end WEB-curation pipeline (crawl-to-corpus "
        "counterpart of q_training_set): URL parse with PSL eTLD+1 -> "
        "domain blocklist anti-join -> canonical-URL dedup -> HTML "
        "main-content extraction -> CCNet per-language percentile "
        "buckets -> MinHash-LSH + exact-Jaccard content dedup -> "
        "per-(lang, bucket) composition stats. Fixture plants 2 URL "
        "variants per page, cycling multi-label TLDs, and identical "
        "content on 10% of pages so every stage provably drops rows; "
        "stages 1-3 are oracle-checked arithmetically (the oracle never "
        "parses a URL), the rest compose the certified SQL builders")
def q_web_curation_pipeline(spark, sf_dir):
    blocked = spark.createDataFrame(
        [(d,) for d in _CURATION_BLOCKLIST], "reg_domain string")
    return wb.curate_web_corpus(_docs(spark, sf_dir), blocked,
                                threshold=0.6)


_PARA_PLANTED_SQL = """(SELECT doc_id,
       text || chr(10) || chr(10)
            || 'footer variant ' || CAST(doc_id % 3 AS VARCHAR)
            || ' subscribe to our newsletter' || chr(10) || chr(10)
            || 'copyright 2024 example corp all rights reserved'
         AS text
    FROM documents) planted"""


@register(
    "q_paragraph_dedup",
    dd.paragraph_dedup_sql(_PARA_PLANTED_SQL),
    doc="corpus-wide PARAGRAPH dedup (RefinedWeb granularity, operators/"
        "dedup.paragraph_dedup): split on blank lines, keep only the "
        "globally-first copy of each normalized paragraph, reassemble in "
        "order — catches templated boilerplate document-level dedup "
        "can't. Fixture appends a 3-variant rotating footer plus one "
        "universal copyright line to every doc, so exactly 4 planted "
        "paragraphs survive corpus-wide and every other doc records "
        "drops. Two uniform shuffles (paragraph-hash window + doc-key "
        "reassembly), zero joins — the partition key is a paragraph "
        "hash, near-unique at 100 TB")
def q_paragraph_dedup(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            "\n\n", F.col("text"),
            F.concat(F.lit("footer variant "),
                     (F.col("doc_id") % 3).cast("string"),
                     F.lit(" subscribe to our newsletter")),
            F.lit("copyright 2024 example corp all rights reserved"),
        ).alias("text"))
    return dd.paragraph_dedup(planted)


@register(
    "q_margin_mining",
    sim.margin_mine_sql("embeddings", k=4, threshold=1.0, n_planes=8),
    doc="margin-based nearest-neighbor mining (Artetxe & Schwenk 2019 — "
        "the CCMatrix/LASER bitext selection rule; operators/similarity."
        "margin_mine): score every k-NN edge by cos(x,y) over the MEAN "
        "of the two endpoints' own k-NN cosines and keep margin > 1 — "
        "the hubness-robust alternative to absolute-cosine cuts, used "
        "for bitext mining, near-dup confirmation and retrieval-negative "
        "filtering. Rides the bucketed knn_graph (never all-pairs), "
        "lineage-cut once for its three consumers; id-cardinality mean "
        "table joins back on uniform keys. Margins are raw doubles over "
        "decimal-summed 6dp cosines — bit-identical cross-engine, "
        "hash-certified with no output rounding")
def q_margin_mining(spark, sf_dir):
    return sim.margin_mine(_emb(spark, sf_dir), k=4, threshold=1.0,
                           n_planes=8)


@register(
    "q_prototype_prune",
    sim.prototype_prune_sql("embeddings", k=16, per_cell=5, keep="hard"),
    doc="prototype-distance data pruning (Sorscher et al. 2022, arXiv:"
        "2206.14486 — operators/similarity.prototype_prune): assign "
        "every vector to an IVF cell, compute the exact-decimal cell "
        "MEAN prototype (one Lloyd update), rank each cell's members by "
        "cosine-to-prototype and keep the per_cell FARTHEST (the "
        "informative-example prescription in the abundant-data regime; "
        "keep='easy' flips the direction) — cluster-balanced coverage "
        "instead of a global score cut. Broadcast k*d prototype table, "
        "narrow scoring pass, per-cell window whose groups stay ~n/k "
        "bounded under auto_n_centroids; oracle recomputes assignment, "
        "prototype means and ranking in chained CTEs — hash-exact via "
        "the decimal-mean + 6dp-cosine discipline")
def q_prototype_prune(spark, sf_dir):
    return sim.prototype_prune(_emb(spark, sf_dir), k=16, per_cell=5,
                               keep="hard")


from ..operators import graph as gr  # noqa: E402


def _tld_sql_of(e: str) -> str:
    """Planted-TLD cycle of an arbitrary SQL expression (mirrors
    web._tld_cycle, which cycles 1/2/3-label public suffixes)."""
    return (f"CASE WHEN ({e}) % 4 = 1 THEN 'co.uk' "
            f"WHEN ({e}) % 4 = 2 THEN 'com.au' "
            f"WHEN ({e}) % 4 = 3 THEN 'k12.ak.us' ELSE 'com' END")


@register(
    "q_extract_links",
    f"""
    SELECT doc_id,
           'https://w' || CAST(doc_id % 5 AS VARCHAR) || '.example-'
             || CAST((doc_id + 1) % 7 AS VARCHAR) || '.'
             || {_tld_sql_of("doc_id + 1")}
             || '/p/' || CAST(doc_id AS VARCHAR) AS href,
           'example-' || CAST((doc_id + 1) % 7 AS VARCHAR) || '.'
             || {_tld_sql_of("doc_id + 1")} AS dst_domain
    FROM documents
    UNION ALL
    SELECT doc_id,
           'http://example-' || CAST((doc_id * 3) % 7 AS VARCHAR) || '.'
             || {_tld_sql_of("doc_id + 2")} || '/q' AS href,
           'example-' || CAST((doc_id * 3) % 7 AS VARCHAR) || '.'
             || {_tld_sql_of("doc_id + 2")} AS dst_domain
    FROM documents
    """,
    doc="outbound-link extraction (operators/web.extract_links): "
        "regexp_extract_all over raw HTML -> explode -> parse_url + PSL "
        "eTLD+1 per target — narrow projection with per-row fan-out, no "
        "shuffle; the crawl-graph edge stream every domain-ranking / "
        "frontier-prioritization pass starts from. Fixture plants two "
        "absolute hrefs per page (one spelled '<A HREF=' pinning "
        "case-insensitivity) plus a relative href and a bare anchor "
        "that MUST be ignored; the oracle recomputes both urls and "
        "their registered domains arithmetically — an extraction or "
        "suffix bug (or wrongly keeping the relative link) "
        "hash-mismatches")
def q_extract_links(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    return wb.extract_links(wb.synthesize_planted_links(docs))


@register(
    "q_sitemap_urls",
    f"""
    SELECT doc_id,
           'https://example-' || CAST(doc_id % 7 AS VARCHAR) || '.'
             || {_tld_sql_of("doc_id")} || '/s/'
             || CAST(doc_id AS VARCHAR) AS loc,
           'example-' || CAST(doc_id % 7 AS VARCHAR) || '.'
             || {_tld_sql_of("doc_id")} AS reg_domain
    FROM documents
    UNION ALL
    SELECT doc_id,
           'http://mirror-' || CAST((doc_id + 2) % 5 AS VARCHAR) || '.'
             || {_tld_sql_of("doc_id + 3")} || '/t' AS loc,
           'mirror-' || CAST((doc_id + 2) % 5 AS VARCHAR) || '.'
             || {_tld_sql_of("doc_id + 3")} AS reg_domain
    FROM documents
    """,
    doc="sitemap <loc> extraction (operators/web.extract_sitemap_urls): "
        "the crawl-frontier seed stream — sitemaps are how a site TELLS "
        "the crawler what exists, reaching content the link graph "
        "misses; one regexp projection + per-row fan-out, no shuffle "
        "(the extract_links shape), each seed keyed by its PSL eTLD+1. "
        "Fixture plants two <loc> entries per sitemap (the second "
        "whitespace-padded to pin trimming) plus <lastmod> noise; the "
        "oracle regenerates both URLs and registered domains "
        "arithmetically")
def q_sitemap_urls(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    return wb.extract_sitemap_urls(wb.synthesize_planted_sitemaps(docs))


@register(
    "q_robots_filter",
    f"""
    SELECT doc_id,
           'example-' || CAST(doc_id % 7 AS VARCHAR) || '.'
             || {_tld_sql_of("doc_id")} AS reg_domain,
           '/path/' || CAST(doc_id AS VARCHAR) AS path
    FROM documents
    WHERE NOT (('/path/' || CAST(doc_id AS VARCHAR)) LIKE
               ('/path/' || CAST(doc_id % 7 AS VARCHAR) || '%'))
      AND NOT (('/path/' || CAST(doc_id AS VARCHAR)) LIKE '/admin%')
    """,
    doc="robots.txt-respect gate (operators/web.parse_robots + "
        "robots_filter): Disallow rules extracted by one multiline "
        "regexp over the DOMAIN-cardinality robots table (Allow lines "
        "and comments ignored, every Disallow kept), then URLs dropped "
        "via a broadcast LEFT ANTI join whose non-equi condition is "
        "domain equality + path startswith(prefix) — the "
        "responsible-crawling filter a corpus build runs before "
        "keeping a page; corpus-side pass stays narrow. Fixture plants "
        "one robots file per planted domain whose Disallow path "
        "derives from the domain index, so blocked-ness is a pure "
        "doc_id predicate the oracle recomputes arithmetically — a "
        "prefix-semantics or rule-extraction bug hash-mismatches")
def q_robots_filter(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    urls = wb.parse_urls(wb.synthesize_planted_urls(docs))
    rules = wb.parse_robots(wb.synthesize_planted_robots(docs))
    return (wb.robots_filter(urls, rules)
            .select("doc_id", "reg_domain", "path"))


_PAGERANK_EDGES_SQL = f"""
    SELECT src, dst, COUNT(*) AS w FROM (
      SELECT 'example-' || CAST(doc_id % 7 AS VARCHAR) || '.'
               || {_tld_sql_of("doc_id")} AS src,
             'example-' || CAST((doc_id + 1) % 7 AS VARCHAR) || '.'
               || {_tld_sql_of("doc_id + 1")} AS dst
      FROM documents
      UNION ALL
      SELECT 'example-' || CAST(doc_id % 7 AS VARCHAR) || '.'
               || {_tld_sql_of("doc_id")} AS src,
             'example-' || CAST((doc_id * 3) % 7 AS VARCHAR) || '.'
               || {_tld_sql_of("doc_id + 2")} AS dst
      FROM documents
    ) l WHERE src <> dst GROUP BY src, dst"""


@register(
    "q_domain_pagerank",
    gr.pagerank_sql(_PAGERANK_EDGES_SQL, iters=3),
    doc="domain-graph PageRank (operators/graph.pagerank over web."
        "domain_edges): each doc's registered domain -> every extracted "
        "link-target domain, self-loops dropped, ONE corpus-scale "
        "aggregation down to a domain-cardinality weighted edge list — "
        "then 3 weighted-PageRank iterations (damping 0.85, dangling "
        "mass redistributed) on domain-sized frames with a "
        "localCheckpoint lineage cut per round (the CommonCrawl-style "
        "domain centrality that feeds crawl budgets and quality "
        "priors). Cross-engine exact: per-edge contributions quantized "
        "to 6dp decimals and decimal-summed (order-independent), ranks "
        "re-quantized per iteration — the oracle unrolls the identical "
        "arithmetic as chained CTEs and hash-matches bit-for-bit")
def q_domain_pagerank(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    parsed = wb.parse_urls(wb.synthesize_planted_urls(docs))
    links = wb.extract_links(wb.synthesize_planted_links(docs))
    return gr.pagerank(wb.domain_edges(parsed, links), iters=3)


@register(
    "q_triangle_stats",
    gr.triangle_count_sql(_PAGERANK_EDGES_SQL),
    doc="domain-graph triangle census (operators/graph.triangle_count, "
        "Suri & Vassilvitskii node-iterator++): symmetrize + dedup the "
        "link edges, orient every edge low-(degree,id) -> high, "
        "enumerate wedges only at the low end, close with one join — "
        "degree orientation caps per-node wedge fan-out at O(sqrt(m)) "
        "so one celebrity domain cannot own quadratic wedges (the "
        "last-reducer curse). Output: node/edge/wedge/triangle counts "
        "+ 6dp transitivity; the link-farm / mutual-citation-cluster "
        "signal the spam-domain prior reads")
def q_triangle_stats(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    parsed = wb.parse_urls(wb.synthesize_planted_urls(docs))
    links = wb.extract_links(wb.synthesize_planted_links(docs))
    return gr.triangle_count(wb.domain_edges(parsed, links))


_DOMAIN_QUALITY_SQL = f"""
    SELECT 'example-' || CAST(doc_id % 7 AS VARCHAR) || '.'
             || {_tld_sql_of("doc_id")} AS domain,
           SUM(n_chars) AS qsum
    FROM documents GROUP BY 1"""


@register(
    "q_crawl_budget",
    gr.crawl_budget_sql("_PAGERANK_PLACEHOLDER_", _DOMAIN_QUALITY_SQL,
                        n_slots=1000)
    .replace("_PAGERANK_PLACEHOLDER_",
             gr.pagerank_sql(_PAGERANK_EDGES_SQL, iters=3)),
    doc="crawl-budget apportionment (operators/graph.crawl_budget): "
        "1000 fetch slots split across domains by largest-remainder "
        "(Hamilton) apportionment over PageRank x quality-prior weights "
        "— the integer number a crawl scheduler actually consumes, "
        "summing EXACTLY to fleet capacity (floating shares never touch "
        "the allocation: weights 6dp-floor-quantized to BIGINT, floor "
        "shares and remainders in pure integer division, remainder "
        "ranking totally ordered). Rides two certified subtrees — the "
        "3-iteration domain PageRank and a per-domain quality "
        "aggregate; every post-corpus frame is domain-cardinality, so "
        "the windows sort a registry, not a corpus")
def q_crawl_budget(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    d = _docs(spark, sf_dir)
    # parsed feeds TWO branches (the edge derivation and the quality
    # agg): cut it so the URL parse chain runs once (guide §3.3)
    parsed = lineage_cut(wb.parse_urls(wb.synthesize_planted_urls(docs)))
    links = wb.extract_links(wb.synthesize_planted_links(docs))
    ranks = gr.pagerank(wb.domain_edges(parsed, links), iters=3)
    quality = (parsed.join(d.select("doc_id", "n_chars"), "doc_id")
               .groupBy(F.col("reg_domain").alias("domain"))
               .agg(F.sum("n_chars").alias("qsum")))
    return gr.crawl_budget(ranks, quality, n_slots=1000)


@register(
    "q_anchor_terms",
    wb.anchor_domain_terms_sql("documents", k=5),
    doc="anchor-text domain profiles (operators/web.extract_anchors + "
        "anchor_domain_terms): the visible text of every absolute link, "
        "keyed by the target's PSL eTLD+1, exploded to terms and "
        "aggregated to a per-domain top-5 — the strongest off-page "
        "description of a domain a crawl owns (search/link-spam stacks "
        "aggregate exactly this; curation uses it as a domain quality "
        "prior). Extraction is two zipped regexp_extract_all passes, "
        "narrow and shuffle-free; counting is ONE partial+final agg on "
        "uniform (domain, term) keys; top-k is the certified "
        "WindowGroupLimit shape. Fixture plants anchor words AND target "
        "domains arithmetically, plus a relative-href anchor whose text "
        "must not be attributed; the oracle regenerates both planted "
        "rows and re-aggregates — extractor and oracle share no code")
def q_anchor_terms(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    anchors = wb.extract_anchors(wb.synthesize_planted_anchors(docs))
    return wb.anchor_domain_terms(anchors, k=5)


# =========================================================================
# N-gram language model (the executable CCNet perplexity filter)
# =========================================================================

from ..operators import lm  # noqa: E402


@register(
    "q_ngram_lm_counts",
    lm.top_ngrams_sql("documents", k=10),
    doc="n-gram LM TRAINING (operators/lm.train_ngram_counts): trigram/"
        "bigram/unigram count tables from the trusted partition "
        "(doc_id%5==0 stands in for CCNet's Wikipedia split) — three "
        "partial+final counts over a narrow explode, vocab-scale output; "
        "certified through the top-10-per-order projection (row_number "
        "<= k triggers the WindowGroupLimit two-phase rewrite, so the "
        "per-order sort prunes map-side)")
def q_ngram_lm_counts(spark, sf_dir):
    return lm.top_ngrams(lm.train_ngram_counts(_docs(spark, sf_dir)), k=10)


@register(
    "q_lm_scores",
    lm.stupid_backoff_scores_sql("documents"),
    doc="stupid-backoff trigram scoring (operators/lm."
        "stupid_backoff_scores, Brants et al. 2007): per-doc mean "
        "surprisal in nats/token under the counts trained by "
        "q_ngram_lm_counts — the quality gate CCNet runs as KenLM "
        "perplexity, join-shaped for scale: unigrams+total broadcast, "
        "bigram/trigram lookups AQE-sized, every backoff branch spelled "
        "in ONE dual-dialect CASE snippet and every -ln term 6dp-floored "
        "+ decimal-summed so a last-ulp ln divergence cannot reach the "
        "hash; the 80% held-out partition exercises the backoff paths "
        "for real")
def q_lm_scores(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return lm.stupid_backoff_scores(docs, lm.train_ngram_counts(docs))


# =========================================================================
# DSIR importance resampling (Xie et al. 2023)
# =========================================================================

from ..operators import dsir  # noqa: E402


@register(
    "q_dsir_weights",
    dsir.dsir_weights_sql("documents", n_buckets=256),
    doc="DSIR log importance weights (operators/dsir.dsir_weights, Xie "
        "et al. 2023): hashed unigram+bigram features (md5-prefix "
        "buckets, B=256 so collisions are exercised at sf0.01), one "
        "conditional-count pass trains target-vs-raw bucket models, "
        "and every raw doc reduces a broadcast B-row lambda join — "
        "ONE wide stage; lambda is 6dp-floored in the model table and "
        "weights are decimal sums, the LM exactness contract")
def q_dsir_weights(spark, sf_dir):
    return dsir.dsir_weights(_docs(spark, sf_dir), n_buckets=256)


@register(
    "q_dsir_topk",
    dsir.dsir_topk_sql("documents", k=100, n_buckets=256),
    doc="DSIR resampling, deterministic variant (operators/dsir."
        "dsir_topk): keep the 100 highest-weight raw docs — weight "
        "desc, doc_id asc is a total order, and ORDER BY+LIMIT "
        "compiles to TakeOrderedAndProject (per-partition heaps, no "
        "global sort shuffle)")
def q_dsir_topk(spark, sf_dir):
    return dsir.dsir_topk(_docs(spark, sf_dir), k=100, n_buckets=256)


# =========================================================================
# BPE tokenizer training (Sennrich et al. 2016)
# =========================================================================

from ..operators import bpe  # noqa: E402


@register(
    "q_bpe_pair_counts",
    bpe.bpe_pair_counts_sql("documents"),
    doc="BPE pair statistics (operators/bpe.bpe_pair_counts): frequency-"
        "weighted adjacent character-pair counts over the distinct-word "
        "table — the corpus-scale stage of tokenizer training is the ONE "
        "word_freqs aggregation (vocab-scale, Zipf-bounded output); the "
        "pair stats are a second vocab-scale agg on top. All-integer "
        "arithmetic, no rounding contract needed")
def q_bpe_pair_counts(spark, sf_dir):
    return bpe.bpe_pair_counts(_docs(spark, sf_dir))


@register(
    "q_bpe_merges",
    bpe.bpe_learn_sql("documents", rounds=4),
    doc="BPE merge learning, 4 plan-unrolled rounds (operators/bpe."
        "bpe_learn): per round an argmax pair (ORDER BY+LIMIT 1 -> "
        "TakeOrderedAndProject, broadcast 1-row) folds into every "
        "word via a greedy left-to-right symbol fold — string replace "
        "would merge runs wrong (aa a a, not BPE's aa aa); the fold is "
        "pinned by test and certified identical in both engines. At "
        "100 TB the vocab table is collected after the single corpus "
        "pass and rounds run driver-side — the unrolled plan exists so "
        "the loop itself is oracle-certifiable")
def q_bpe_merges(spark, sf_dir):
    return bpe.bpe_learn(_docs(spark, sf_dir), rounds=4)


from ..operators import unigram as ugm   # noqa: E402


@register(
    "q_unigram_lm_vocab",
    ugm.unigram_lm_vocab_sql("documents", rounds=2, v_multi=200),
    doc="unigram-LM tokenizer training (Kudo 2018 / the SentencePiece "
        "unigram model; operators/unigram.unigram_lm_vocab) — the "
        "top-down complement of merge-based BPE: substring seed vocab "
        "(all single chars + top-200 multis) then 2 plan-unrolled "
        "Viterbi hard-EM rounds, each segmenting every DISTINCT word "
        "via an in-plan DP fold over 6dp-floored decimal surprisals "
        "(exactly-compared -> both engines pick identical paths) and "
        "re-counting pieces along the best paths. Everything after the "
        "one corpus-scale word count is vocabulary-scale; emits the "
        "(piece, cnt, nll) serving artifact")
def q_unigram_lm_vocab(spark, sf_dir):
    return ugm.unigram_lm_vocab(_docs(spark, sf_dir), rounds=2,
                                v_multi=200)


@register(
    "q_unigram_encode",
    ugm.unigram_encode_counts_sql("documents", rounds=2, v_multi=200),
    doc="corpus segmentation under the trained unigram-LM vocabulary "
        "(operators/unigram.unigram_encode_counts — the "
        "bpe_encode_counts twin): per-document piece counts, the "
        "budget/packing number under THIS tokenizer. Viterbi work runs "
        "once per DISTINCT word; the per-word piece count joins back "
        "onto the doc stream (AQE-sized) and reduces per doc; the "
        "oracle unrolls one extra recursive-CTE DP round under the "
        "final vocab")
def q_unigram_encode(spark, sf_dir):
    return ugm.unigram_encode_counts(_docs(spark, sf_dir), rounds=2,
                                     v_multi=200)


@register(
    "q_unigram_from_vocab",
    ugm.unigram_encode_counts_sql("documents", rounds=2, v_multi=200),
    doc="unigram segmentation served from the PERSISTED piece inventory "
        "(operators/unigram.unigram_encode_from_vocab): train the "
        "(piece, cnt, nll) vocab once, write to parquet, segment new "
        "batches FROM the artifact with one Viterbi pass and ZERO "
        "training rounds — strictly cheaper than the inline encoder, "
        "which re-runs the EM rounds per batch; the artifact stays "
        "fully distributed (surprisals recompute from the persisted "
        "counts, nothing collected). Certified against the same oracle "
        "as inline q_unigram_encode — encode parity")
def q_unigram_from_vocab(spark, sf_dir):
    import tempfile

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="q_unigram_vocab_")
    (ugm.unigram_lm_vocab(docs, rounds=2, v_multi=200)
     .write.mode("overwrite").parquet(path))
    return ugm.unigram_encode_from_vocab(docs, spark.read.parquet(path))


@register(
    "q_unigram_fertility",
    ugm.unigram_fertility_sql("documents", rounds=2, v_multi=200),
    doc="per-language fertility under the trained UNIGRAM vocabulary "
        "(operators/unigram.unigram_fertility): pieces per whitespace "
        "word by language — the q_tokenizer_fertility twin for the "
        "other tokenizer family; the side-by-side is the standard "
        "vocab-selection comparison (a language whose fertility is far "
        "above the norm is under-served by the piece inventory)")
def q_unigram_fertility(spark, sf_dir):
    return ugm.unigram_fertility(_docs(spark, sf_dir), rounds=2,
                                 v_multi=200)


@register(
    "q_lm_ccnet_gate",
    f"""
    WITH scores AS ({lm.stupid_backoff_scores_sql("documents")}),
    sl AS (SELECT s.doc_id, d.lang, s.mean_nll
           FROM scores s JOIN documents d USING (doc_id)),
    th AS (
      -- the proven explicit integer-index tercile rule (see
      -- q_ccnet_buckets); ascending nll, so LOW surprisal = head
      SELECT lang,
             l[(len(l) + 2) // 3] AS t1,
             l[(2 * len(l) + 2) // 3] AS t2
      FROM (SELECT lang, list_sort(list(mean_nll)) AS l
            FROM sl GROUP BY lang)
    )
    SELECT lang, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(FLOOR(mean_nll * 1000000 + 0.5)
                         / 1000000 AS DECIMAL(28,6))) AS DOUBLE)
             / COUNT(*) AS mean_nll
    FROM (
      SELECT sl.lang, sl.mean_nll,
             CASE WHEN sl.mean_nll < th.t1 THEN 'head'
                  WHEN sl.mean_nll < th.t2 THEN 'middle'
                  ELSE 'tail' END AS bucket
      FROM sl JOIN th USING (lang)
    ) GROUP BY lang, bucket
    """,
    doc="CCNet's ACTUAL gate, end-to-end executable: per-language "
        "head/middle/tail terciles over REAL trigram-LM surprisal "
        "(q_lm_scores) instead of the bigram-coherence proxy — train "
        "counts on the trusted split, score every doc, threshold-join "
        "the 5-row tercile table (no per-language window over the "
        "corpus). Low nats/token = fluent = head; same explicit "
        "integer-index tercile rule and FLOOR-6dp decimal-mean "
        "contract as q_ccnet_buckets")
def q_lm_ccnet_gate(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    scores = lm.stupid_backoff_scores(docs, lm.train_ngram_counts(docs))
    # sl feeds TWO branches (tercile agg + bucket join): cut it so the
    # corpus-scale LM scoring join runs once (guide §3.3)
    sl = lineage_cut(scores.join(docs.select("doc_id", "lang"), "doc_id"))
    th = (sl.groupBy("lang")
          .agg(F.sort_array(F.collect_list("mean_nll")).alias("l"))
          .select("lang",
                  F.expr("element_at(l, CAST((size(l) + 2) div 3 AS INT))")
                  .alias("t1"),
                  F.expr("element_at(l, CAST((2 * size(l) + 2) div 3"
                         " AS INT))").alias("t2")))
    b = (sl.join(F.broadcast(th), "lang")
         .withColumn("bucket",
                     F.when(F.col("mean_nll") < F.col("t1"), "head")
                     .when(F.col("mean_nll") < F.col("t2"), "middle")
                     .otherwise("tail")))
    return (b.groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.expr("CAST(SUM(CAST(FLOOR(mean_nll * 1000000"
                        " + 0.5) / 1000000 AS DECIMAL(28,6)))"
                        " AS DOUBLE) / COUNT(*)").alias("mean_nll")))


@register(
    "q_bpe_encode",
    bpe.bpe_encode_counts_sql("documents", rounds=4),
    doc="BPE tokenization applied corpus-wide (operators/bpe."
        "bpe_encode_counts): per-doc token counts under the learned "
        "4-merge vocabulary — the number budget/packing operators "
        "actually need (whitespace counts over-estimate it). The fold "
        "runs once per DISTINCT word; per-word counts re-join the doc "
        "word stream (skinny side AQE-broadcast) and reduce per doc")
def q_bpe_encode(spark, sf_dir):
    return bpe.bpe_encode_counts(_docs(spark, sf_dir), rounds=4)


@register(
    "q_bpe_from_merges",
    bpe.bpe_encode_counts_sql("documents", rounds=4),
    doc="BPE encoding served from the PERSISTED merge table (operators/"
        "bpe.bpe_encode_from_merges): bpe_learn once, write (round, "
        "pair, cnt) to parquet, encode new batches FROM the artifact — "
        "the tokenizer is trained once and applied for months, so the "
        "serving path must not re-derive merges per batch (the "
        "q_lm_from_counts / q_dsir_from_model lifecycle, completed for "
        "the tokenizer family). Each merge round reads back as a 1-row "
        "broadcast; only round ids are collected (metadata). Certified "
        "against the same oracle as inline q_bpe_encode — encode parity")
def q_bpe_from_merges(spark, sf_dir):
    import tempfile

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="q_bpe_merges_")
    bpe.bpe_learn(docs, rounds=4).write.mode("overwrite").parquet(path)
    return bpe.bpe_encode_from_merges(docs, spark.read.parquet(path))


from ..operators import doremi as drm  # noqa: E402
from ..operators import ensemble as ens  # noqa: E402


@register(
    "q_class_tfidf",
    tm.class_tfidf_keywords_sql("documents", k=5),
    doc="class-based TF-IDF keywords per source (c-TF-IDF, the BERTopic "
        "representation — operators/terms.class_tfidf_keywords): each "
        "source's concatenated text as one pseudo-document, wt = "
        "group-tf * ln((1+n_groups)/(1+group_df)) — the what-is-in-this-"
        "source report behind every mixture/cap decision. One "
        "group*vocab-bounded agg over the token stream, vocab-scale "
        "group-df, 1-row group count broadcast; per-group top-k window "
        "WindowGroupLimit-pruned. ln floor-quantized at 6dp then "
        "multiplied by the exact integer tf — one IEEE product, exact "
        "at any tf magnitude (no FLOOR on the product: Spark's "
        "LONG-typed floor would wrap at corpus-scale tf)")
def q_class_tfidf(spark, sf_dir):
    return tm.class_tfidf_keywords(_docs(spark, sf_dir), k=5)


@register(
    "q_quality_ensemble",
    ens.quality_ensemble_sql("documents"),
    doc="multi-signal quality ensembling (operators/ensemble."
        "quality_ensemble — the Dolma/FineWeb practice of never trusting "
        "one signal): corpus z-score standardization of trigram-LM "
        "surprisal (negated), bigram coherence and token rarity, "
        "averaged into one robust per-doc score. Rank fusion would need "
        "a global sort; z-scores need only two 1-row corpus aggregates "
        "per signal broadcast back onto a narrow combine. Signal values "
        "floor-quantized to decimals before the corpus sums (squares at "
        "12dp), each z and the final average floor-6dp — hash-exact; "
        "the joined signal frame is lineage-cut once for its two "
        "consumers")
def q_quality_ensemble(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return ens.quality_ensemble(docs, lm.train_ngram_counts(docs))


@register(
    "q_doremi_step",
    drm.doremi_step_sql("documents", eta=0.1),
    doc="DoReMi domain reweighting (Xie et al. 2023, arXiv:2305.10429 — "
        "operators/doremi.doremi_step): one exponentiated-gradient "
        "mixture update — per-SOURCE mean trigram-LM surprisal, excess "
        "over the corpus mean clipped at 0, weight ∝ exp(eta·excess) "
        "renormalized; domains the proxy LM serves worst get up-weighted "
        "(the paper's loop re-trains the proxy between steps — the "
        "per-step dataflow is what the engine executes, certified the "
        "same way as kmeans_one_step). Corpus-scale work = the certified "
        "LM scoring join; everything after is domain-cardinality with "
        "1-row broadcast reductions. exp floor-quantized at 6dp like "
        "lm's ln terms; doc totals re-quantized to decimals before the "
        "domain sum (order-independent); final share round6u")
def q_doremi_step(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    return drm.doremi_step(docs, lm.train_ngram_counts(docs), eta=0.1)


@register(
    "q_tokenizer_fertility",
    bpe.tokenizer_fertility_sql("documents", rounds=4),
    doc="per-language tokenizer FERTILITY (operators/bpe."
        "tokenizer_fertility): BPE tokens per whitespace word by "
        "language under the learned 4-merge vocabulary — the standard "
        "multilingual-tokenizer diagnostic (XLM-R/NLLB analyses): a "
        "language with outlier fertility is under-served by the vocab "
        "and silently over-pays sequence length in budgets/packing. "
        "Rides bpe_encode_counts (per-distinct-word fold, vocab-scale "
        "re-join) plus one language-cardinality agg; ratio floor-6dp "
        "quantized (round6u — count ratios hit exact halfway points)")
def q_tokenizer_fertility(spark, sf_dir):
    return bpe.tokenizer_fertility(_docs(spark, sf_dir), rounds=4)


@register(
    "q_unimax_allocation",
    sp.unimax_allocation_sql("documents", budget=3_000_000, epochs=2),
    doc="UniMax language-balanced budget allocation (operators/sampling."
        "unimax_allocation, Chung et al. 2023): the mT5/uMT5 sampling "
        "recipe — equal split with a per-language epoch cap, the "
        "paper's waterfilling loop in closed form (monotone bound "
        "condition over the cap-sorted prefix). Corpus-scale work is "
        "one partial+final sum per language; everything after runs on "
        "the L-row aggregate (metadata-scale single-partition window)")
def q_unimax_allocation(spark, sf_dir):
    return sp.unimax_allocation(_docs(spark, sf_dir),
                                budget=3_000_000, epochs=2)


@register(
    "q_llm_training_set",
    cu.prepare_llm_training_set_sql("documents", k_raw=200),
    doc="The round-6 capstone composition (operators/curation."
        "prepare_llm_training_set): trigram-LM perplexity gate (drop "
        "each language's worst tercile) -> DSIR importance selection "
        "of the top raw docs -> exact dedup -> BPE-token manifest. "
        "Every stage is an individually-certified operator; the "
        "composed oracle nests each stage's own SQL generator, so the "
        "hash match certifies the chain end to end. No stage adds a "
        "shuffle beyond its own certified shape")
def q_llm_training_set(spark, sf_dir):
    return cu.prepare_llm_training_set(_docs(spark, sf_dir), k_raw=200)


@register(
    "q_multimodal_training_set",
    cu.prepare_multimodal_training_set_sql("documents"),
    doc="The multimodal curation capstone (operators/curation."
        "prepare_multimodal_training_set): records carrying text + "
        "image + audio pass a text token-floor gate, then IMAGE "
        "perceptual dedup (really-decoded 60-bit dHash, pigeonhole "
        "bands, drop the larger id of every near-dup pair) and "
        "ACOUSTIC dedup (really-decoded 63-bit energy-delta "
        "fingerprint, same banding machinery), and the survivors ship "
        "as a manifest WITH both perceptual signatures — downstream "
        "incremental dedup never re-decodes media. Drop-set anti-joins "
        "carry no broadcast hint (corpus-scale at real duplicate "
        "rates; AQE sizes them); multi-consumer stages are "
        "localCheckpointed. The oracle nests each modality's own "
        "certified SQL generator over the gated subset")
def q_multimodal_training_set(spark, sf_dir):
    return cu.prepare_multimodal_training_set(_docs(spark, sf_dir))


@register(
    "q_stream_lm_scores",
    lm.stupid_backoff_scores_sql("documents"),
    doc="streaming ingest-time LM scoring run to completion "
        "(availableNow): counts trained in BATCH on the trusted split "
        "(the persisted-model pattern), the doc stream scored "
        "STATELESSLY — the count tables collapse to three vocab maps + "
        "total in one broadcast static row and each doc folds its own "
        "surprisal (identical backoff CASE and decimal arithmetic as "
        "q_lm_scores, so the ORACLE IS THE BATCH SQL: the stream must "
        "hash-match DuckDB exactly). No watermark, no state store")
def q_stream_lm_scores(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_lm_gate_batch
    docs = _docs(spark, sf_dir)
    counts = lm.train_ngram_counts(docs)
    ckpt = tempfile.mkdtemp(prefix="q_stream_lm_ckpt_")
    return run_lm_gate_batch(spark, sf_dir, ckpt, counts,
                             glob_filter="documents.parquet")


@register(
    "q_stream_source_cap",
    sp.source_head_cap_sql("documents", cap=10, quality_col="n_chars"),
    doc="streaming per-source head cap run to completion (availableNow): "
        "the stateful-COUNTER operator (streaming/stream.capped_doc_"
        "stream, applyInPandasWithState) — one admitted-count per "
        "source, each state round admits its best (quality desc, id) "
        "arrivals until the cap, rank stamped continuously across "
        "rounds. State size = |sources|, never corpus-bound. In one "
        "availableNow round the decision equals the batch window "
        "exactly, so the ORACLE IS source_head_cap's OWN SQL; across "
        "rounds it degrades to best-of-each-wave — the only semantics "
        "a live frontier can honor (shipped docs cannot be retracted). "
        "Completes the stateful family: exactly-first dedup (boolean "
        "state), TTL dedup (timer state), counter cap (numeric state)")
def q_stream_source_cap(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_capped_docs_batch
    ckpt = tempfile.mkdtemp(prefix="q_stream_cap_ckpt_")
    return run_capped_docs_batch(spark, sf_dir, ckpt, cap=10,
                                 glob_filter="documents.parquet")


@register(
    "q_stream_neardup_gate",
    dd._minhash_ctes(dd.shingle_sql("documents"), 8, 2, "doc_id")
    + "\n    SELECT s.doc_id, s.doc_id IN (SELECT doc_b FROM pairs)"
      " AS is_dup FROM sigs s",
    doc="streaming MinHash-LSH near-dup gate run to completion "
        "(streaming/stream.neardup_gate_stream, availableNow): the "
        "NEAR-dup member of the stateful family (byte-identity dedup "
        "never fires on a re-crawled article with a fresh timestamp). "
        "Signatures ride minhash_signatures_inline — shingle + per-"
        "family mins as array HOFs in ONE projection, so the stream "
        "stacks no second stateful op — melted to band buckets whose "
        "state is one long (first owner) per distinct band hash; later "
        "arrivals are flagged, shipped docs never retracted. In one "
        "availableNow round the verdict equals the batch window: "
        "flagged ⟺ shares a band with a smaller id ⟺ appears as doc_b "
        "in the batch pair generator — so the oracle IS the batch "
        "family's pairs CTE, certifying stream and batch against the "
        "same SQL. State is band-vocabulary-sized, never pair-scale")
def q_stream_neardup_gate(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_neardup_gate_batch
    ckpt = tempfile.mkdtemp(prefix="q_stream_neardup_ckpt_")
    return run_neardup_gate_batch(spark, sf_dir, ckpt,
                                  glob_filter="documents.parquet")


@register(
    "q_stream_image_gate",
    f"""
    WITH sigs AS ({planted_pgm_dhash_sql("documents")}),
    melted AS (
      SELECT doc_id, simhash, b AS band,
             (simhash // CAST(pow(32768, b) AS BIGINT)) % 32768 AS nib
      FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS doc_b
      FROM melted a JOIN melted b
        ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
    )
    SELECT s.doc_id, s.doc_id IN (SELECT doc_b FROM cand) AS is_dup
    FROM sigs s
    """,
    doc="streaming perceptual-hash image near-dup gate run to "
        "completion (streaming/stream.image_neardup_gate_stream, "
        "availableNow): arriving images decode + 60-bit dHash in a "
        "stateless Arrow stage, melt to the batch family's 4x15-bit "
        "pigeonhole bands, and pass the shared first-owner band gate — "
        "exactly one stateful op, state band-vocabulary-sized, shipped "
        "images never retracted. Single-round verdict equals the batch "
        "window (flagged <=> shares a band with a smaller id), so the "
        "oracle is the banding candidate CTE — the gate is the "
        "candidate stage, exact hamming verification stays downstream "
        "in batch, same contract as the text gate")
def q_stream_image_gate(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_image_gate_batch
    ckpt = tempfile.mkdtemp(prefix="q_stream_image_gate_ckpt_")
    return run_image_gate_batch(spark, sf_dir, ckpt,
                                glob_filter="documents.parquet")


@register(
    "q_stream_audio_gate",
    f"""
    WITH sigs AS ({planted_wav_fp_sql("documents")}),
    melted AS (
      SELECT doc_id, fp, b AS band,
             (fp // CAST(pow(65536, b) AS BIGINT)) % 65536 AS nib
      FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS doc_b
      FROM melted a JOIN melted b
        ON a.band = b.band AND a.nib = b.nib AND a.doc_id < b.doc_id
    )
    SELECT s.doc_id, s.doc_id IN (SELECT doc_b FROM cand) AS is_dup
    FROM sigs s
    """,
    doc="streaming acoustic near-dup gate run to completion (streaming/"
        "stream.audio_neardup_gate_stream, availableNow): arriving "
        "clips decode + 63-bit energy-delta fingerprint in a stateless "
        "Arrow stage, melt to the batch family's 4x16-bit pigeonhole "
        "bands, and pass the shared first-owner band gate — exactly one "
        "stateful op, state band-vocabulary-sized, shipped clips never "
        "retracted. Single-round verdict equals the batch window "
        "(flagged <=> shares a band with a smaller id), so the oracle "
        "is the banding candidate CTE — same contract as the text and "
        "image gates")
def q_stream_audio_gate(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_audio_gate_batch
    ckpt = tempfile.mkdtemp(prefix="q_stream_audio_gate_ckpt_")
    return run_audio_gate_batch(spark, sf_dir, ckpt,
                                glob_filter="documents.parquet")


@register(
    "q_stream_video_gate",
    f"""
    WITH sigs AS ({planted_mjpeg_hash_sql("documents")}),
    melted AS (
      SELECT doc_id, frame_idx, simhash, b AS band,
             (simhash // CAST(pow(32768, b) AS BIGINT)) % 32768 AS nib
      FROM sigs, unnest([0, 1, 2, 3]) AS t(b)
    ),
    cand AS (
      SELECT DISTINCT b.doc_id AS doc_b
      FROM melted a JOIN melted b
        ON a.frame_idx = b.frame_idx AND a.band = b.band
       AND a.nib = b.nib AND a.doc_id < b.doc_id
    )
    SELECT DISTINCT s.doc_id, s.doc_id IN (SELECT doc_b FROM cand)
           AS is_dup
    FROM sigs s
    """,
    doc="streaming video near-dup gate run to completion (streaming/"
        "stream.video_neardup_gate_stream, availableNow) — completes "
        "the multimodal gate triple: arriving videos walk the MP4 "
        "sample table, entropy-decode + dHash their 3 sampled frames "
        "in a stateless Arrow stage, melt to (frame, band) pigeonhole "
        "keys (frame index folded into the band string, so the shared "
        "first-owner gate applies unchanged) — exactly one stateful "
        "op. Flagged <=> some frame shares a band with a smaller id — "
        "the batch video_neardup candidate stage; exact total-hamming "
        "verification stays downstream in batch")
def q_stream_video_gate(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_video_gate_batch
    ckpt = tempfile.mkdtemp(prefix="q_stream_video_gate_ckpt_")
    return run_video_gate_batch(spark, sf_dir, ckpt,
                                glob_filter="documents.parquet")


@register(
    "q_dsir_model",
    dsir.dsir_bucket_model_sql("documents", n_buckets=256),
    doc="the persistable DSIR artifact itself (operators/dsir."
        "dsir_bucket_model): per-bucket target/raw counts + the "
        "quantized log importance ratio — B rows whatever the corpus "
        "size; a production run writes this once and scores many "
        "pools against it (dsir_weights accepts model=)")
def q_dsir_model(spark, sf_dir):
    return dsir.dsir_bucket_model(_docs(spark, sf_dir), n_buckets=256)


@register(
    "q_lm_from_counts",
    lm.stupid_backoff_scores_sql("documents"),
    doc="LM scoring served from the PERSISTED count tables: train once, "
        "write (ord, gram, cnt) to parquet, score many batches from the "
        "artifact — the lifecycle a 100 TB deployment runs (the counts "
        "are vocab-scale; re-deriving them per scoring batch would "
        "re-scan the trusted corpus every time). Certified against the "
        "same oracle as the inline q_lm_scores")
def q_lm_from_counts(spark, sf_dir):
    import tempfile

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="q_lm_counts_")
    lm.train_ngram_counts(docs).write.mode("overwrite").parquet(path)
    return lm.stupid_backoff_scores(docs, spark.read.parquet(path))


@register(
    "q_dsir_from_model",
    dsir.dsir_weights_sql("documents", n_buckets=256),
    doc="DSIR scoring served from the PERSISTED B-row bucket model "
        "(dsir_weights(model=...)): the artifact q_dsir_model certifies, "
        "written to parquet and read back — scoring a new pool never "
        "re-trains. Certified against the same oracle as the inline "
        "q_dsir_weights")
def q_dsir_from_model(spark, sf_dir):
    import tempfile

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="q_dsir_model_")
    (dsir.dsir_bucket_model(docs, n_buckets=256)
     .write.mode("overwrite").parquet(path))
    return dsir.dsir_weights(docs, n_buckets=256,
                             model=spark.read.parquet(path))


@register(
    "q_unimax_sample",
    sp.unimax_sample_sql("documents", budget=2_000_000, epochs=2),
    doc="the UniMax allocation MATERIALIZED as an epoch-replicated "
        "corpus (operators/sampling.unimax_sample): the data-derived "
        "per-language epochs_used broadcast-joins back onto the docs; "
        "floor(epochs) full replicas + an epoch-salted md5-coin "
        "fractional tail explode ON THE EXECUTORS (rates are unknown "
        "until the allocation aggregate runs, so driver-side unrolling "
        "a la epoch_mixture is impossible). sf0.01 exercises the "
        "cap-bound regime, sf0.1 the equal-split regime, one query")
def q_unimax_sample(spark, sf_dir):
    return sp.unimax_sample(_docs(spark, sf_dir),
                            budget=2_000_000, epochs=2)


# =========================================================================
# Count-min sketch (operators/countmin.py) — the value-exact mergeable
# member of the sketch family
# =========================================================================

from ..operators.countmin import (  # noqa: E402
    cms_heavy_hitters, cms_heavy_hitters_sql)


@register(
    "q_cms_heavy_hitters",
    cms_heavy_hitters_sql("documents", k=20),
    doc="count-min sketch heavy hitters (countmin.cms_heavy_hitters, "
        "Cormode & Muthukrishnan): token frequencies fold into a fixed "
        "3x1024-cell sketch (one <=D*W-group aggregate after the "
        "vocabulary-scale count — memory independent of corpus AND "
        "vocabulary, cell-wise mergeable across shards/streams), then "
        "the exact top-20 tokens are scored against it. Unlike the "
        "builtin-HLL row (bound-check only), the md5-slot cells are "
        "cross-engine identical, so estimates and collision overcounts "
        "certify value-exactly; est >= exact by construction")
def q_cms_heavy_hitters(spark, sf_dir):
    return cms_heavy_hitters(_docs(spark, sf_dir), k=20)


from ..operators.countmin import cms_cells_sql  # noqa: E402


@register(
    "q_stream_cms",
    cms_cells_sql("documents"),
    doc="streaming count-min sketch run to completion (streaming/"
        "stream.cms_stream, availableNow, complete mode): every token "
        "occurrence melts into its 3 (row, slot) cells in-stream and "
        "the running aggregation state is AT MOST 3x1024 counters no "
        "matter how many petabytes flow past — the bounded-state "
        "streaming-aggregation shape sketches exist for (an exact "
        "token-count stream holds vocabulary-scale state). Cell-wise "
        "mergeability makes the per-micro-batch fold correct; the "
        "result equals the batch build cell-for-cell against the same "
        "oracle")
def q_stream_cms(spark, sf_dir):
    import tempfile

    from ..streaming.stream import run_cms_stream_batch
    return run_cms_stream_batch(
        spark, sf_dir,
        tempfile.mkdtemp(prefix="q_stream_cms_ckpt_"),
        tempfile.mkdtemp(prefix="q_stream_cms_landing_"))


@register(
    "q_quality_clf_from_model",
    ts.quality_classifier_score_fitted_sql(
        "documents",
        label_sql=ts.gopher_keep_subset_sql(rules=_CLF_FIT_RULES)),
    doc="classifier serving from a PERSISTED model artifact: the IRLS "
        "fit's (feature, weight) rows are written to parquet once and "
        "every doc scores from the artifact read BACK from disk — the "
        "train-once / apply-for-months lifecycle (q_lm_from_counts / "
        "q_dsir_from_model / q_bpe_from_merges), completed for the "
        "classifier family; scores must equal the fit-inline form, and "
        "the oracle IS the fit-inline oracle")
def q_quality_clf_from_model(spark, sf_dir):
    import tempfile

    docs = _docs(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="q_clf_model_")
    (ts.quality_classifier_fit(
        docs, label=ts.gopher_keep_subset(rules=_CLF_FIT_RULES))
     .write.mode("overwrite").parquet(path))
    return ts.quality_classifier_score_fitted(
        docs, model=spark.read.parquet(path))


from ..operators.multimodal import planted_flac_meta_sql  # noqa: E402


@register(
    "q_flac_meta",
    planted_flac_meta_sql("documents"),
    doc="FLAC metadata walk (multimodal.parse_flac_meta) — the audio "
        "family's THIRD container, the lossless archive format speech-"
        "corpus masters ship in: 'fLaC' magic, header-derived block "
        "hops (last-flag | 7-bit type, 24-bit length), the mandated "
        "STREAMINFO-first rule enforced, and the packed 64-bit "
        "rate/channels/bits/total field unpacked exactly; a PADDING "
        "block on every third id forces the hop. JVM-side byte "
        "assembly, Arrow-side parse, fields regenerated arithmetically "
        "by the oracle")
def q_flac_meta(spark, sf_dir):
    from ..operators import multimodal as mm
    docs = _docs(spark, sf_dir).select("doc_id")
    return mm.extract_flac_meta(mm.synthesize_planted_flac(docs))


_PPR_SEED = "d LIKE 'example-0.%'"


@register(
    "q_personalized_pagerank",
    gr.personalized_pagerank_sql(_PAGERANK_EDGES_SQL, _PPR_SEED, iters=3),
    doc="personalized PageRank (graph.personalized_pagerank, "
        "Haveliwala's topic-sensitive form): teleport mass — the (1-d) "
        "restart AND the dangling redistribution — lands only on the "
        "seed domains, so rank becomes proximity TO THE SEEDS: the "
        "topic-focused crawl prior / related-domain score that "
        "complements the global q_domain_pagerank. Same quantized-"
        "decimal cross-engine discipline, shuffle structure, and "
        "lineage cuts; only the two teleport terms differ")
def q_personalized_pagerank(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    parsed = wb.parse_urls(wb.synthesize_planted_urls(docs))
    links = wb.extract_links(wb.synthesize_planted_links(docs))
    return gr.personalized_pagerank(wb.domain_edges(parsed, links),
                                    _PPR_SEED, iters=3)


@register(
    "q_local_clustering",
    gr.local_clustering_sql(_PAGERANK_EDGES_SQL),
    doc="per-domain local clustering coefficients (graph."
        "local_clustering): node-level triangle counts credited to all "
        "three corners + 2t/(deg(deg-1)) — a domain whose neighborhood "
        "is a clique is a link-farm suspect even when global "
        "transitivity looks normal. Same degree-oriented wedge "
        "enumeration as the census (O(sqrt(m)) fan-out cap), one extra "
        "union over the small triangle set; degree<2 nodes report 0")
def q_local_clustering(spark, sf_dir):
    docs = _docs(spark, sf_dir).select("doc_id")
    parsed = wb.parse_urls(wb.synthesize_planted_urls(docs))
    links = wb.extract_links(wb.synthesize_planted_links(docs))
    return gr.local_clustering(wb.domain_edges(parsed, links))
