"""Benchmark harness: runs the headline catalog queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
SHORT JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {<baseline-11 subset>: sec}, "baseline11": sec,
"noise_ratio": r, "n_queries": n, "sf": ...}.

The driver records only the LAST 2000 characters of stdout (BENCH_r09/r10
both captured a mid-line fragment of the old ~10 KB all-queries line →
"parsed": null two rounds running). stdout therefore carries exactly one
line, sized well under that window; the full per-query detail (all
timings, raw samples, drift regressions) goes to BENCH_detail_latest.json
next to this file instead of stdout.

Each query runs through ``plans.runner.run_query``: shared cuts cleared,
the builder called, the full rows written to the noop sink. A warm-up
pass reads the benched tables first so per-query numbers are comparable.
``$SPARK_GRAFT_BENCH_EXTRA`` (comma-separated) adds queries; an unknown
name raises ``KeyError``.

Noise hardening: every query runs $SPARK_GRAFT_BENCH_RUNS times (default
2) and reports its BEST time — a machine-contention spike (concurrent
sweeps on the shared host) then inflates at most one run, not the
recorded number. ``runs`` keeps all raw samples and ``noise_ratio`` =
sum(worst)/sum(best) quantifies how contended the run was (≈1.0 quiet,
≫1 contended — read a large total with a large noise_ratio as machine
noise, not a regression).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_ender_turing_spark.plans.runner import run_query, warm_up
from etl_ender_turing_spark.session import get_spark

# The 11 queries BASELINE.md's "Measured engine numbers" table records
# (recorded best total 13.7 s at sf0.1) — the driver's 2x gate subset,
# reported per-query on the stdout summary line.
BASELINE11 = [
    "q1_pricing_summary", "q5_revenue_by_nation",
    "q_topk_orders_per_segment", "q_sessionize_events",
    "q_hourly_event_rollup", "q_explode_part_tokens",
    "q_dedup_latest_event", "q_rollup_order_status",
    "q_dedup_minhash_lsh", "q_dedup_embed_cosine", "q_text_quality",
]

# Headline set: the queries whose shape dominates 100 TB cost —
# wide agg, multi-join, windows, sessionization, explode.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q5_revenue_by_nation",
    "q_topk_orders_per_segment",
    "q_sessionize_events",
    "q_hourly_event_rollup",
    "q_explode_part_tokens",
    "q_dedup_latest_event",
    "q_rollup_order_status",
    # LLM-pipeline ops: content dedup, embedding similarity, text scoring
    "q_dedup_minhash_lsh",
    "q_dedup_embed_cosine",
    "q_text_quality",
    "q_repetition_signals",
    "q_decontaminate",
    # round-3 additions: embedding self-joins + the composed curation chain
    "q_semdedup_keep",
    "q_knn_graph",
    "q_incremental_dedup",
    "q_training_set",
    # round-4 additions: lexical + hybrid retrieval, source diagnostics,
    # product analytics
    "q_bm25_topk",
    "q_hybrid_rrf",
    "q_cross_source_dups",
    "q_funnel_conversion",
    "q_cohort_retention",
    # round-5 additions: zero-shuffle char entropy, the Zipf corpus
    # diagnostic, and the Arrow-batched real media-header decode
    "q_char_entropy",
    "q_zipf_slope",
    "q_media_meta",
    # round-6 additions: corpus-wide paragraph dedup, the composed
    # crawl-to-corpus web pipeline (every curation stage stacked), and
    # the stupid-backoff trigram LM scorer (train + 5-way join scoring)
    "q_paragraph_dedup",
    "q_web_curation_pipeline",
    "q_lm_scores",
    "q_dsir_weights",
    "q_llm_training_set",
    # round-6 late additions: iterative domain PageRank (link extraction
    # + per-iteration lineage cuts) and margin-based k-NN mining (the
    # knn_graph self-join consumed by three branches)
    "q_domain_pagerank",
    "q_margin_mining",
    # round-6 session-2 additions: the per-stage attrition funnel
    # (re-times the whole curation chain + 5 stage counts over
    # checkpoint-cut frames) and the curriculum manifest (value-histogram
    # bucketing + the range-partitioned global-position two-pass)
    "q_curation_attrition",
    "q_curriculum_order",
    # round-7 additions: the round-6 families that had no bench row yet
    # (silent coverage gaps read as "measured" when they aren't) plus the
    # new rewrite and multimodal-dedup operators
    "q_psi_drift",
    "q_corpus_manifest",
    "q_robots_filter",
    "q_crawl_budget",
    "q_shard_balance",
    "q_text_nfc",
    "q_span_dedup_rewrite",
    "q_image_neardup",
    # round-7 second batch: the EM tokenizer trainer (vocab-scale DP
    # folds), archive ingestion (Arrow offset walk), and the hashed
    # text-embedding build (char-gram explode + (doc, slot) agg)
    "q_unigram_lm_vocab",
    "q_warc_records",
    "q_text_hash_embed",
    # round-8 additions: variable-length span merge (islands over gram
    # runs), the in-engine IRLS classifier fit, JPEG entropy decode +
    # dHash, and the acoustic / video perceptual near-dup compositions
    # (fingerprint + banding + exact-distance verify in one plan)
    "q_span_longest_match",
    "q_quality_classifier_fit",
    "q_image_phash_jpeg",
    "q_audio_neardup",
    "q_video_neardup",
    # round-8 second batch: the multimodal capstone (gate + two
    # perceptual dedups + manifest), PNG inflate+filter decode, the MP3
    # frame hop, WebDataset shard extraction, and the JL projection
    "q_multimodal_training_set",
    "q_image_phash_png",
    "q_mp3_meta",
    "q_webdataset_pairs",
    "q_embed_random_projection",
    # round-8 third batch: compressed-archive ingestion and the
    # late-interaction retrieval composition (vocab embed + maxsim)
    "q_warc_gz_records",
    "q_late_interaction_topk",
    # round-9 additions: tokenizer serving from persisted artifacts
    # (train + write + encode-from-parquet, the full lifecycle timed),
    # the fragmented-MP4 walk, and the LI-vs-exact recall composition
    "q_bpe_from_merges",
    "q_unigram_from_vocab",
    "q_video_frag_hashes",
    "q_li_recall_check",
    # round-9: incremental media dedup vs the persisted signature store
    # (decode + store write + banded store-vs-batch join, all timed)
    "q_incremental_image_dedup",
    # round-9: the image family's second real decompressor (LZW)
    "q_image_phash_gif",
    # round-9 second batch: fuzzy entity resolution end-to-end
    # (segment blocking + levenshtein verify + clusters + survivorship),
    # ZIP central-directory ingestion, Bloom-pruned fact scan, and the
    # fifth image container
    "q_er_golden_record",
    "q_zip_members",
    "q_bloom_prune_scan",
    "q_image_phash_bmp",
    # round-9 third batch: incremental ER vs the persisted store, the
    # triangle census, the value-exact CMS, layout/basket analytics,
    # telephony decode, PRF retrieval, color luma, and the ALS step
    "q_er_match_increment",
    # round-10: indel-tolerant PassJoin blocking and golden-record
    # increment maintenance
    "q_er_indel_pairs",
    "q_er_golden_increment",
    # round-11: cross-epoch golden fold-back (two exhaustive matcher
    # passes + the members-table fold)
    "q_er_golden_cross_epoch",
    "q_triangle_stats",
    "q_cms_heavy_hitters",
    "q_zorder_pruning",
    "q_frequent_itempairs",
    "q_audio_g711_stats",
    "q_bm25_prf",
    "q_image_phash_ppm",
    "q_als_half_step",
    # round-9 fourth batch: value-exact HLL, FLAC walk, bucketed range
    # join, the Q8-shape six-table join, Holt forecasting, personalized
    # PageRank, and per-node clustering
    "q_hll_distinct",
    "q_flac_meta",
    "q_range_join_events",
    "q_market_share",
    "q_holt_forecast",
    "q_personalized_pagerank",
    "q_local_clustering",
    # round-9 final batch: robust/audit analytics and sequence models
    "q_trimmed_mean_prices",
    "q_markov_transitions",
    "q_benford_prices",
    "q_revenue_gini",
    "q_er_supplier_pairs",
    # round-13: the persisted-LI-index lifecycle row (added to the
    # catalog in the r12-inherited partial round) had no drift baseline
    "q_li_from_index",
]


def _best_prior(sf) -> dict[str, float]:
    """Per-query best-of across recorded BENCH_r*.json rounds AT THE SAME
    scale factor — the drift baseline. r3→r4 showed uniform 1.15–1.4×
    contention drift; comparing each query to its best prior round
    (alongside noise_ratio) separates a real plan regression from a loud
    machine."""
    import glob
    best: dict[str, float] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for p in sorted(glob.glob(os.path.join(here, "BENCH_r*.json"))):
        try:
            with open(p) as f:
                d = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        # the driver records bench output wrapped under "parsed" (with
        # run metadata at the top level); accept both shapes
        d = d.get("parsed") or d
        if d.get("sf") != sf:
            continue
        # r1–r4 history was measured via count(), which let Catalyst
        # prune compute-only projection columns — those numbers are not
        # comparable to noop-sink timings (projection-heavy queries look
        # "regressed" by the method change alone); only same-method
        # rounds form the drift baseline
        if d.get("method") != "noop":
            continue
        for q, t in (d.get("queries") or {}).items():
            if isinstance(t, (int, float)) and t > 0:
                best[q] = min(best.get(q, float(t)), float(t))
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    warm_up(spark, sf_dir)

    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    timings: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    extra = [n for n in os.environ.get("SPARK_GRAFT_BENCH_EXTRA", "").split(",") if n]
    for name in BENCH_QUERIES + extra:
        samples = [round(s.total_s, 3)
                   for s in run_query(spark, sf_dir, name, runs=n_runs)]
        all_runs[name] = samples
        timings[name] = min(samples)

    total = round(sum(timings.values()), 3)
    worst = sum(max(s) for s in all_runs.values())
    noise = round(worst / total, 3) if total else 1.0
    prior = _best_prior(float(sf) if sf.replace(".", "").isdigit() else sf)
    # flag same-query drift >1.5x over its best prior round; interpret
    # against noise_ratio (a contended host inflates everything at once)
    regressions = sorted(
        ({"query": q, "now": t, "best_prior": prior[q],
          "ratio": round(t / prior[q], 2)}
         for q, t in timings.items()
         if q in prior and t > 1.5 * prior[q]),
        key=lambda r: -r["ratio"])
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # effective parallelism, echoed on the stdout line so a core-count
    # probe is diagnosable (r12 PERF flagged suspect_cpus_ignored: the
    # $SPARK_GRAFT_CPUS knob IS honored — session.py builds
    # local[$SPARK_GRAFT_CPUS] — but nothing in the output proved it)
    par = spark.sparkContext.defaultParallelism
    detail = {
        "metric": "catalog_headline_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": all_runs,
        "noise_ratio": noise,
        "method": "noop",
        "regressions": regressions,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "parallelism": par,
        "sf": sf_val,
    }
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "BENCH_detail_latest.json"), "w") as f:
        json.dump(detail, f, indent=1)
    # stdout: ONE short line that fits whole inside the driver's
    # 2000-char tail capture — totals + the baseline-11 gate subset;
    # everything else lives in BENCH_detail_latest.json
    print(json.dumps({
        "metric": "catalog_headline_wall",
        "value": total,
        "unit": "sec",
        "queries": {q: timings[q] for q in BASELINE11 if q in timings},
        "baseline11": round(sum(timings[q] for q in BASELINE11
                                if q in timings), 3),
        "n_queries": len(timings),
        "noise_ratio": noise,
        "method": "noop",
        "n_regressions": len(regressions),
        "detail_file": "BENCH_detail_latest.json",
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "parallelism": par,
        "sf": sf_val,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
