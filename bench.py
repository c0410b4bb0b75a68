#!/usr/bin/env python3
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"queries": {name: sec, ...}, "metric": ..., "value": total_sec,
"unit": "sec", "sf": ..., "calibration_s": ..., "queries_file": ...}.

Each query is executed to completion (collect-to-count) after a shared
session warmup; per-query wall time includes planning + execution.
``calibration_s`` times a fixed CPU-bound Spark stage (2^28 xxhash64
folds) so cross-run ratios can be normalized for host load: divide a
round-over-round query ratio by the rounds' calibration ratio before
reading it as a regression.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",
    "top_revenue_orders",
    "revenue_by_nation",
    "orders_with_returns",
    "customer_any_return",
    "sync_diff_classify",
    "event_journey",
    "outbox_drain_cap",
    "doc_token_stats",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_cosine_topk",
    "similarity_lsh_ann",
    "dedup_embedding_blocked",
    "multimodal_features",
    "event_value_percentiles",
    "reverse_invalidation",
    "doc_build_scale",
    # round-2 additions (no r1 anchor; they join the anchor set in r2)
    "dedup_cluster_components",
    "doc_sequence_pack",
    "doc_stratified_sample",
    "similarity_quantized_topk",
    "benchmark_contamination",
    "similarity_pq_refined_topk",
    # round-3 additions (no prior anchor; they join the anchor set in r3)
    "similarity_pq_kmeans_topk",
    "doc_cdc_chunks",
    "dedup_translit_shingles",
    "doc_substring_dedup_report",
    "hll_distinct_users",
    "token_cms_heavy_hitters",
    "bpe_train_merges",
    "dedup_edit_distance",
    "token_bigram_collocations",
    # inverted_index_postings retired r9 (degenerate v1 corpus row;
    # inverted_index_postings_v2 is the canonical postings bench row)
    "similarity_opq_kmeans_topk",
    # round-4 additions (no prior anchor; they join the anchor set in r4)
    "search_documents_flat",
    "bloom_membership_audit",
    "doc_dsir_selection",
    "semdedup_prune",
    # joins the anchor set in r5
    "doc_curation_decision",
    # round-5 additions (deterministic mergeable quantile sketch;
    # HNSW-style graph ANN)
    "event_quantile_sketch",
    "similarity_graph_ann",
    # round-5 additions, second batch (theta-sketch set ops; join-skew
    # profiler) — no prior anchor; they join the anchor set in r6
    "event_audience_overlap",
    "lang_shingle_overlap",
    "join_skew_profile",
    "doc_rag_chunks",
    "events_zorder_layout",
    "similarity_binary_topk",
    "event_funnel_conversion",
    "event_retention_cohorts",
    "event_rate_anomalies",
    # joins the anchor set in r6 (added after the late-r5 re-anchor)
    "similarity_multiprobe_lsh",
    "similarity_margin_probe_lsh",
    "similarity_ivfpq_residual_topk",
    # doc_bm25_topk / doc_hybrid_rrf_topk retired r9 (v1 corpus rows;
    # the _v2 rows below are the canonical retrieval bench rows)
    "similarity_ivfpq_refined_topk",
    # round-6 late additions (streamed incremental index + windowed
    # top-k serving topology) — no prior anchor; they join in r7
    "streaming_index_bm25",
    "streaming_topk_window",
    # round-8 additions (documents_v2 realism twins — the re-anchored
    # retrieval bench rows; v1 siblings retired in r9) — they join the
    # anchor set in r8
    "doc_bm25_topk_v2",
    "inverted_index_postings_v2",
    "doc_hybrid_rrf_topk_v2",
    # round-8 LATE addition (after R8_ANCHOR was recorded) — no prior
    # anchor; it joins the anchor set in r9 (the r6-late-additions
    # precedent)
    "doc_bm25f_topk",
    # round-9 additions (A-ES weighted reservoir, cluster-balanced
    # selection, bigram novelty) — no prior anchor; they join in r9
    "doc_weighted_reservoir",
    "embedding_cluster_balance",
    "doc_ngram_novelty",
    "doc_tfidf_topk_v2",
    # round-9 LATE additions (after R9_ANCHOR was recorded): the
    # incrementally-maintained IVF vector index and SimHash dedup
    # index — no prior anchor; they join the anchor set in r10 (the
    # r6/r8 late-addition precedent)
    "streaming_ivf_ann",
    "streaming_dedup_index",
    # round-10 additions (incremental MinHash-LSH index; the v2-corpus
    # quality twins — doc_char_entropy_v2 replaces the retired v1 row)
    # — no prior anchor; they join the anchor set in r10's close anchor
    "streaming_minhash_index",
    "doc_char_entropy_v2",
    "doc_gopher_rules_v2",
    # round-11 additions (v2 corpus twins: token/repetition stats over
    # documents_v2; lexical dedup over the planted-dup corpus) — no
    # prior anchor; they join the anchor set in r11's close anchor
    "doc_token_stats_v2",
    "doc_repetition_scores_v2",
    "dedup_exact_v2",
    "dedup_ngram_jaccard_v2",
    "dedup_simhash_v2",
    "dedup_minhash_lsh_v2",
    "doc_lang_id_v2",
    "doc_quality_filter_v2",
    "token_bigram_collocations_v2",
    "doc_curation_decision_v2",
    "streaming_exact_index",
    # round-11 LATE additions (after R11_ANCHOR was recorded) — no prior
    # anchor; they join the anchor set in r12 (the r6/r8/r9 precedent)
    "dedup_cluster_components_v2",
    "doc_substring_dedup_report_v2",
    "streaming_ivf_recluster",
    "streaming_curation_index",
    "multimodal_resize",
    "multimodal_frame_sample",
    "streaming_weighted_reservoir",
    "streaming_heavy_hitters",
    "streaming_stratified_reservoir",
    # round-12 additions (the de-weaked contrastive scale path; the
    # substring + connected-components maintained indexes) — no prior
    # anchor; they join the anchor set in r12's close anchor
    "contrastive_hard_negatives_v2",
    "streaming_substring_index",
    "streaming_components_index",
    "streaming_dedup_pipeline",
    "streaming_neardup_pipeline",
    # round-12 LATE additions (after R12_ANCHOR was recorded) — no prior
    # anchor; they join the anchor set in r13 (the r6/r8/r9/r11
    # precedent)
    "streaming_semdedup_prune",
    "streaming_substring_pipeline",
    # round-13 builds (contamination screen, maintained quantile summary,
    # curation retrain lifecycle) — no prior anchor; they join the anchor
    # set in r13's close anchor
    "streaming_contamination",
    "streaming_quantile_index",
    "streaming_curation_retrain",
    "streaming_ingest_gate",
    # round-13 LATE additions (after R13_ANCHOR was recorded) — no prior
    # anchor; they join the anchor set in r14 (the standing precedent)
    "streaming_theta_overlap",
    "streaming_mixture_ledger",
    "streaming_zorder_index",
]


# Round-1 anchor (BENCH_r01.json, sf0.1, local[32], host ±30% noise): the
# regression baseline each later round compares against mechanically.
R1_ANCHOR = {
    "pricing_summary": 0.587,
    "top_revenue_orders": 3.828,
    "revenue_by_nation": 1.071,
    "orders_with_returns": 0.566,
    "customer_any_return": 0.695,
    "sync_diff_classify": 0.758,
    "event_journey": 0.251,
    "outbox_drain_cap": 0.375,
    "doc_token_stats": 0.248,
    "dedup_minhash_lsh": 6.289,
    "dedup_simhash": 4.699,
    "similarity_cosine_topk": 1.259,
    "similarity_lsh_ann": 2.036,
    "dedup_embedding_blocked": 1.813,
    "multimodal_features": 0.374,
    "event_value_percentiles": 0.201,
    "reverse_invalidation": 0.584,
    "doc_build_scale": 2.84,
}
R1_TOTAL = 28.474

# Round-2 anchor (BENCH_r02.json, same host/config): covers the full r2
# headline set, so round 3+ gets like-for-like ratios for the queries that
# joined after r1 (cluster components, packing, sampling, quantized/PQ ANN,
# contamination).
R2_ANCHOR = {
    "pricing_summary": 0.446,
    "top_revenue_orders": 1.203,
    "revenue_by_nation": 0.865,
    "orders_with_returns": 0.482,
    "customer_any_return": 0.512,
    "sync_diff_classify": 0.565,
    "event_journey": 0.2,
    "outbox_drain_cap": 0.279,
    "doc_token_stats": 0.197,
    "dedup_minhash_lsh": 3.362,
    "dedup_simhash": 3.604,
    "similarity_cosine_topk": 1.121,
    "similarity_lsh_ann": 2.22,
    "dedup_embedding_blocked": 1.881,
    "multimodal_features": 0.325,
    "event_value_percentiles": 0.198,
    "reverse_invalidation": 0.51,
    "doc_build_scale": 2.721,
    "dedup_cluster_components": 5.219,
    "doc_sequence_pack": 0.352,
    "doc_stratified_sample": 0.144,
    "similarity_quantized_topk": 0.555,
    "benchmark_contamination": 2.347,
    "similarity_pq_refined_topk": 3.752,
}


# Round-4 anchor: serialized (no concurrent Spark sessions) best-of-two run
# at sf0.1 local[32], recorded by tools/record_anchor.py during round 4
# (total 59.819s over 39 queries; total_vs_r1 0.612, total_vs_r2 0.936).
# Supersedes the contested r3 fragment (BENCH_r03.json parsed=null; see
# NOTES.md on session contention). Caveat for ratio readers: the FIRST
# bench run after heavy pytest activity measured ~1.4-3x inflated (cold
# page cache / JIT); always anchor from a second back-to-back run.
R4_ANCHOR: dict[str, float] = {
    "pricing_summary": 0.487,
    "top_revenue_orders": 1.18,
    "revenue_by_nation": 0.866,
    "orders_with_returns": 0.441,
    "customer_any_return": 0.442,
    "sync_diff_classify": 0.524,
    "event_journey": 0.187,
    "outbox_drain_cap": 0.279,
    "doc_token_stats": 0.169,
    "dedup_minhash_lsh": 2.698,
    "dedup_simhash": 2.655,
    "similarity_cosine_topk": 0.846,
    "similarity_lsh_ann": 2.093,
    "dedup_embedding_blocked": 1.843,
    "multimodal_features": 0.336,
    "event_value_percentiles": 0.214,
    "reverse_invalidation": 0.504,
    "doc_build_scale": 1.672,
    "dedup_cluster_components": 5.483,
    "doc_sequence_pack": 0.417,
    "doc_stratified_sample": 0.172,
    "similarity_quantized_topk": 0.58,
    "benchmark_contamination": 2.777,
    "similarity_pq_refined_topk": 4.094,
    "similarity_pq_kmeans_topk": 4.187,
    "doc_cdc_chunks": 1.709,
    "dedup_translit_shingles": 4.147,
    "doc_substring_dedup_report": 0.347,
    "hll_distinct_users": 0.282,
    "token_cms_heavy_hitters": 2.154,
    "bpe_train_merges": 2.629,
    "dedup_edit_distance": 1.88,
    "token_bigram_collocations": 0.742,
    "inverted_index_postings": 0.599,
    "similarity_opq_kmeans_topk": 5.775,
    "search_documents_flat": 1.174,
    "bloom_membership_audit": 0.432,
    "doc_dsir_selection": 2.05,
    "semdedup_prune": 0.753,
}

# Round-5 anchor: recorded by tools/record_anchor.py from the SECOND of two
# back-to-back serialized sf0.1 runs, re-recorded at round-5 close after the
# third-batch additions (total 93.489s over all 57 headline queries; that
# run read total_vs_r5 = 1.02 on the 51 previously-anchored queries —
# within noise). Every current headline query, including the third batch
# (multi-probe + margin-probe LSH, IVF-PQ residual + refined, BM25, hybrid
# RRF), now has a same-code anchor for round 6's comparison.
R5_ANCHOR: dict[str, float] = {
    "pricing_summary": 0.449,
    "top_revenue_orders": 1.081,
    "revenue_by_nation": 0.858,
    "orders_with_returns": 0.512,
    "customer_any_return": 0.494,
    "sync_diff_classify": 0.575,
    "event_journey": 0.202,
    "outbox_drain_cap": 0.277,
    "doc_token_stats": 0.184,
    "dedup_minhash_lsh": 3.056,
    "dedup_simhash": 2.429,
    "similarity_cosine_topk": 0.776,
    "similarity_lsh_ann": 1.727,
    "dedup_embedding_blocked": 1.782,
    "multimodal_features": 0.314,
    "event_value_percentiles": 0.167,
    "reverse_invalidation": 0.478,
    "doc_build_scale": 1.589,
    "dedup_cluster_components": 4.555,
    "doc_sequence_pack": 0.389,
    "doc_stratified_sample": 0.181,
    "similarity_quantized_topk": 0.492,
    "benchmark_contamination": 2.291,
    "similarity_pq_refined_topk": 3.432,
    "similarity_pq_kmeans_topk": 3.834,
    "doc_cdc_chunks": 1.678,
    "dedup_translit_shingles": 3.914,
    "doc_substring_dedup_report": 0.432,
    "hll_distinct_users": 0.29,
    "token_cms_heavy_hitters": 1.758,
    "bpe_train_merges": 1.758,
    "dedup_edit_distance": 1.796,
    "token_bigram_collocations": 0.6,
    "inverted_index_postings": 0.465,
    "similarity_opq_kmeans_topk": 6.452,
    "search_documents_flat": 1.174,
    "bloom_membership_audit": 0.362,
    "doc_dsir_selection": 2.014,
    "semdedup_prune": 0.803,
    "doc_curation_decision": 1.881,
    "event_quantile_sketch": 0.835,
    "similarity_graph_ann": 5.674,
    "event_audience_overlap": 0.53,
    "lang_shingle_overlap": 1.778,
    "join_skew_profile": 0.677,
    "doc_rag_chunks": 0.277,
    "events_zorder_layout": 0.758,
    "similarity_binary_topk": 1.926,
    "event_funnel_conversion": 0.576,
    "event_retention_cohorts": 0.338,
    "event_rate_anomalies": 0.268,
    "similarity_multiprobe_lsh": 1.725,
    "similarity_margin_probe_lsh": 1.857,
    "similarity_ivfpq_residual_topk": 4.723,
    "doc_bm25_topk": 1.123,
    "doc_hybrid_rrf_topk": 7.21,
    "similarity_ivfpq_refined_topk": 5.713,
}



# Round-6 anchor: recorded by tools/record_anchor.py from the SECOND of two
# back-to-back serialized sf0.1 runs at round-6 close (total 102.9s,
# calibration_s 0.207, total_vs_r5 1.10 — within the documented host
# variance). doc_hybrid_rrf_topk's semantic arm swapped from the brute
# cosine scan to the binary-Hamming shortlist; wall time at THIS sf is
# unchanged (the lexical arm dominates — the synthetic 31-token vocabulary
# makes every term match ~every document), the win is the exact-scan
# fraction, which falls as 1/N (ANN_EVAL.md hybrid rows). Use
# calibration_s ratios to normalize cross-round readings.
R6_ANCHOR: dict[str, float] = {
    "pricing_summary": 0.454,
    "top_revenue_orders": 1.089,
    "revenue_by_nation": 0.901,
    "orders_with_returns": 0.557,
    "customer_any_return": 0.471,
    "sync_diff_classify": 0.557,
    "event_journey": 0.191,
    "outbox_drain_cap": 0.277,
    "doc_token_stats": 0.188,
    "dedup_minhash_lsh": 2.662,
    "dedup_simhash": 2.57,
    "similarity_cosine_topk": 0.77,
    "similarity_lsh_ann": 1.757,
    "dedup_embedding_blocked": 1.801,
    "multimodal_features": 0.31,
    "event_value_percentiles": 0.16,
    "reverse_invalidation": 0.506,
    "doc_build_scale": 1.711,
    "dedup_cluster_components": 5.467,
    "doc_sequence_pack": 0.45,
    "doc_stratified_sample": 0.163,
    "similarity_quantized_topk": 0.473,
    "benchmark_contamination": 2.403,
    "similarity_pq_refined_topk": 4.058,
    "similarity_pq_kmeans_topk": 4.443,
    "doc_cdc_chunks": 1.956,
    "dedup_translit_shingles": 4.147,
    "doc_substring_dedup_report": 0.416,
    "hll_distinct_users": 0.263,
    "token_cms_heavy_hitters": 1.762,
    "bpe_train_merges": 1.945,
    "dedup_edit_distance": 1.788,
    "token_bigram_collocations": 0.667,
    "inverted_index_postings": 0.45,
    "similarity_opq_kmeans_topk": 6.714,
    "search_documents_flat": 1.511,
    "bloom_membership_audit": 0.476,
    "doc_dsir_selection": 2.247,
    "semdedup_prune": 1.139,
    "doc_curation_decision": 2.139,
    "event_quantile_sketch": 0.975,
    "similarity_graph_ann": 6.609,
    "event_audience_overlap": 0.671,
    "lang_shingle_overlap": 1.961,
    "join_skew_profile": 0.505,
    "doc_rag_chunks": 0.287,
    "events_zorder_layout": 0.771,
    "similarity_binary_topk": 2.492,
    "event_funnel_conversion": 0.648,
    "event_retention_cohorts": 0.436,
    "event_rate_anomalies": 0.358,
    "similarity_multiprobe_lsh": 2.412,
    "similarity_margin_probe_lsh": 2.472,
    "similarity_ivfpq_residual_topk": 5.278,
    "doc_bm25_topk": 1.238,
    "doc_hybrid_rrf_topk": 8.342,
    "similarity_ivfpq_refined_topk": 5.408,
}

# Round-8 anchor: recorded by tools/record_anchor.py from the SECOND of
# two back-to-back serialized sf0.1 runs at round-8 close (total
# 126.543s over all 62 headline queries, calibration_s 0.210,
# total_vs_r6 1.046 / adjusted 1.031 — within noise; the one flagged
# adjusted ratio, similarity_lsh_ann 1.44, is code untouched since r5
# and read 1.4-1.7x across three differently-loaded runs this session —
# host noise on a ~2s query, not a plan change). First anchor for the
# documents_v2 twins (doc_bm25_topk_v2 2.795, inverted_index_postings_v2
# 1.282, doc_hybrid_rrf_topk_v2 4.668 — vs the v1 hybrid's 8.452 on the
# same run: the realistic-vocabulary lexical arm + stop pruning halves
# the fused query) and first with the bucketed-state
# streaming_index_bm25 (8.2 vs ~4.9 on the old full-rewrite path: the
# per-bucket swap + manifest jobs cost ~1.5s/batch at demo scale — the
# deliberate bytes-for-wall trade; rewritten bytes are now O(batch),
# see NOTES r8 probe table).
R8_ANCHOR: dict[str, float] = {
    "pricing_summary": 0.471,
    "top_revenue_orders": 1.237,
    "revenue_by_nation": 0.968,
    "orders_with_returns": 0.573,
    "customer_any_return": 0.571,
    "sync_diff_classify": 0.603,
    "event_journey": 0.215,
    "outbox_drain_cap": 0.329,
    "doc_token_stats": 0.228,
    "dedup_minhash_lsh": 2.989,
    "dedup_simhash": 3.248,
    "similarity_cosine_topk": 0.997,
    "similarity_lsh_ann": 2.561,
    "dedup_embedding_blocked": 1.921,
    "multimodal_features": 0.355,
    "event_value_percentiles": 0.199,
    "reverse_invalidation": 0.54,
    "doc_build_scale": 1.857,
    "dedup_cluster_components": 5.712,
    "doc_sequence_pack": 0.511,
    "doc_stratified_sample": 0.209,
    "similarity_quantized_topk": 0.56,
    "benchmark_contamination": 2.544,
    "similarity_pq_refined_topk": 4.232,
    "similarity_pq_kmeans_topk": 4.4,
    "doc_cdc_chunks": 1.995,
    "dedup_translit_shingles": 4.45,
    "doc_substring_dedup_report": 0.538,
    "hll_distinct_users": 0.293,
    "token_cms_heavy_hitters": 1.848,
    "bpe_train_merges": 1.877,
    "dedup_edit_distance": 2.09,
    "token_bigram_collocations": 0.756,
    "inverted_index_postings": 0.452,
    "similarity_opq_kmeans_topk": 6.365,
    "search_documents_flat": 1.529,
    "bloom_membership_audit": 0.539,
    "doc_dsir_selection": 1.947,
    "semdedup_prune": 0.859,
    "doc_curation_decision": 2.347,
    "event_quantile_sketch": 1.119,
    "similarity_graph_ann": 7.3,
    "event_audience_overlap": 0.811,
    "lang_shingle_overlap": 1.768,
    "join_skew_profile": 0.458,
    "doc_rag_chunks": 0.288,
    "events_zorder_layout": 0.861,
    "similarity_binary_topk": 2.393,
    "event_funnel_conversion": 0.529,
    "event_retention_cohorts": 0.408,
    "event_rate_anomalies": 0.29,
    "similarity_multiprobe_lsh": 2.07,
    "similarity_margin_probe_lsh": 2.125,
    "similarity_ivfpq_residual_topk": 5.657,
    "doc_bm25_topk": 1.486,
    "doc_hybrid_rrf_topk": 8.452,
    "similarity_ivfpq_refined_topk": 5.649,
    "streaming_index_bm25": 8.2,
    "streaming_topk_window": 2.019,
    "doc_bm25_topk_v2": 2.795,
    "inverted_index_postings_v2": 1.282,
    "doc_hybrid_rrf_topk_v2": 4.668,
}

# Calibration reading from the SAME run that produced each anchor's
# timings (VERDICT r7 item 4): an adjusted cross-round ratio divides the
# raw ratio by (this run's calibration / the anchor run's calibration),
# normalizing out host load — the r7 verdict had to do this by hand.
# Which r6 reading is pinned here: 0.207 is from the ANCHOR-RECORDING
# run (the second of two back-to-back serialized runs at round-6 close,
# tools/record_anchor.py — the run whose per-query timings ARE
# R6_ANCHOR); the driver's own BENCH_r06.json run read 0.174, but its
# timings are not the anchor, so its calibration must not be the
# divisor — anchor timings and anchor calibration have to come from one
# run or the adjustment itself injects cross-run host skew (~19% here).
# Anchors recorded before the probe existed (r1/r2/r4/r5) have no
# calibration and get raw ratios only. Adjusted > ADJ_REGRESSION_FLAG
# is the mechanical "real regression" gate.
# Round-9 anchor: recorded by tools/record_anchor.py from the SECOND of
# two back-to-back serialized sf0.1 runs at round-9 close. First anchor
# to cover the r9 additions (A-ES reservoir, cluster balance, bigram
# novelty, tfidf v2) and the first after the v1 retrieval-row
# retirement.
R9_ANCHOR: dict[str, float] = {
    "pricing_summary": 0.492,
    "top_revenue_orders": 1.173,
    "revenue_by_nation": 0.894,
    "orders_with_returns": 0.538,
    "customer_any_return": 0.516,
    "sync_diff_classify": 0.691,
    "event_journey": 0.236,
    "outbox_drain_cap": 0.326,
    "doc_token_stats": 0.21,
    "dedup_minhash_lsh": 3.148,
    "dedup_simhash": 3.022,
    "similarity_cosine_topk": 1.067,
    "similarity_lsh_ann": 2.124,
    "dedup_embedding_blocked": 2.2,
    "multimodal_features": 0.343,
    "event_value_percentiles": 0.215,
    "reverse_invalidation": 0.554,
    "doc_build_scale": 2.064,
    "dedup_cluster_components": 5.062,
    "doc_sequence_pack": 0.52,
    "doc_stratified_sample": 0.189,
    "similarity_quantized_topk": 0.526,
    "benchmark_contamination": 2.963,
    "similarity_pq_refined_topk": 4.439,
    "similarity_pq_kmeans_topk": 5.406,
    "doc_cdc_chunks": 1.824,
    "dedup_translit_shingles": 5.382,
    "doc_substring_dedup_report": 0.537,
    "hll_distinct_users": 0.368,
    "token_cms_heavy_hitters": 1.874,
    "bpe_train_merges": 1.797,
    "dedup_edit_distance": 1.835,
    "token_bigram_collocations": 0.735,
    "similarity_opq_kmeans_topk": 6.229,
    "search_documents_flat": 1.248,
    "bloom_membership_audit": 0.389,
    "doc_dsir_selection": 2.234,
    "semdedup_prune": 0.869,
    "doc_curation_decision": 2.228,
    "event_quantile_sketch": 1.084,
    "similarity_graph_ann": 7.372,
    "event_audience_overlap": 0.699,
    "lang_shingle_overlap": 1.814,
    "join_skew_profile": 0.681,
    "doc_rag_chunks": 0.235,
    "events_zorder_layout": 0.707,
    "similarity_binary_topk": 2.685,
    "event_funnel_conversion": 0.6,
    "event_retention_cohorts": 0.352,
    "event_rate_anomalies": 0.342,
    "similarity_multiprobe_lsh": 1.986,
    "similarity_margin_probe_lsh": 2.608,
    "similarity_ivfpq_residual_topk": 5.202,
    "similarity_ivfpq_refined_topk": 5.18,
    "streaming_index_bm25": 7.18,
    "streaming_topk_window": 2.751,
    "doc_bm25_topk_v2": 2.713,
    "inverted_index_postings_v2": 1.112,
    "doc_hybrid_rrf_topk_v2": 5.848,
    "doc_bm25f_topk": 3.564,
    "doc_weighted_reservoir": 0.19,
    "embedding_cluster_balance": 0.774,
    "doc_ngram_novelty": 0.767,
    "doc_tfidf_topk_v2": 1.855,
}

# Round-10 anchor: recorded by tools/record_anchor.py from the SECOND
# of two back-to-back serialized sf0.1 runs at round-10 close. First
# anchor to cover the FULL headline set (the late-r9 streaming rows
# and the r10 additions included — VERDICT r9 item 7), so
# vs_r10_adjusted from r11 on has no uncovered headline rows.
R10_ANCHOR: dict[str, float] = {
    "pricing_summary": 0.466,
    "top_revenue_orders": 1.227,
    "revenue_by_nation": 0.974,
    "orders_with_returns": 0.509,
    "customer_any_return": 0.533,
    "sync_diff_classify": 0.635,
    "event_journey": 0.201,
    "outbox_drain_cap": 0.323,
    "doc_token_stats": 0.18,
    "dedup_minhash_lsh": 2.854,
    "dedup_simhash": 3.123,
    "similarity_cosine_topk": 0.926,
    "similarity_lsh_ann": 1.761,
    "dedup_embedding_blocked": 2.028,
    "multimodal_features": 0.306,
    "event_value_percentiles": 0.238,
    "reverse_invalidation": 0.668,
    "doc_build_scale": 2.263,
    "dedup_cluster_components": 5.235,
    "doc_sequence_pack": 0.475,
    "doc_stratified_sample": 0.184,
    "similarity_quantized_topk": 0.527,
    "benchmark_contamination": 2.452,
    "similarity_pq_refined_topk": 5.034,
    "similarity_pq_kmeans_topk": 4.306,
    "doc_cdc_chunks": 1.618,
    "dedup_translit_shingles": 5.58,
    "doc_substring_dedup_report": 0.543,
    "hll_distinct_users": 0.343,
    "token_cms_heavy_hitters": 2.035,
    "bpe_train_merges": 2.283,
    "dedup_edit_distance": 1.864,
    "token_bigram_collocations": 0.714,
    "similarity_opq_kmeans_topk": 7.308,
    "search_documents_flat": 1.378,
    "bloom_membership_audit": 0.411,
    "doc_dsir_selection": 2.29,
    "semdedup_prune": 0.798,
    "doc_curation_decision": 2.178,
    "event_quantile_sketch": 0.989,
    "similarity_graph_ann": 7.954,
    "event_audience_overlap": 0.705,
    "lang_shingle_overlap": 2.186,
    "join_skew_profile": 0.507,
    "doc_rag_chunks": 0.286,
    "events_zorder_layout": 0.704,
    "similarity_binary_topk": 2.724,
    "event_funnel_conversion": 0.541,
    "event_retention_cohorts": 0.381,
    "event_rate_anomalies": 0.38,
    "similarity_multiprobe_lsh": 2.043,
    "similarity_margin_probe_lsh": 1.915,
    "similarity_ivfpq_residual_topk": 4.583,
    "similarity_ivfpq_refined_topk": 6.418,
    "streaming_index_bm25": 8.494,
    "streaming_topk_window": 2.781,
    "doc_bm25_topk_v2": 2.81,
    "inverted_index_postings_v2": 1.279,
    "doc_hybrid_rrf_topk_v2": 5.373,
    "doc_bm25f_topk": 3.488,
    "doc_weighted_reservoir": 0.192,
    "embedding_cluster_balance": 0.746,
    "doc_ngram_novelty": 1.649,
    "doc_tfidf_topk_v2": 1.868,
    "streaming_ivf_ann": 8.367,
    "streaming_dedup_index": 10.502,
    "streaming_minhash_index": 9.943,
    "doc_char_entropy_v2": 0.62,
    "doc_gopher_rules_v2": 0.6,
}

# Round-11 anchor (second of two back-to-back serialized sf0.1 runs at
# round-11 close, calibration 0.216 pinned from the SAME run — the
# same-run rule above): first anchor covering the 79-row headline set
# including the 11 round-11 additions (v2 corpus twins, monolingual
# curation, streaming_exact_index).
R11_ANCHOR: dict[str, float] = {
    "pricing_summary": 0.453,
    "top_revenue_orders": 1.298,
    "revenue_by_nation": 1.123,
    "orders_with_returns": 0.573,
    "customer_any_return": 0.653,
    "sync_diff_classify": 0.711,
    "event_journey": 0.25,
    "outbox_drain_cap": 0.332,
    "doc_token_stats": 0.223,
    "dedup_minhash_lsh": 3.752,
    "dedup_simhash": 3.787,
    "similarity_cosine_topk": 0.968,
    "similarity_lsh_ann": 2.669,
    "dedup_embedding_blocked": 2.462,
    "multimodal_features": 0.468,
    "event_value_percentiles": 0.22,
    "reverse_invalidation": 0.699,
    "doc_build_scale": 2.081,
    "dedup_cluster_components": 5.728,
    "doc_sequence_pack": 0.57,
    "doc_stratified_sample": 0.203,
    "similarity_quantized_topk": 0.606,
    "benchmark_contamination": 3.172,
    "similarity_pq_refined_topk": 4.122,
    "similarity_pq_kmeans_topk": 5.626,
    "doc_cdc_chunks": 2.439,
    "dedup_translit_shingles": 4.849,
    "doc_substring_dedup_report": 0.511,
    "hll_distinct_users": 0.355,
    "token_cms_heavy_hitters": 1.817,
    "bpe_train_merges": 1.826,
    "dedup_edit_distance": 2.189,
    "token_bigram_collocations": 0.779,
    "similarity_opq_kmeans_topk": 6.124,
    "search_documents_flat": 1.519,
    "bloom_membership_audit": 0.511,
    "doc_dsir_selection": 2.086,
    "semdedup_prune": 0.847,
    "doc_curation_decision": 2.208,
    "event_quantile_sketch": 1.093,
    "similarity_graph_ann": 6.41,
    "event_audience_overlap": 0.614,
    "lang_shingle_overlap": 1.69,
    "join_skew_profile": 0.438,
    "doc_rag_chunks": 0.251,
    "events_zorder_layout": 0.631,
    "similarity_binary_topk": 2.359,
    "event_funnel_conversion": 0.606,
    "event_retention_cohorts": 0.345,
    "event_rate_anomalies": 0.415,
    "similarity_multiprobe_lsh": 2.111,
    "similarity_margin_probe_lsh": 2.015,
    "similarity_ivfpq_residual_topk": 5.471,
    "similarity_ivfpq_refined_topk": 5.666,
    "streaming_index_bm25": 7.194,
    "streaming_topk_window": 2.313,
    "doc_bm25_topk_v2": 2.524,
    "inverted_index_postings_v2": 1.069,
    "doc_hybrid_rrf_topk_v2": 4.971,
    "doc_bm25f_topk": 2.952,
    "doc_weighted_reservoir": 0.17,
    "embedding_cluster_balance": 0.723,
    "doc_ngram_novelty": 1.27,
    "doc_tfidf_topk_v2": 1.64,
    "streaming_ivf_ann": 7.651,
    "streaming_dedup_index": 12.81,
    "streaming_minhash_index": 8.288,
    "doc_char_entropy_v2": 0.415,
    "doc_gopher_rules_v2": 0.453,
    "doc_token_stats_v2": 0.359,
    "doc_repetition_scores_v2": 0.446,
    "dedup_exact_v2": 0.508,
    "dedup_ngram_jaccard_v2": 2.826,
    "dedup_simhash_v2": 2.874,
    "dedup_minhash_lsh_v2": 3.729,
    "doc_lang_id_v2": 0.577,
    "doc_quality_filter_v2": 0.743,
    "token_bigram_collocations_v2": 1.528,
    "doc_curation_decision_v2": 3.065,
    "streaming_exact_index": 4.995,
}


# Round-12 anchor: recorded by tools/record_anchor.py from the SECOND of
# two back-to-back serialized sf0.1 runs at round-12 close (VERDICT r11
# item 7: covers the FULL headline set — the 10 r11 late rows and the 6
# r12 rows included, so r13's adjusted comparison has no gap).
R12_ANCHOR: dict[str, float] = {
    "pricing_summary": 0.476,
    "top_revenue_orders": 1.211,
    "revenue_by_nation": 0.89,
    "orders_with_returns": 0.524,
    "customer_any_return": 0.599,
    "sync_diff_classify": 0.693,
    "event_journey": 0.219,
    "outbox_drain_cap": 0.34,
    "doc_token_stats": 0.194,
    "dedup_minhash_lsh": 3.795,
    "dedup_simhash": 3.219,
    "similarity_cosine_topk": 1.612,
    "similarity_lsh_ann": 2.36,
    "dedup_embedding_blocked": 1.872,
    "multimodal_features": 0.453,
    "event_value_percentiles": 0.201,
    "reverse_invalidation": 0.602,
    "doc_build_scale": 1.685,
    "dedup_cluster_components": 5.668,
    "doc_sequence_pack": 0.445,
    "doc_stratified_sample": 0.189,
    "similarity_quantized_topk": 0.562,
    "benchmark_contamination": 2.467,
    "similarity_pq_refined_topk": 4.13,
    "similarity_pq_kmeans_topk": 4.934,
    "doc_cdc_chunks": 1.872,
    "dedup_translit_shingles": 4.595,
    "doc_substring_dedup_report": 0.495,
    "hll_distinct_users": 0.365,
    "token_cms_heavy_hitters": 1.796,
    "bpe_train_merges": 2.26,
    "dedup_edit_distance": 2.059,
    "token_bigram_collocations": 0.727,
    "similarity_opq_kmeans_topk": 6.469,
    "search_documents_flat": 1.231,
    "bloom_membership_audit": 0.472,
    "doc_dsir_selection": 2.054,
    "semdedup_prune": 1.048,
    "doc_curation_decision": 1.582,
    "event_quantile_sketch": 0.88,
    "similarity_graph_ann": 6.118,
    "event_audience_overlap": 0.52,
    "lang_shingle_overlap": 1.527,
    "join_skew_profile": 0.446,
    "doc_rag_chunks": 0.233,
    "events_zorder_layout": 0.752,
    "similarity_binary_topk": 2.271,
    "event_funnel_conversion": 0.629,
    "event_retention_cohorts": 0.4,
    "event_rate_anomalies": 0.309,
    "similarity_multiprobe_lsh": 1.72,
    "similarity_margin_probe_lsh": 1.85,
    "similarity_ivfpq_residual_topk": 5.637,
    "similarity_ivfpq_refined_topk": 6.217,
    "streaming_index_bm25": 9.31,
    "streaming_topk_window": 2.301,
    "doc_bm25_topk_v2": 2.336,
    "inverted_index_postings_v2": 1.019,
    "doc_hybrid_rrf_topk_v2": 4.215,
    "doc_bm25f_topk": 2.862,
    "doc_weighted_reservoir": 0.159,
    "embedding_cluster_balance": 0.723,
    "doc_ngram_novelty": 1.102,
    "doc_tfidf_topk_v2": 2.048,
    "streaming_ivf_ann": 7.256,
    "streaming_dedup_index": 10.803,
    "streaming_minhash_index": 8.083,
    "doc_char_entropy_v2": 0.476,
    "doc_gopher_rules_v2": 0.507,
    "doc_token_stats_v2": 0.535,
    "doc_repetition_scores_v2": 0.609,
    "dedup_exact_v2": 0.541,
    "dedup_ngram_jaccard_v2": 3.266,
    "dedup_simhash_v2": 3.165,
    "dedup_minhash_lsh_v2": 3.066,
    "doc_lang_id_v2": 0.471,
    "doc_quality_filter_v2": 0.507,
    "token_bigram_collocations_v2": 1.402,
    "doc_curation_decision_v2": 1.659,
    "streaming_exact_index": 5.918,
    "dedup_cluster_components_v2": 4.288,
    "doc_substring_dedup_report_v2": 1.507,
    "streaming_ivf_recluster": 10.525,
    "streaming_curation_index": 12.307,
    "multimodal_resize": 0.373,
    "multimodal_frame_sample": 0.372,
    "streaming_weighted_reservoir": 3.779,
    "streaming_heavy_hitters": 5.356,
    "streaming_stratified_reservoir": 4.344,
    "contrastive_hard_negatives_v2": 5.5,
    "streaming_substring_index": 15.298,
    "streaming_components_index": 24.662,
    "streaming_dedup_pipeline": 29.615,
    "streaming_neardup_pipeline": 47.93,
}

# recorded at round-13 close by tools/record_anchor.py (the second of two
# serialized sf0.1 runs, same-run rule for timings + calibration)
R13_ANCHOR: dict[str, float] = {
    "pricing_summary": 0.43,
    "top_revenue_orders": 1.127,
    "revenue_by_nation": 0.975,
    "orders_with_returns": 0.53,
    "customer_any_return": 0.501,
    "sync_diff_classify": 0.549,
    "event_journey": 0.204,
    "outbox_drain_cap": 0.304,
    "doc_token_stats": 0.174,
    "dedup_minhash_lsh": 3.159,
    "dedup_simhash": 2.538,
    "similarity_cosine_topk": 0.874,
    "similarity_lsh_ann": 1.897,
    "dedup_embedding_blocked": 1.724,
    "multimodal_features": 0.35,
    "event_value_percentiles": 0.193,
    "reverse_invalidation": 0.613,
    "doc_build_scale": 1.931,
    "dedup_cluster_components": 5.452,
    "doc_sequence_pack": 0.357,
    "doc_stratified_sample": 0.177,
    "similarity_quantized_topk": 0.615,
    "benchmark_contamination": 2.42,
    "similarity_pq_refined_topk": 3.271,
    "similarity_pq_kmeans_topk": 3.976,
    "doc_cdc_chunks": 1.451,
    "dedup_translit_shingles": 4.012,
    "doc_substring_dedup_report": 0.468,
    "hll_distinct_users": 0.315,
    "token_cms_heavy_hitters": 1.768,
    "bpe_train_merges": 1.906,
    "dedup_edit_distance": 1.65,
    "token_bigram_collocations": 0.65,
    "similarity_opq_kmeans_topk": 5.231,
    "search_documents_flat": 1.26,
    "bloom_membership_audit": 0.4,
    "doc_dsir_selection": 2.458,
    "semdedup_prune": 0.768,
    "doc_curation_decision": 1.629,
    "event_quantile_sketch": 0.832,
    "similarity_graph_ann": 5.889,
    "event_audience_overlap": 0.403,
    "lang_shingle_overlap": 1.466,
    "join_skew_profile": 0.434,
    "doc_rag_chunks": 0.218,
    "events_zorder_layout": 0.675,
    "similarity_binary_topk": 2.4,
    "event_funnel_conversion": 0.544,
    "event_retention_cohorts": 0.425,
    "event_rate_anomalies": 0.296,
    "similarity_multiprobe_lsh": 1.983,
    "similarity_margin_probe_lsh": 2.134,
    "similarity_ivfpq_residual_topk": 4.6,
    "similarity_ivfpq_refined_topk": 4.739,
    "streaming_index_bm25": 5.877,
    "streaming_topk_window": 2.226,
    "doc_bm25_topk_v2": 2.367,
    "inverted_index_postings_v2": 1.244,
    "doc_hybrid_rrf_topk_v2": 5.494,
    "doc_bm25f_topk": 4.462,
    "doc_weighted_reservoir": 0.155,
    "embedding_cluster_balance": 0.727,
    "doc_ngram_novelty": 2.01,
    "doc_tfidf_topk_v2": 2.822,
    "streaming_ivf_ann": 6.622,
    "streaming_dedup_index": 8.682,
    "streaming_minhash_index": 7.125,
    "doc_char_entropy_v2": 0.478,
    "doc_gopher_rules_v2": 0.526,
    "doc_token_stats_v2": 0.477,
    "doc_repetition_scores_v2": 0.548,
    "dedup_exact_v2": 0.671,
    "dedup_ngram_jaccard_v2": 3.449,
    "dedup_simhash_v2": 2.997,
    "dedup_minhash_lsh_v2": 4.413,
    "doc_lang_id_v2": 0.544,
    "doc_quality_filter_v2": 0.635,
    "token_bigram_collocations_v2": 1.681,
    "doc_curation_decision_v2": 1.91,
    "streaming_exact_index": 4.066,
    "dedup_cluster_components_v2": 5.856,
    "doc_substring_dedup_report_v2": 1.456,
    "streaming_ivf_recluster": 9.124,
    "streaming_curation_index": 12.069,
    "multimodal_resize": 0.343,
    "multimodal_frame_sample": 0.323,
    "streaming_weighted_reservoir": 2.697,
    "streaming_heavy_hitters": 3.691,
    "streaming_stratified_reservoir": 3.88,
    "contrastive_hard_negatives_v2": 3.778,
    "streaming_substring_index": 11.533,
    "streaming_components_index": 22.959,
    "streaming_dedup_pipeline": 19.437,
    "streaming_neardup_pipeline": 36.005,
    "streaming_semdedup_prune": 6.732,
    "streaming_substring_pipeline": 34.682,
    "streaming_contamination": 19.549,
    "streaming_quantile_index": 4.017,
    "streaming_curation_retrain": 21.273,
    "streaming_ingest_gate": 32.826,
}


# Round-14 anchor: recorded by tools/record_anchor.py from the SECOND of
# two back-to-back serialized sf0.1 runs at round-14 (optimization round
# 1) close — the first anchor covering the three late-r13 structures
# (theta overlap, mixture ledger, z-order index) per VERDICT r13 item 2.
R14_ANCHOR: dict[str, float] = {
    "pricing_summary": 0.468,
    "top_revenue_orders": 1.065,
    "revenue_by_nation": 0.955,
    "orders_with_returns": 0.487,
    "customer_any_return": 0.502,
    "sync_diff_classify": 0.575,
    "event_journey": 0.179,
    "outbox_drain_cap": 0.314,
    "doc_token_stats": 0.2,
    "dedup_minhash_lsh": 3.126,
    "dedup_simhash": 3.432,
    "similarity_cosine_topk": 0.906,
    "similarity_lsh_ann": 2.274,
    "dedup_embedding_blocked": 2.138,
    "multimodal_features": 0.467,
    "event_value_percentiles": 0.223,
    "reverse_invalidation": 0.609,
    "doc_build_scale": 2.178,
    "dedup_cluster_components": 6.089,
    "doc_sequence_pack": 0.474,
    "doc_stratified_sample": 0.196,
    "similarity_quantized_topk": 0.61,
    "benchmark_contamination": 3.028,
    "similarity_pq_refined_topk": 4.935,
    "similarity_pq_kmeans_topk": 5.55,
    "doc_cdc_chunks": 2.019,
    "dedup_translit_shingles": 5.079,
    "doc_substring_dedup_report": 0.585,
    "hll_distinct_users": 0.376,
    "token_cms_heavy_hitters": 1.87,
    "bpe_train_merges": 1.866,
    "dedup_edit_distance": 2.098,
    "token_bigram_collocations": 0.743,
    "similarity_opq_kmeans_topk": 7.486,
    "search_documents_flat": 1.678,
    "bloom_membership_audit": 0.516,
    "doc_dsir_selection": 2.34,
    "semdedup_prune": 0.793,
    "doc_curation_decision": 1.577,
    "event_quantile_sketch": 0.863,
    "similarity_graph_ann": 5.882,
    "event_audience_overlap": 0.42,
    "lang_shingle_overlap": 1.675,
    "join_skew_profile": 0.492,
    "doc_rag_chunks": 0.283,
    "events_zorder_layout": 0.806,
    "similarity_binary_topk": 2.245,
    "event_funnel_conversion": 0.512,
    "event_retention_cohorts": 0.448,
    "event_rate_anomalies": 0.349,
    "similarity_multiprobe_lsh": 2.804,
    "similarity_margin_probe_lsh": 2.984,
    "similarity_ivfpq_residual_topk": 6.026,
    "similarity_ivfpq_refined_topk": 5.501,
    "streaming_index_bm25": 6.074,
    "streaming_topk_window": 2.151,
    "doc_bm25_topk_v2": 2.693,
    "inverted_index_postings_v2": 1.294,
    "doc_hybrid_rrf_topk_v2": 4.716,
    "doc_bm25f_topk": 3.365,
    "doc_weighted_reservoir": 0.175,
    "embedding_cluster_balance": 0.865,
    "doc_ngram_novelty": 1.569,
    "doc_tfidf_topk_v2": 2.428,
    "streaming_ivf_ann": 6.865,
    "streaming_dedup_index": 10.209,
    "streaming_minhash_index": 7.001,
    "doc_char_entropy_v2": 0.523,
    "doc_gopher_rules_v2": 0.61,
    "doc_token_stats_v2": 0.514,
    "doc_repetition_scores_v2": 0.551,
    "dedup_exact_v2": 0.534,
    "dedup_ngram_jaccard_v2": 2.954,
    "dedup_simhash_v2": 3.426,
    "dedup_minhash_lsh_v2": 3.726,
    "doc_lang_id_v2": 0.541,
    "doc_quality_filter_v2": 0.571,
    "token_bigram_collocations_v2": 1.36,
    "doc_curation_decision_v2": 1.939,
    "streaming_exact_index": 4.086,
    "dedup_cluster_components_v2": 4.636,
    "doc_substring_dedup_report_v2": 1.625,
    "streaming_ivf_recluster": 9.665,
    "streaming_curation_index": 10.956,
    "multimodal_resize": 0.318,
    "multimodal_frame_sample": 0.32,
    "streaming_weighted_reservoir": 2.179,
    "streaming_heavy_hitters": 3.534,
    "streaming_stratified_reservoir": 3.053,
    "contrastive_hard_negatives_v2": 5.774,
    "streaming_substring_index": 12.013,
    "streaming_components_index": 11.794,
    "streaming_dedup_pipeline": 16.451,
    "streaming_neardup_pipeline": 32.924,
    "streaming_semdedup_prune": 6.301,
    "streaming_substring_pipeline": 32.858,
    "streaming_contamination": 18.967,
    "streaming_quantile_index": 3.844,
    "streaming_curation_retrain": 18.703,
    "streaming_ingest_gate": 19.033,
    "streaming_theta_overlap": 3.115,
    "streaming_mixture_ledger": 6.326,
    "streaming_zorder_index": 4.289,
}


ANCHOR_CALIBRATION: dict[str, float] = {
    "r6": 0.207,
    "r8": 0.210,
    "r9": 0.242,
    # pinned by the R10 anchor-recording run (same-run rule above): the
    # second of two back-to-back serialized sf0.1 runs at round-10
    # close (its sibling first run read calibration 0.156 with total
    # 131.2s — the documented ±30% host swing between adjacent runs;
    # anchor timings and calibration come from ONE run)
    "r10": 0.227,
    # pinned by the R11 anchor-recording run (same rule): the second of
    # two back-to-back serialized sf0.1 runs at round-11 close (sibling
    # first run: 193.3s at calibration 0.245)
    "r11": 0.216,
    # pinned by the R12 anchor-recording run (same rule): the second of
    # two back-to-back serialized sf0.1 runs at round-12 close (sibling
    # first run: 333.3s at calibration 0.181; totals within 1%, flag
    # sets disjoint — the ±30% host swing, not regressions)
    "r12": 0.231,
    # pinned by the R13 anchor-recording run (same rule): the second of
    # two back-to-back serialized sf0.1 runs at round-13 close (sibling
    # first run: 396.1s at calibration 0.189 — totals within 3.4%).
    # CAVEAT (NOTES r13): both close runs AND an r12-TREE probe on the
    # same day ran the memory/shuffle-heavy rows 1.3-1.8x the r12
    # anchor raw while this CPU-bound calibration read FASTER (0.188 vs
    # 0.231) — a calibration blind spot on this host window, not code.
    "r13": 0.188,
    # pinned by the R14 anchor-recording run (same-run rule): the THIRD
    # serialized sf0.1 run at the r14 optimization-round close — runs 1
    # and 2 of the usual pair hit a noisy-neighbor window (calibrations
    # 0.283 and 0.537; run 2's raw totals are unusable), so the anchor
    # comes from the first run whose window matches the round's own
    # pre-optimization baseline measurement (0.290 vs 0.295).
    "r14": 0.290,
}
ADJ_REGRESSION_FLAG = 1.3


def _audience_overlap_no_audit(spark, sf_dir):
    """Bench variant of event_audience_overlap WITHOUT the audit leg
    (VERDICT r11 'What's wrong #4'): the exact-distinct audit self-join
    is the sf-scale verification surface, not the production plan —
    audit=False is the documented 100 TB path, and its Python-worker-
    heavy exact leg was the noise source that flagged this row >1.3x
    adjusted in five consecutive rounds with disjoint sibling flag sets.
    The CORRECTNESS row keeps the audited plan (the oracle checks the
    audit columns); the BENCH row measures what production runs."""
    from worker_spark.operators import sketches as K
    from worker_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    return K.theta_set_ops(ev, "user_id", "event_type", audit=False)


# name -> callable replacing the registered spec ON THE BENCH ONLY (the
# driver's correctness run still uses the registered query unchanged)
BENCH_OVERRIDES = {
    "event_audience_overlap": _audience_overlap_no_audit,
}

# Anchors recorded BEFORE an override landed measured the un-overridden
# plan; comparing the overridden timing against them reads as a spurious
# speedup (ADVICE r12). Each overridden row names the first anchor tag
# recorded with the override active — it is excluded from every earlier
# tag's comparison and compared normally from that tag onward.
OVERRIDE_PLAN_CONSISTENT_SINCE = {
    "event_audience_overlap": "r12",
}
ANCHOR_TAG_ORDER = [
    "r1", "r2", "r4", "r5", "r6", "r8", "r9", "r10", "r11", "r12", "r13",
    "r14",
]


def _plan_consistent(name: str, tag: str) -> bool:
    since = OVERRIDE_PLAN_CONSISTENT_SINCE.get(name)
    if since is None:
        return True
    return ANCHOR_TAG_ORDER.index(tag) >= ANCHOR_TAG_ORDER.index(since)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from worker_spark.queries import all_queries
    from worker_spark.session import get_spark

    spark = get_spark("worker_spark_bench", cpus=cpus)
    specs = all_queries()

    # warmup: JVM + parquet footer caches on a trivial plan
    specs["pricing_summary"].run(spark, sf_dir).count()

    # noise calibration (VERDICT r5 item 5): a FIXED CPU-bound stage —
    # fold 2^28 rows through xxhash64 in one whole-stage-codegen pass
    # (bit_xor fold: ANSI SUM over 64-bit hashes overflows — NOTES.md),
    # no data dependence, no shuffle growth — whose wall time moves only
    # with host load. Judges divide cross-round per-query ratios by the
    # calibration ratio to normalize out the documented ±30%
    # noisy-neighbor variance mechanically. Best-of-three, same policy
    # as the queries.
    from pyspark.sql import functions as _F

    calib = None
    for _ in range(3):
        t0 = time.perf_counter()
        (
            spark.range(1 << 28)
            .select(_F.expr("bit_xor(xxhash64(id))").alias("h"))
            .collect()
        )
        e = time.perf_counter() - t0
        calib = e if calib is None else min(calib, e)
    calibration_s = round(calib, 3)
    print(f"# calibration_s: {calibration_s:.3f}", file=sys.stderr)

    timings: dict[str, float] = {}
    for name in HEADLINE:
        # best of two runs: damps host-level noise and reports warm
        # (JIT-compiled) performance, which is what a long-running cluster
        # job actually sees
        best, n = None, 0
        override = BENCH_OVERRIDES.get(name)
        for _ in range(2):
            t0 = time.perf_counter()
            if override is not None:
                n = override(spark, sf_dir).count()
            else:
                n = specs[name].run(spark, sf_dir).count()
            elapsed = time.perf_counter() - t0
            best = elapsed if best is None else min(best, elapsed)
            # drop per-query caches (dedup pipelines cache intermediates) so
            # later queries aren't taxed by stale cache memory
            spark.catalog.clearCache()
        timings[name] = round(best, 3)
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    total = round(sum(timings.values()), 3)
    # The driver captures a bounded TAIL of stdout (the r3 record was once
    # truncated mid-line by the per-anchor ratio dicts). Three rules: the
    # stdout line carries the contract fields (metric/value/unit/queries/sf
    # — per-query times INCLUDED, per VERDICT r14 item 1) plus a few short
    # summary scalars and is the LAST thing printed; the long per-query
    # dict is serialized FIRST, so a truncated head never costs the
    # contract scalars at the tail; the full record (every anchor's
    # ratios, anchored totals, regression flags) goes to a file.
    contract = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf else None,
        "calibration_s": calibration_s,
    }
    out = {"queries": timings}
    full = {"queries": timings, **contract}
    if abs((float(sf) if sf else 0) - 0.1) < 1e-9:
        # regression ratios vs prior-round anchors (only meaningful at the
        # anchor's scale factor); >1 = slower than that round. Compare
        # like-for-like: only queries present in each anchor (the headline
        # set grows per round; a raw total ratio would read as a regression
        # when it's actually new coverage).
        for tag, anchor in (
            ("r1", R1_ANCHOR),
            ("r2", R2_ANCHOR),
            ("r4", R4_ANCHOR),
            ("r5", R5_ANCHOR),
            ("r6", R6_ANCHOR),
            ("r8", R8_ANCHOR),
            ("r9", R9_ANCHOR),
            ("r10", R10_ANCHOR),
            ("r11", R11_ANCHOR),
            ("r12", R12_ANCHOR),
            ("r13", R13_ANCHOR),
            ("r14", R14_ANCHOR),
        ):
            anchored = [
                n
                for n in timings
                if n in anchor and _plan_consistent(n, tag)
            ]
            if not anchored:
                continue
            full[f"vs_{tag}"] = {
                n: round(timings[n] / anchor[n], 2) for n in anchored
            }
            full[f"anchored_total_{tag}"] = round(
                sum(timings[n] for n in anchored), 3
            )
            full[f"total_vs_{tag}"] = round(
                full[f"anchored_total_{tag}"] / sum(anchor[n] for n in anchored), 3
            )
            if ANCHOR_CALIBRATION.get(tag) is not None:
                # host-load normalization: divide by the calibration
                # ratio of THIS run vs the anchor's recording run
                load = calibration_s / ANCHOR_CALIBRATION[tag]
                full[f"vs_{tag}_adjusted"] = {
                    n: round(timings[n] / anchor[n] / load, 2)
                    for n in anchored
                }
                full[f"total_vs_{tag}_adjusted"] = round(
                    full[f"total_vs_{tag}"] / load, 3
                )
                full[f"regressions_{tag}_adjusted"] = {
                    n: r
                    for n, r in full[f"vs_{tag}_adjusted"].items()
                    if r > ADJ_REGRESSION_FLAG
                }
        # a few headline summary ratios on the stdout line itself (short
        # scalar fields; the full per-anchor record lives in the file).
        # r15 measurement fix (VERDICT r14 item 1): the per-query dict now
        # ALWAYS rides on the stdout line, so the line is kept otherwise
        # lean — the older anchors' scalars moved to the file-only record.
        for k in (
            "total_vs_r1",
            "total_vs_r13_adjusted",
            "total_vs_r14_adjusted",
        ):
            if k in full:
                out[k] = full[k]
    here = os.path.dirname(os.path.abspath(__file__))
    # r15 measurement fix (VERDICT r14 item 1): per-run output files keyed
    # by core count, so the low-core scaling run no longer overwrites the
    # main run's per-query record. BENCH_out.json stays as the
    # latest-run alias for back-compat.
    per_run = f"BENCH_out_c{cpus}.json"
    for fname in (per_run, "BENCH_out.json"):
        with open(os.path.join(here, fname), "w") as f:
            json.dump(full, f, indent=1)
    out.update(contract, queries_file=per_run)
    line = json.dumps(out)
    # stop BEFORE the final print so no Spark shutdown chatter can land in
    # the driver's tail window after the JSON line
    spark.stop()
    sys.stdout.flush()
    sys.stderr.flush()
    print(line, flush=True)


if __name__ == "__main__":
    main()
