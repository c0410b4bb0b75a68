"""The declared query inventory: every entry pairs a Spark DataFrame plan
with the ANSI-SQL DuckDB oracle the driver replays at sf0.01.

Conventions (driver contract, __spark_entry__.py):
* every computed column is aliased identically in the Spark plan and the
  oracle SQL (the driver sorts columns by name before value-hashing);
* floating-point outputs that pass through an aggregation are rounded so
  summation-order differences between engines cannot flip the hash
  (money sums to their exact decimal width, ratios/similarities to 6);
* timestamps are emitted as formatted strings (engine-neutral).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    run: Callable[[SparkSession, str], DataFrame]
    oracle: Optional[str]  # ANSI SQL for DuckDB; None => rows-only check
    doc: str = ""


_REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: Optional[str], doc: str = ""):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        _REGISTRY[name] = QuerySpec(name=name, run=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# The round driver oracle-checks only the FIRST 50 registry entries, so the
# inventory order is a verification-priority list, not an aesthetic one.
# Steady state for ~148 queries / 50 slots: every entry gets a driver row at
# least every ~2.6 rounds; new or changed queries always re-enter the window
# immediately, then the longest-stale class fills the remainder.
#
# "Changed" means ANY TRANSITIVE code change (VERDICT r5 item 6): the query
# function, every worker_spark function/class/constant it reaches, or its
# oracle SQL — not just the registered function itself. This is enforced
# mechanically: tools/query_hashes.py hashes each query's transitive source
# closure (docstrings/comments stripped), tests/query_source_hashes.json
# pins the hashes, and tests/test_rotation_guard.py fails any change whose
# query is not inside _DRIVER_WINDOW[:50].
_DRIVER_WINDOW = [
    # ---- Bucketed-store rotation (after round 15). ----
    # (a) Every query transitively CHANGED by the store's JVM-local
    # empty-table read (plans/bucketed_state.local_frame): exactly
    # these 23 streaming rows, verified by tools/query_hashes.py. They
    # keep their round-14 relative order.
    "streaming_quantile_index",
    "streaming_theta_overlap",
    "streaming_mixture_ledger",
    "streaming_zorder_index",
    "streaming_curation_retrain",
    "streaming_ingest_gate",
    "streaming_contamination",
    "streaming_curation_index",
    "streaming_semdedup_prune",
    "streaming_components_index",
    "streaming_dedup_pipeline",
    "streaming_neardup_pipeline",
    "streaming_substring_pipeline",
    "streaming_substring_index",
    "streaming_exact_index",
    "streaming_minhash_index",
    "streaming_dedup_index",
    "streaming_index_bm25",
    "streaming_ivf_ann",
    "streaming_ivf_recluster",
    "streaming_heavy_hitters",
    "streaming_stratified_reservoir",
    "streaming_weighted_reservoir",
    # ---- Round-14 rotation (remainder). ----
    # (a) Every query transitively CHANGED in round 14 (verified by
    # tools/query_hashes.py against the r13 close): the 30 streaming
    # rows (23 of them now lead above), all rehashed by the shared
    # feed-staging cache (streaming/staging.py, VERDICT r13 item 1). The
    # five event-source rows lead (they sat BELOW the r13 boundary, so they are also the
    # stalest of the changed set — streaming_topk_window first, the
    # six-round perf-watch row whose fix this change is).
    "streaming_topk_window",
    "streaming_event_window_counts",
    "streaming_stateful_sessions",
    "streaming_view_purchase_join",
    "streaming_dedup_keys",
    "streaming_cms_window_users",
    "streaming_hll_window_users",
    # (a continued) the r14 OPTIMIZATION round's own changed rows: the
    # connected-components shortcut (operators/components.py path-
    # halving) transitively rehashes the four batch CC consumers —
    # verified by tools/query_hashes.py against the r13 close.
    "dedup_cluster_components",
    "dedup_cluster_components_v2",
    "dedup_best_of_cluster",
    "dedup_pagerank_centrality",
    # (b) longest-stale fill: the r9-green remainder (below the boundary
    # since r12), in its standing order, up to the 50-slot boundary.
    "sync_diff_classify",
    "top3_orders_per_segment",
    "revenue_by_nation",
    "orders_with_returns",
    "customers_without_orders",
    "customer_any_return",
    "dedup_simhash",
    "dedup_incremental",
    "doc_quality_filter",
    "doc_lang_id",
    "doc_fingerprint_dupes",
    "inline_ref_codes",
    "doc_tfidf_topk",
    "pii_redaction",
    "article_analysis",
    "kmv_distinct_users",
    # ---- driver window boundary: only the FIRST 50 entries above get
    # a driver row this round (tests/test_rotation_guard.py enforces
    # that anything transitively changed sits above this line; the four
    # CC-consumer rows displaced the last four r9 fill slots). ----
    # r9-green remainder continues, then the r10/r11/r12 blocks in
    # standing order (oldest driver row first); the r13-green block
    # (non-streaming rows displaced from the r13 window) fills last.
    "event_value_percentiles",
    "doc_dsir_selection",
    "top_revenue_orders",
    "doc_sequence_pack",
    "doc_substring_dedup_report",
    "doc_mixture_weights",
    "token_cms_heavy_hitters",
    "doc_tfidf_topk_v2",
    "doc_bm25_topk_v2",
    "doc_bm25f_topk",
    "join_skew_profile",
    "doc_rag_chunks",
    "events_zorder_layout",
    "event_funnel_conversion",
    "event_retention_cohorts",
    "event_rate_anomalies",
    "similarity_multiprobe_lsh",
    "outbox_drain_cap",
    "global_cursors",
    "doc_quota_sample",
    "bpe_train_merges",
    "bpe_encode_stats",
    "similarity_binary_topk",
    "dedup_embedding_blocked",
    "similarity_graph_ann",
    "graph_nn_descent_stats",
    "doc_ngram_novelty",
    "embedding_cluster_balance",
    "doc_char_entropy_v2",
    "doc_gopher_rules_v2",
    "similarity_ivfpq_refined_topk",
    "similarity_ivfpq_residual_topk",
    "similarity_pq_adc_topk",
    "similarity_pq_refined_topk",
    "similarity_quantized_topk",
    "similarity_pq_kmeans_topk",
    "similarity_opq_kmeans_topk",
    "similarity_lsh_ann",
    "similarity_cosine_topk",
    "dedup_translit_shingles",
    "doc_cdc_chunks",
    "doc_cdc_chunks_clamped",
    "doc_gopher_rules",
    "doc_mixture_report",
    "doc_split_assign",
    "doc_stratified_sample",
    "documents_profile",
    "event_asof_attribution",
    "event_range_join",
    "hll_distinct_users",
    "inline_ref_parse",
    "outbox_dedup_append",
    "pack_utilization",
    "place_crawl_closure",
    "reverse_invalidation",
    "search_index_config",
    "url_build_redact",
    "doc_cdc_duplicate_chunks",
    "dedup_substring_spans",
    "embedding_label_centroids",
    "bloom_membership_audit",
    "dedup_exact_v2",
    "dedup_ngram_jaccard_v2",
    "doc_substring_dedup_report_v2",
    "doc_lang_id_v2",
    "doc_quality_filter_v2",
    "token_bigram_collocations_v2",
    "dedup_simhash_v2",
    "dedup_minhash_lsh_v2",
    "doc_token_stats_v2",
    "doc_repetition_scores_v2",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "doc_token_stats",
    "doc_repetition_scores",
    "similarity_ivf_ann",
    "doc_lm_score",
    "doc_weighted_reservoir",
    "doc_hybrid_rrf_topk_v2",
    "inverted_index_postings_v2",
    "bloom_incremental_dedup",
    "crawl_frontier_schedule",
    "doc_mixture_interleave",
    "sync_outbox_tick",
    "outbox_dashboard",
    "doc_weighted_sample",
    "token_bigram_collocations",
    "doc_substring_dup_spans",
    "doc_substring_dedup_cut",
    "search_documents_flat",
    "article_search_documents",
    "doc_build_scale",
    "dedup_edit_distance",
    "contrastive_hard_negatives_v2",
    "contrastive_hard_negatives",
    "doc_curation_decision_v2",
    "doc_curation_decision",
    "multimodal_resize",
    "multimodal_frame_sample",
    "multimodal_features",
    # r13-green block (displaced from the r13 window this round; the
    # most recently driver-verified class, so it fills last)
    "event_audience_overlap",
    "lang_shingle_overlap",
    "event_quantile_sketch",
    "doc_length_quantiles",
    "benchmark_contamination",
    "semdedup_prune",
    "similarity_margin_probe_lsh",
    "event_sessions",
    "order_rollup",
    "cheapest_supplier_per_part",
    "pricing_summary",
    "status_counts",
    "key_roundtrip",
    "orders_per_customer_list",
    "event_journey",
    "dedup_minhash_lsh",
    "positional_list_parse",
    "recent_event_stats",
    "code_first_id_wins",
    "name_fallback_resolution",
    "active_entity_keys",
]


def all_queries() -> dict[str, QuerySpec]:
    # import side-effect registration
    from worker_spark.queries import (  # noqa: F401
        bpeq,
        chunkq,
        dedupq,
        docflat,
        domain,
        embstatsq,
        frontierq,
        multimodalq,
        packq,
        profileq,
        relational,
        retrievalq,
        sampleq,
        selectionq,
        sketchq,
        simq,
        streamq,
        substrq,
        syncq,
        temporalq,
        textops,
    )

    ordered = {
        name: _REGISTRY[name] for name in _DRIVER_WINDOW if name in _REGISTRY
    }
    for name, spec in _REGISTRY.items():
        ordered.setdefault(name, spec)
    return ordered
