"""Incremental inverted-index + BM25 maintenance (VERDICT r5 item 8):
the streamed, batch-at-a-time index must converge to EXACTLY the
batch-built index — postings, derived statistics and BM25 scores are
all integer/decimal-deterministic, so equality is exact, not
approximate. Plus the MERGE semantics: replays are no-ops, updated
documents replace their postings, emptied documents delete."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from worker_spark.operators.retrieval import bm25_topk, inverted_postings
from worker_spark.sources import load_table
from worker_spark.streaming.feed import file_feed_stream
from worker_spark.streaming.retrieval_index import IncrementalRetrievalIndex

QUERIES = ["hash join", "table scan fast", "sort merge"]


def _docs(spark):
    return load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _two_file_batch(spark, tmp_path, schema, first_rows, second_rows):
    """A single DataFrame backed by TWO parquet files with unambiguous
    lexicographic order (b0 < b1) — the shape of one micro-batch whose
    trigger merged two feed files (max_files_per_trigger=None), which
    is where within-batch duplicate keys arise. feed.last_wins must
    elect the b1 version."""
    import glob
    import shutil

    feed = tmp_path / "dupfeed"
    feed.mkdir()
    for i, rows in enumerate((first_rows, second_rows)):
        stage = str(tmp_path / f"_dupstage{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        shutil.move(part, str(feed / f"b{i}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)
    return spark.read.schema(schema).parquet(str(feed))


def test_duplicate_keys_in_one_batch_are_last_wins(spark, tmp_path):
    """Round-9 advice (medium): a batch carrying two versions of one
    doc_id must apply only the LAST (later-file) version — the
    reference index sink's add_or_replace-by-id — not sum both
    versions' term frequencies."""
    batch = _two_file_batch(
        spark,
        tmp_path,
        "doc_id long, text string",
        [(1, "stale stale words"), (2, "other doc")],
        [(1, "fresh words")],
    )
    idx = IncrementalRetrievalIndex(spark, str(tmp_path / "state"))
    idx.apply_batch(batch)
    got = {(r[0], r[1]): r[2] for r in _rows(idx.postings())}
    # only the corrected version's postings; nothing summed, no 'stale'
    assert got == {
        ("fresh", 1): 1,
        ("words", 1): 1,
        ("other", 2): 1,
        ("doc", 2): 1,
    }
    assert _rows(idx.doclen().select("doc_id", "dl")) == [(1, 2), (2, 2)]


def test_last_wins_is_layout_independent(spark):
    """Replay-stability contract: with no file order to consult (the
    in-memory '' source), the fingerprint tiebreak must elect the SAME
    winner per key regardless of physical layout — a replayed batch
    that repartitions differently still converges to identical state."""
    from worker_spark.streaming.feed import last_wins

    rows = [(i % 7, f"v{i}") for i in range(50)]  # 7 keys, many versions
    base = spark.createDataFrame(rows, "k long, v string")
    picks = [
        sorted(
            tuple(r) for r in last_wins(base.repartition(p), ["k"]).collect()
        )
        for p in (1, 5, 17)
    ]
    assert picks[0] == picks[1] == picks[2]
    assert len(picks[0]) == 7  # exactly one row per key


def test_merged_trigger_is_last_wins_through_the_stream(spark, tmp_path):
    """The advice's exact scenario, end-to-end: with
    max_files_per_trigger=None the file source merges a draft file and
    its correction into ONE availableNow trigger, and last_wins must
    still see per-row source files through the real streaming batch
    DataFrame (input_file_name() inside foreachBatch)."""
    import glob
    import shutil
    import time

    feed = tmp_path / "feed"
    feed.mkdir()
    now = time.time()
    rows = (
        [(1, "stale stale words"), (2, "other doc")],
        [(1, "fresh words")],
    )
    for i, batch_rows in enumerate(rows):
        stage = str(tmp_path / f"_mstage{i}")
        spark.createDataFrame(
            batch_rows, "doc_id long, text string"
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = str(feed / f"b{i}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(stage, ignore_errors=True)
        os.utime(dst, (now - 60 + i, now - 60 + i))
    idx = IncrementalRetrievalIndex(spark, str(tmp_path / "state"))
    q = file_feed_stream(
        spark,
        str(feed),
        idx,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=None,  # both files in one trigger
    )
    assert q.awaitTermination(300)
    # ONE merged trigger: the only progress entry is batch 0
    assert q.lastProgress["batchId"] == 0
    got = {(r[0], r[1]): r[2] for r in _rows(idx.postings())}
    assert got == {
        ("fresh", 1): 1,
        ("words", 1): 1,
        ("other", 2): 1,
        ("doc", 2): 1,
    }


def test_incremental_index_converges_to_batch_build(spark, tmp_path):
    docs = _docs(spark)
    idx = IncrementalRetrievalIndex(spark, str(tmp_path / "state"))
    # three deterministic batches by id residue
    for residue in range(3):
        idx.apply_batch(docs.filter(F.col("doc_id") % 3 == residue))
    # postings == the batch operator's posting lists, exactly
    assert _rows(idx.posting_lists(min_df=1)) == _rows(
        inverted_postings(docs, min_df=1)
    )
    # BM25 over maintained stats == the corpus-rescan scorer, exactly
    assert _rows(idx.bm25_topk(QUERIES, k=10)) == _rows(
        bm25_topk(docs, QUERIES, k=10)
    )


def test_apply_batch_is_idempotent_and_update_replaces(spark, tmp_path):
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    idx = IncrementalRetrievalIndex(spark, str(tmp_path / "state"))
    idx.apply_batch(docs)
    before = _rows(idx.postings())
    # replay: identical batch -> identical state (at-least-once safety)
    idx.apply_batch(docs)
    assert _rows(idx.postings()) == before
    # update: one document's text changes -> ONLY its postings change
    victim = docs.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    updated = spark.createDataFrame(
        [(int(victim), "zzupdated zzupdated zzfresh")],
        "doc_id long, text string",
    )
    idx.apply_batch(updated)
    after = {(r[0], r[1]): r[2] for r in _rows(idx.postings())}
    assert after[("zzupdated", victim)] == 2
    assert after[("zzfresh", victim)] == 1
    untouched_before = [r for r in before if r[1] != victim]
    untouched_after = [
        r for r in _rows(idx.postings()) if r[1] != victim
    ]
    assert untouched_before == untouched_after
    # delete: emptied text removes the document entirely
    idx.apply_batch(
        spark.createDataFrame([(int(victim), "")], "doc_id long, text string")
    )
    assert not [r for r in _rows(idx.postings()) if r[1] == victim]
    assert idx.doclen().filter(F.col("doc_id") == victim).count() == 0


def test_streamed_maintenance_matches_batch(spark, tmp_path):
    """End-to-end through Structured Streaming: files arrive one per
    micro-batch (maxFilesPerTrigger=1, availableNow), foreachBatch
    MERGEs each into the index; the result equals the batch build."""
    docs = _docs(spark).limit(300).localCheckpoint(eager=True)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)
    for residue in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == residue)
        batch.coalesce(1).write.mode("overwrite").parquet(
            f"{feed}/batch={residue}"
        )
    # the file source reads a flat directory: move part files up
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    import glob
    import shutil

    for i, part in enumerate(
        sorted(glob.glob(f"{feed}/batch=*/part-*.parquet"))
    ):
        shutil.copy(part, f"{flat}/b{i}.parquet")
    idx = IncrementalRetrievalIndex(spark, str(tmp_path / "state"))
    q = file_feed_stream(spark, flat, idx, str(tmp_path / "ckpt"))
    assert q.awaitTermination(120)
    assert _rows(idx.posting_lists(min_df=1)) == _rows(
        inverted_postings(docs, min_df=1)
    )
    assert _rows(idx.bm25_topk(QUERIES, k=5)) == _rows(
        bm25_topk(docs, QUERIES, k=5)
    )


def test_bm25_formula_has_one_definition():
    """The incremental scorer must reuse operators/retrieval's
    bm25_term_score — not a reimplementation (the drifting-copies review
    finding, held by inspection of the import graph)."""
    import inspect

    from worker_spark.streaming import retrieval_index as RI

    src = inspect.getsource(RI)
    assert "bm25_term_score" in src
    # and no second inline definition of the idf expression
    assert src.count("0.5) /") <= 0 or "F.log" not in src.split(
        "bm25_term_score"
    )[0]


SERVE_DOCS = [
    (1, "Fjord og fjell i Noreg"),
    (2, "blåbær og tyttebær på fjellet ved fjord"),
    (3, "hash join beats sort merge join"),
    (4, "ærfugl øy ål fjord fjord"),
]


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """A 4-document index (8 buckets) and its corpus frame, shared by
    the serve-path tests; the sf0.01 parity tests above are full-tier."""
    docs = spark.createDataFrame(SERVE_DOCS, "doc_id long, text string")
    idx = IncrementalRetrievalIndex(
        spark, str(tmp_path_factory.mktemp("serve")), n_buckets=8
    )
    idx.apply_batch(docs)
    return idx, docs


@pytest.mark.parametrize(
    "queries, max_partition_bytes",
    [
        ([], None),
        ([""], None),
        (["fjord fjord"], None),
        (["BLÅBÆR Øy"], None),
        (["zzabsent"], None),
        (["fjord", "hash join", "ærfugl ål sort zzabsent"], None),
        (["fjord", "hash join", "ærfugl ål sort zzabsent"], "1k"),
    ],
    ids=[
        "none", "blank", "repeated", "upper_aeoa", "absent", "batch3",
        "batch3_1k_partitions",
    ],
)
def test_served_topk_matches_batch_scorer(
    spark, served, queries, max_partition_bytes
):
    """Served top-k equals the batch scorer. With ``maxPartitionBytes``
    below the index's bucket files, the reads coalesce to more than one
    partition, so the plan shuffles, and the answer must not change."""
    idx, docs = served
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        if max_partition_bytes:
            spark.conf.set(key, max_partition_bytes)
        got = idx.bm25_topk(queries, k=3)
        got_rows = _rows(got)
        plan = got._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    want = bm25_topk(docs, queries, k=3)
    assert got.schema == want.schema
    assert got_rows == _rows(want)
    if max_partition_bytes:
        assert "Exchange hashpartitioning" in plan


def _jobs_in_group(spark, action) -> int:
    """Spark jobs that ``action`` launches, counted from the status
    tracker under a job group of their own. The tracker is fed
    asynchronously and in order: once a later barrier job is visible,
    every job of the action is too."""
    import time
    import uuid

    sc = spark.sparkContext
    group, probe = f"jobs-{uuid.uuid4().hex}", f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted action")
    try:
        action()
        sc.setJobGroup(probe, "listener barrier")
        spark.range(1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(probe) and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(probe)
    return len(tracker.getJobIdsForGroup(group))


def test_serve_plan_launches_no_job_and_scans_no_rdd(spark, served):
    """Building a query plan is pure planning: the term buckets come
    from the host-side hash and the query terms are a literal map, so
    no probe job runs and no scan re-runs a Python RDD. Holds while
    n_buckets <= 32: above Spark's parallel-listing threshold a read of
    every bucket path would itself launch a listing job."""
    idx, _ = served
    assert idx.store.n_buckets <= 32
    plans = []
    assert (
        _jobs_in_group(
            spark,
            lambda: plans.append(idx.bm25_topk(["fjord", "hash join"], k=3)),
        )
        == 0
    )
    (plan,) = plans
    physical = plan._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in physical and "Python" not in physical


def test_small_index_query_runs_in_two_jobs(spark, served):
    """On an index whose reads fit one partition, a query is one stage
    plus the broadcast of N and dl_sum: two Spark jobs, not one per
    exchange."""
    idx, _ = served
    plan = idx.bm25_topk(["fjord", "hash join"], k=3)
    assert _jobs_in_group(spark, plan.collect) <= 2


def _bucket_snapshot(table_dir):
    """bucket dir -> sorted (file, size) list: the 'bytes rewritten'
    witness — a bucket whose snapshot is unchanged was never rewritten
    (part-file names are generation-unique, so any rewrite changes it)."""
    out = {}
    if not os.path.isdir(table_dir):
        return out
    for name in os.listdir(table_dir):
        p = os.path.join(table_dir, name)
        if name.startswith("b") and "." not in name and os.path.isdir(p):
            out[name] = sorted(
                (f, os.path.getsize(os.path.join(p, f)))
                for f in os.listdir(p)
            )
    return out


def _changed(before, after):
    return {
        b
        for b in set(before) | set(after)
        if before.get(b) != after.get(b)
    }


def test_batch_rewrites_only_touched_buckets(spark, tmp_path):
    """The VERDICT r6/r7 scale fix: a small batch's state rewrite is
    bounded by its TOUCHED buckets (old-manifest ∪ new-term buckets for
    postings, the doc's own bucket for doclen) — never the full state.
    Unique per-doc terms spread the corpus across all postings buckets,
    so an O(state) rewrite would change every bucket and fail here."""
    from worker_spark.streaming.retrieval_index import (
        DOCLEN_SCHEMA,
        POSTINGS_SCHEMA,
    )

    root = str(tmp_path / "state")
    corpus = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c") for i in range(240)],
        "doc_id long, text string",
    )
    idx = IncrementalRetrievalIndex(spark, root)
    idx.apply_batch(corpus)
    p_dir = os.path.join(root, idx.POSTINGS)
    d_dir = os.path.join(root, idx.DOCLEN)
    p_before, d_before = _bucket_snapshot(p_dir), _bucket_snapshot(d_dir)
    assert len(p_before) == idx.store.n_buckets  # corpus fills all buckets

    victim = 7
    idx.apply_batch(
        spark.createDataFrame(
            [(victim, "zznew1 zznew2")], "doc_id long, text string"
        )
    )
    p_changed = _changed(p_before, _bucket_snapshot(p_dir))
    d_changed = _changed(d_before, _bucket_snapshot(d_dir))

    # expected touched sets, through the ONE shared bucket expression
    terms = [f"w{victim}a", f"w{victim}b", f"w{victim}c", "zznew1", "zznew2"]
    exp_p = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            spark.createDataFrame([(t,) for t in terms], "term string"),
            "term",
        )
    }
    exp_d = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            spark.createDataFrame([(victim,)], "doc_id long"), "doc_id"
        )
    }
    assert p_changed == exp_p
    assert d_changed == exp_d
    assert len(p_changed) < idx.store.n_buckets  # strictly bounded
    # and the stale-term hole the manifest exists to close: the dropped
    # w7* terms are gone even though their buckets are not in the NEW
    # batch's term set
    left = {
        r["term"]
        for r in idx.postings().filter(F.col("doc_id") == victim).collect()
    }
    assert left == {"zznew1", "zznew2"}

    # deleting the doc outright (empty text) still touches only its
    # manifest buckets, and an emptied bucket stays a readable empty dir
    p_before2 = _bucket_snapshot(p_dir)
    idx.apply_batch(
        spark.createDataFrame([(victim, "")], "doc_id long, text string")
    )
    p_changed2 = _changed(p_before2, _bucket_snapshot(p_dir))
    exp_p2 = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            spark.createDataFrame(
                [("zznew1",), ("zznew2",)], "term string"
            ),
            "term",
        )
    }
    assert p_changed2 == exp_p2
    assert idx.postings().filter(F.col("doc_id") == victim).count() == 0
    # state stays schema-readable across every bucket after the delete
    assert idx.store.read(idx.POSTINGS, POSTINGS_SCHEMA).count() == 239 * 3
    assert idx.store.read(idx.DOCLEN, DOCLEN_SCHEMA).count() == 239


def test_multifield_index_converges_to_bm25f(spark, tmp_path):
    """Multi-field (BM25F) maintenance: streaming weighted-field batches
    through the bucketed index must converge EXACTLY to the batch
    bm25f_topk build — the incremental twin of the multi-field search
    index the reference bulk-builds (title x3, body x1), and a
    composition pin across this round's two features (weighted base +
    bucketed state). Also pins the S8 replace semantics across BOTH
    fields."""
    from worker_spark.operators.retrieval import bm25f_topk
    from worker_spark.sources.synth_corpus import documents_v2_titled

    FIELDS = {"title": 3, "text": 1}
    QUERIES_F = ["t3 t40 t500", "s1 t12 t2500"]
    docs = documents_v2_titled(spark, SF_ORACLE)
    idx = IncrementalRetrievalIndex(spark, str(tmp_path / "state"))
    for residue in range(3):
        idx.apply_batch(
            docs.filter(F.col("doc_id") % 3 == residue), fields=FIELDS
        )
    got = idx.bm25_topk(QUERIES_F, k=10).withColumnRenamed("bm25", "s")
    want = bm25f_topk(
        docs, QUERIES_F, field_weights=FIELDS, k=10
    ).withColumnRenamed("bm25f", "s")
    assert _rows(got) == _rows(want)

    # an update replaces postings across BOTH fields (weighted)
    victim = 7
    idx.apply_batch(
        spark.createDataFrame(
            [(victim, "zztitle", "zzbody zzbody")],
            "doc_id long, title string, text string",
        ),
        fields=FIELDS,
    )
    after = {
        r["term"]: r["tf"]
        for r in idx.postings().filter(F.col("doc_id") == victim).collect()
    }
    assert after == {"zztitle": 3, "zzbody": 2}
    dl = idx.doclen().filter(F.col("doc_id") == victim).collect()
    assert dl[0]["dl"] == 5  # 1 title token x3 + 2 body tokens x1


@pytest.mark.parametrize(
    "kind",
    [
        "retrieval",
        "dedup_simhash",
        "minhash_lsh",
        "vector_ivf",
        "exact",
        "curation",
    ],
)
def test_rewritten_bytes_flat_in_state_size(spark, tmp_path, kind):
    """The bucketed-state sizing rule, asserted for the WHOLE index
    family (VERDICT r7 item 5; extended per r9 item 5 — measure, don't
    argue): with n_buckets scaled to hold bucket bytes constant, a
    FIXED batch's rewritten bytes stay ~flat while state grows 8x — the
    structural bound behind the wall-clock rows in NOTES
    (tools/scaling_probe.py --state measures the same thing at sf
    volumes, plus the full-store linear contrast). Bytes, not wall
    time: deterministic on a noisy host. Uses the ONE shared witness
    (bucketed_state.tree_bytes) so this bound and the probe's NOTES
    rows measure the same thing."""
    from pyspark.sql import functions as F

    from worker_spark.plans.bucketed_state import rewritten_bytes, tree_bytes
    from worker_spark.streaming.dedup_index import IncrementalDedupIndex
    from worker_spark.streaming.minhash_index import IncrementalMinHashIndex
    from worker_spark.streaming.vector_index import IncrementalVectorIndex

    def doc_corpus(n):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                F.concat(F.lit("w"), F.col("id"), F.lit("x")),
                F.concat(F.lit("w"), F.col("id"), F.lit("y")),
                F.concat(F.lit("w"), F.col("id"), F.lit("z")),
            ).alias("text"),
        )

    def vec_corpus(n, id0=0):
        return spark.range(n).select(
            (F.col("id") + F.lit(id0)).alias("vec_id"),
            F.array(
                *[
                    ((F.col("id") * (k + 3) % 97).cast("double") / 97.0)
                    .cast("float")
                    for k in range(8)
                ]
            ).alias("embedding"),
        )

    doc_batch = spark.createDataFrame(
        [(10**9 + i, f"qq{i}a qq{i}b qq{i}c") for i in range(5)],
        "doc_id long, text string",
    )
    vec_batch = vec_corpus(5, id0=10**9).localCheckpoint(eager=True)
    makers = {
        "retrieval": (
            lambda root, nb: IncrementalRetrievalIndex(
                spark, root, n_buckets=nb
            ),
            doc_corpus,
            doc_batch,
        ),
        "dedup_simhash": (
            lambda root, nb: IncrementalDedupIndex(spark, root, n_buckets=nb),
            doc_corpus,
            doc_batch,
        ),
        "minhash_lsh": (
            lambda root, nb: IncrementalMinHashIndex(
                spark, root, n_buckets=nb
            ),
            doc_corpus,
            doc_batch,
        ),
        "vector_ivf": (
            lambda root, nb: IncrementalVectorIndex(
                spark,
                root,
                centroids=vec_corpus(32, id0=9 * 10**8),
                n_buckets=nb,
            ),
            vec_corpus,
            vec_batch,
        ),
    }
    from worker_spark.streaming.exact_index import IncrementalExactIndex

    makers["exact"] = (
        lambda root, nb: IncrementalExactIndex(spark, root, n_buckets=nb),
        doc_corpus,
        doc_batch,
    )
    from worker_spark.streaming.curation_index import (
        CurationConfig,
        IncrementalCurationIndex,
    )

    makers["curation"] = (
        # thresholds don't shape the rewrite cost (every gate is
        # map-only); the LM pins once at creation and is not part of
        # the per-batch rewrite. The training corpus must COVER the
        # fixed batch's character bigrams: score_bigram_lm inner-joins
        # the model, so an uncovered batch would decide nothing and
        # the probe would measure only the delete path (review
        # finding)
        lambda root, nb: IncrementalCurationIndex(
            spark,
            root,
            lm_train_docs=doc_corpus(2_000).unionByName(doc_batch),
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
            n_buckets=nb,
        ),
        doc_corpus,
        doc_batch,
    )
    make_idx, corpus_fn, batch = makers[kind]
    rewritten = {}
    for tag, n, nb in (("small", 2_000, 16), ("big", 16_000, 128)):
        root = str(tmp_path / f"{kind}-{tag}")
        idx = make_idx(root, nb)
        idx.apply_batch(corpus_fn(n))
        before = tree_bytes(root)
        idx.apply_batch(batch)
        rewritten[tag] = rewritten_bytes(before, tree_bytes(root))
    # 8x the state, ~same bytes per batch (slack for parquet footers)
    assert rewritten["big"] < 3 * rewritten["small"], rewritten


def test_bucketed_store_upsert_and_recovery(spark, tmp_path):
    """Generic BucketedParquetStateStore contract: S7 upsert touches
    only update-key buckets; a torn per-bucket swap (.old- left, final
    missing) heals on the next read; n_buckets is pinned per root."""
    import shutil

    from pyspark.sql import types as T

    from worker_spark.plans.bucketed_state import BucketedParquetStateStore

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), False),
        ]
    )
    root = str(tmp_path / "bs")
    store = BucketedParquetStateStore(spark, root, n_buckets=8)
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(64)], schema
    )
    store.upsert("t", base, ["k"], schema)
    before = _bucket_snapshot(os.path.join(root, "t"))
    assert len(before) == 8

    upd = spark.createDataFrame([(3, "v3new"), (64, "v64")], schema)
    store.upsert("t", upd, ["k"], schema)
    after = _bucket_snapshot(os.path.join(root, "t"))
    assert _changed(before, after) == {
        f"b{b:05d}" for b in store.touched_buckets(upd, "k")
    }
    got = {r["k"]: r["v"] for r in store.read("t", schema).collect()}
    assert got[3] == "v3new" and got[64] == "v64" and len(got) == 65

    # torn swap: final renamed away to .old- (crash between renames)
    tdir = os.path.join(root, "t")
    victim_bucket = sorted(before)[0]
    os.rename(
        os.path.join(tdir, victim_bucket),
        os.path.join(tdir, f"{victim_bucket}.old-deadbeef"),
    )
    healed = {r["k"]: r["v"] for r in store.read("t", schema).collect()}
    assert healed == got  # recovery restored the displaced bucket

    # a second session on the same root adopts the pinned bucket count
    again = BucketedParquetStateStore(spark, root, n_buckets=32)
    assert again.n_buckets == 8

    # an insert landing OUTSIDE the caller-supplied touched set must
    # fail loudly before any swap (silent data loss otherwise — review
    # finding), leaving state untouched
    cand = spark.createDataFrame([(200 + i, "x") for i in range(16)], schema)
    by_bucket = {}
    for r in cand.select("k", store.bucket_of("k").alias("b")).collect():
        by_bucket.setdefault(r["b"], r["k"])
    (b0, k0), (b1, k1) = sorted(by_bucket.items())[:2]
    two = spark.createDataFrame([(k0, "a"), (k1, "b")], schema)
    buckets = sorted([b0, b1])
    import pytest as _pytest

    before_fail = _bucket_snapshot(tdir)
    with _pytest.raises(ValueError, match="touched"):
        store.delete_then_insert(
            "t",
            delete_keys=two.select("k"),
            inserts=two,
            schema=schema,
            bucket_col="k",
            touched=buckets[:1],
        )
    assert _bucket_snapshot(tdir) == before_fail  # nothing swapped

    # orphan .tmp- for a NEVER-populated bucket (crash before its first
    # commit) rolls back on recovery instead of lingering forever
    orphan = os.path.join(tdir, "b00099.tmp-deadbeef")
    os.makedirs(orphan)
    store.read("t", schema).count()
    assert not os.path.exists(orphan)
    shutil.rmtree(root)


def test_bucketed_store_rejects_legacy_flat_layout(spark, tmp_path):
    """A table dir holding parquet files directly (the pre-bucketing
    flat layout, no bucket subdirs) must FAIL a bucketed read, not be
    silently treated as empty — a restarted streaming state root would
    otherwise reset the index with no way to replay (ADVICE r8)."""
    from pyspark.sql import types as T

    from worker_spark.plans.bucketed_state import BucketedParquetStateStore

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), False),
        ]
    )
    root = str(tmp_path / "legacy")
    spark.createDataFrame([(1, "a")], schema).write.parquet(os.path.join(root, "t"))

    store = BucketedParquetStateStore(spark, root, n_buckets=4)
    with pytest.raises(RuntimeError, match="legacy flat"):
        store.read("t", schema)


def test_recovery_stage_sweep_is_age_gated(spark, tmp_path, monkeypatch):
    """Recovery sweeps only OLD orphan .stage-* dirs: a young one (an
    in-flight peer write, if the single-writer assumption were ever
    violated) survives; past the age gate it is reclaimed (ADVICE r8)."""
    from pyspark.sql import types as T

    from worker_spark.plans import bucketed_state as bs

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), False),
        ]
    )
    root = str(tmp_path / "bs2")
    store = bs.BucketedParquetStateStore(spark, root, n_buckets=4)
    store.upsert("t", spark.createDataFrame([(1, "a")], schema), ["k"], schema)
    tdir = os.path.join(root, "t")
    stage = os.path.join(tdir, ".stage-feedface")
    os.makedirs(stage)
    anchor = os.path.getmtime(stage)

    monkeypatch.setattr(bs, "_now", lambda: anchor + 1.0)
    store.read("t", schema).count()
    assert os.path.isdir(stage)  # young: survives the sweep

    monkeypatch.setattr(
        bs, "_now", lambda: anchor + bs._STAGE_SWEEP_AGE_S + 1.0
    )
    store.read("t", schema).count()
    assert not os.path.exists(stage)  # old orphan: reclaimed


@pytest.mark.parametrize("min_df", [1, 3])
def test_posting_lists_min_df_matches_batch(spark, tmp_path, min_df):
    docs = _docs(spark).limit(250).localCheckpoint(eager=True)
    idx = IncrementalRetrievalIndex(spark, str(tmp_path / "s"))
    idx.apply_batch(docs)
    assert _rows(idx.posting_lists(min_df=min_df)) == _rows(
        inverted_postings(docs, min_df=min_df)
    )


def test_bucketed_store_pins_bucket_keys(spark, tmp_path):
    """Bucket keys pin at first write; a later upsert bucketing on
    DIFFERENT columns must fail loudly (its touched-set arithmetic
    would diverge from where rows actually live), and an upsert with
    the pinned keys succeeds."""
    from pyspark.sql import types as T

    from worker_spark.plans.bucketed_state import BucketedParquetStateStore

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), False),
        ]
    )
    root = str(tmp_path / "pin")
    store = BucketedParquetStateStore(spark, root, n_buckets=4)
    store.write("t", spark.createDataFrame([(1, "a")], schema), keys=["k"])
    with pytest.raises(ValueError, match="pinned"):
        store.upsert(
            "t", spark.createDataFrame([(2, "b")], schema), ["v"], schema
        )
    store.upsert(
        "t", spark.createDataFrame([(2, "b")], schema), ["k"], schema
    )
    got = {r["k"]: r["v"] for r in store.read("t").collect()}  # schema from meta
    assert got == {1: "a", 2: "b"}


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-resume: a SECOND availableNow stream over the SAME
    checkpoint processes only files that arrived after the first drain
    (checkpointed source offsets), and the maintained index still
    converges exactly to the batch build — the restartability half of
    the at-least-once + idempotent-MERGE contract."""
    import glob
    import shutil

    docs = _docs(spark).limit(240).localCheckpoint(eager=True)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)

    def land(batch, name):
        stage = str(tmp_path / f"_stage_{name}")
        batch.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        shutil.move(part, os.path.join(feed, f"{name}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)

    land(docs.filter(F.col("doc_id") % 2 == 0), "b0")
    idx = IncrementalRetrievalIndex(spark, str(tmp_path / "state"))
    ckpt = str(tmp_path / "ckpt")
    q = file_feed_stream(spark, feed, idx, ckpt)
    assert q.awaitTermination(120)
    n_after_first = idx.doclen().count()
    assert n_after_first == docs.filter(F.col("doc_id") % 2 == 0).count()

    # the stream is gone; new files land; a fresh query on the SAME
    # checkpoint must resume, not reprocess (progress shows 1 batch of
    # new files; reprocessing b0 would also be CORRECT by idempotence,
    # but offsets make it cheap — assert the contract that matters:
    # exact convergence)
    land(docs.filter(F.col("doc_id") % 2 == 1), "b1")
    q2 = file_feed_stream(spark, feed, idx, ckpt)
    assert q2.awaitTermination(120)
    assert _rows(idx.posting_lists(min_df=1)) == _rows(
        inverted_postings(docs, min_df=1)
    )
    assert _rows(idx.bm25_topk(QUERIES, k=5)) == _rows(
        bm25_topk(docs, QUERIES, k=5)
    )


def test_write_heals_torn_swap_before_replacing(spark, tmp_path):
    """Review finding: a full replace must run recovery FIRST — a bucket
    displaced to .old-* by a prior crash is invisible to the existing-
    bucket scan, and recovery after the replace would RESURRECT rows the
    replace deleted."""
    from pyspark.sql import types as T

    from worker_spark.plans.bucketed_state import BucketedParquetStateStore

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), False),
        ]
    )
    root = str(tmp_path / "heal")
    store = BucketedParquetStateStore(spark, root, n_buckets=4)
    store.write("t", spark.createDataFrame([(i, "old") for i in range(16)], schema), keys=["k"])
    tdir = os.path.join(root, "t")
    victim = sorted(n for n in os.listdir(tdir) if n.startswith("b") and "." not in n)[0]
    # simulate a crash between the two swap renames
    os.rename(os.path.join(tdir, victim), os.path.join(tdir, f"{victim}.old-dead"))

    # replace with a frame that reaches ONE bucket only
    store.write("t", spark.createDataFrame([(1, "new")], schema))
    got = {(r["k"], r["v"]) for r in store.read("t").collect()}
    assert got == {(1, "new")}  # no resurrected pre-replace rows


def test_failed_first_write_leaves_no_existence_witness(spark, tmp_path):
    """Review finding: meta (schema/keys) becomes the existence witness
    only AFTER a successful commit — a first write that aborts pre-swap
    must leave exists() False, or a consumer like the vector index's
    centroid pinning would serve an empty table forever."""
    from pyspark.sql import types as T

    from worker_spark.plans.bucketed_state import BucketedParquetStateStore

    schema = T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("v", T.StringType(), False),
        ]
    )
    root = str(tmp_path / "wit")
    store = BucketedParquetStateStore(spark, root, n_buckets=4)
    one = spark.createDataFrame([(1, "a")], schema)
    # drive a pre-swap abort through the stray-bucket guard: declare a
    # touched set that misses the row's actual bucket
    (actual,) = store.touched_buckets(one, "k")
    wrong = [(actual + 1) % store.n_buckets]
    with pytest.raises(ValueError, match="touched"):
        store.delete_then_insert(
            "t",
            delete_keys=one.select("k"),
            inserts=one,
            schema=schema,
            bucket_col="k",
            touched=wrong,
        )
    assert not store.exists("t")
    with pytest.raises(FileNotFoundError):
        store.read("t")  # no schema witness either
    # and a successful write NOW creates the witness
    store.write("t", one, keys=["k"])
    assert store.exists("t")


def test_clone_rebucketed_resizes_the_whole_root(spark, tmp_path):
    """The sizing-rule resize path: blue/green re-shard into a fresh
    root with a different bucket count — state identical, pinned keys
    and schema witnesses carried, maintenance continues on the new
    root, and the old root stays live (crash safety by construction)."""
    import os as _os

    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    old_root = str(tmp_path / "old")
    idx = IncrementalRetrievalIndex(spark, old_root, n_buckets=8)
    idx.apply_batch(docs)
    before_postings = _rows(idx.postings())
    before_bm25 = _rows(idx.bm25_topk(QUERIES, k=10))

    new_root = str(tmp_path / "new")
    idx2 = idx.clone_rebucketed(new_root, 32)
    assert idx2.store.n_buckets == 32  # pinned from the clone
    assert _rows(idx2.postings()) == before_postings
    assert _rows(idx2.bm25_topk(QUERIES, k=10)) == before_bm25
    # more bucket dirs than the old layout actually materialized
    n_old = len(os.listdir(os.path.join(old_root, "postings")))
    n_new = len(
        [
            d
            for d in os.listdir(os.path.join(new_root, "postings"))
            if d.startswith("b")
        ]
    )
    assert n_new > n_old

    # maintenance continues on the NEW root: an update lands correctly
    victim = docs.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    idx2.apply_batch(
        spark.createDataFrame(
            [(int(victim), "zzresize zzresize")], "doc_id long, text string"
        )
    )
    after = {
        (r[0], r[1]): r[2] for r in _rows(idx2.postings()) if r[1] == victim
    }
    assert after == {("zzresize", victim): 2}
    # the OLD root is untouched — blue/green, not in-place
    assert _rows(idx.postings()) == before_postings

    # a conflicting pre-pinned target refuses loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pinned"):
        idx.store.clone_rebucketed(new_root, 64)

    # a SAME-modulus non-empty target (the aborted-clone debris case,
    # round-10 advice) refuses too: silently writing over it would keep
    # any table present there but since dropped from the source
    with _pytest.raises(ValueError, match="not empty"):
        idx.store.clone_rebucketed(new_root, 32)


def test_last_wins_refuses_map_columns(spark):
    """MapType guard (round-10 advice): to_json map key order is not
    canonical, so a map-bearing feed row could fingerprint differently
    on replay and elect a different winner — refuse at plan time, even
    when the map hides inside a struct or array."""
    import pytest as _pytest

    from worker_spark.streaming.feed import last_wins

    flat = spark.createDataFrame(
        [(1, {"a": 1})], "k long, m map<string,int>"
    )
    with _pytest.raises(ValueError, match="MapType"):
        last_wins(flat, ["k"])
    nested = spark.createDataFrame(
        [(1, ([{"a": 1}],))],
        "k long, s struct<ms: array<map<string,int>>>",
    )
    with _pytest.raises(ValueError, match="MapType"):
        last_wins(nested, ["k"])
    # map-free frames (arrays/structs included) still pass
    ok = spark.createDataFrame(
        [(1, [2, 3], (4,))], "k long, a array<int>, s struct<x: int>"
    )
    assert last_wins(ok, ["k"]).count() == 1


def test_fsck_passes_after_maintenance_and_catches_corruption(
    spark, tmp_path
):
    """The consistency checker: green after normal maintenance AND
    after a resize; loud on injected placement corruption (a bucket's
    rows moved into another bucket dir) and on a drifted manifest."""
    import shutil

    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    root = str(tmp_path / "s")
    idx = IncrementalRetrievalIndex(spark, root, n_buckets=8)
    idx.apply_batch(docs)
    idx.apply_batch(
        spark.createDataFrame(
            [(0, "zzfsck zzfsck")], "doc_id long, text string"
        )
    )
    counts = idx.fsck()
    assert counts["postings"] > 0 and counts["doclen"] > 0
    idx2 = idx.clone_rebucketed(str(tmp_path / "s2"), 32)
    idx2.fsck()

    # placement corruption: splice one populated bucket's files into a
    # DIFFERENT bucket dir — rows now live where no key hashes
    pdir = os.path.join(root, "postings")
    pops = sorted(
        d
        for d in os.listdir(pdir)
        if d.startswith("b") and os.listdir(os.path.join(pdir, d))
    )
    src, dst = pops[0], pops[-1]
    assert src != dst
    for f in os.listdir(os.path.join(pdir, src)):
        if f.endswith(".parquet"):
            shutil.move(
                os.path.join(pdir, src, f),
                os.path.join(pdir, dst, "smuggled-" + f),
            )
    with pytest.raises(RuntimeError, match="outside their key bucket"):
        idx.fsck()

    # manifest drift: hand-write a doclen with a wrong bucket set
    docs2 = docs.limit(50).localCheckpoint(eager=True)
    idx3 = IncrementalRetrievalIndex(spark, str(tmp_path / "s3"))
    idx3.apply_batch(docs2)
    dl = idx3.doclen().withColumn(
        "term_buckets",
        F.array(F.lit(0).cast("int")),  # almost surely wrong
    )
    idx3.store.write("doclen", dl, keys=["doc_id"])
    with pytest.raises(RuntimeError, match="manifest or dl drifted"):
        idx3.fsck()
