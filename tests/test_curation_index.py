"""Incremental curation index (streaming/curation_index.py): streamed,
batch-at-a-time decision maintenance must converge EXACTLY to the batch
curation query over the canonical corpus — the LM is pinned at creation
(offline-train/online-apply) and every gate is deterministic, so
equality is exact. Plus the MERGE semantics (replays are no-ops,
updated documents are re-decided, empty text deletes), the pinned
config discipline (mismatched reopen refuses; bare reopen loads), and
the bucket economics (a small batch rewrites only its own doc
buckets)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.streaming.curation_index import (
    CurationConfig,
    IncrementalCurationIndex,
)


def _cfg() -> CurationConfig:
    from worker_spark.operators.text import GOPHER_MIN_STOPWORD_HITS
    from worker_spark.queries.textops import (
        _GOPHER_MIN_WORDS,
        _GOPHER_SW,
        CURATION2_MAX_TBR,
        CURATION2_MIN_LOGP,
        CURATION2_MIN_QUALITY,
        CURATION2_MIN_TTR,
        CURATION2_TARGET,
    )

    return CurationConfig(
        target_lang=CURATION2_TARGET,
        min_quality=CURATION2_MIN_QUALITY,
        min_ttr=CURATION2_MIN_TTR,
        max_tbr=CURATION2_MAX_TBR,
        min_logp=CURATION2_MIN_LOGP,
        gopher_min_words=_GOPHER_MIN_WORDS,
        gopher_stopwords=_GOPHER_SW,
        gopher_min_sw_hits=GOPHER_MIN_STOPWORD_HITS,
    )


def _docs(spark):
    from worker_spark.sources.synth_corpus import documents_v2_lang

    return (
        documents_v2_lang(spark, SF_ORACLE)
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streamed_decisions_converge_to_batch_curation(spark, tmp_path):
    """Three batches — evens with a stale 40-char draft for doc_id%10==0,
    odds, then the corrected drafts — must land on the batch curation
    query's decisions bit-for-bit (two INDEPENDENT implementations: the
    batch query trains its LM inline via bigram_lm_scores; the index
    scores against the model pinned at creation)."""
    from worker_spark.queries.textops import q_doc_curation_decision_v2

    docs = _docs(spark)
    idx = IncrementalCurationIndex(
        spark, str(tmp_path / "c"), lm_train_docs=docs, config=_cfg()
    )
    stale = F.col("doc_id") % 10 == 0
    idx.apply_batch(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id",
            F.when(stale, F.substring("text", 1, 40))
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    idx.apply_batch(docs.filter(F.col("doc_id") % 2 == 1))
    idx.apply_batch(docs.filter(stale))

    want = _rows(
        q_doc_curation_decision_v2(spark, SF_ORACLE).drop("true_lang")
    )
    assert _rows(idx.decisions()) == want
    # the funnel dashboard is consistent with the decisions
    n_kept = idx.kept_ids().count()
    dash = {
        r["reject_reason"]: r["n_docs"] for r in idx.dashboard().collect()
    }
    assert dash.get("kept", 0) == n_kept
    assert sum(dash.values()) == idx.decisions().count()


def test_replay_is_noop_and_empty_text_deletes(spark, tmp_path):
    docs = _docs(spark).limit(300).localCheckpoint(eager=True)
    idx = IncrementalCurationIndex(
        spark, str(tmp_path / "c"), lm_train_docs=docs, config=_cfg()
    )
    idx.apply_batch(docs)
    before = _rows(idx.decisions())
    idx.apply_batch(docs.limit(50))  # replay a subset: identical rows
    assert _rows(idx.decisions()) == before

    victim = docs.select(F.min("doc_id")).collect()[0][0]
    idx.apply_batch(
        spark.createDataFrame([(victim, "   ")], "doc_id long, text string")
    )
    assert (
        idx.decisions().filter(F.col("doc_id") == victim).count() == 0
    )
    assert idx.decisions().count() == len(before) - 1
    idx.fsck()


def test_config_and_lm_pin_discipline(spark, tmp_path):
    """Reopening with a DIFFERENT config refuses (two threshold regimes
    in one decisions table is silent corruption); a bare reopen loads
    the pinned config; re-supplying a training corpus refuses (one
    model per root — the retrain is a fresh root)."""
    import dataclasses

    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    root = str(tmp_path / "c")
    cfg = _cfg()
    idx = IncrementalCurationIndex(
        spark, root, lm_train_docs=docs, config=cfg
    )
    idx.apply_batch(docs)

    reopened = IncrementalCurationIndex(spark, root)
    assert reopened.config == cfg
    assert _rows(reopened.decisions()) == _rows(idx.decisions())

    with pytest.raises(ValueError, match="config differs"):
        IncrementalCurationIndex(
            spark, root, config=dataclasses.replace(cfg, min_quality=0.9)
        )
    with pytest.raises(ValueError, match="LM is already pinned"):
        IncrementalCurationIndex(spark, root, lm_train_docs=docs)
    with pytest.raises(ValueError, match="needs both"):
        IncrementalCurationIndex(spark, str(tmp_path / "new"), config=cfg)


def test_small_batch_rewrites_only_its_doc_buckets(spark, tmp_path):
    """decisions is bucketed by doc_id — the batch key — so a one-doc
    update touches exactly that doc's bucket, no manifest involved."""
    docs = _docs(spark).limit(300).localCheckpoint(eager=True)
    root = str(tmp_path / "c")
    idx = IncrementalCurationIndex(
        spark, root, lm_train_docs=docs, config=_cfg()
    )
    idx.apply_batch(docs)
    ddir = os.path.join(root, "decisions")
    before = _bucket_snapshot(ddir)

    victim = docs.limit(1)
    idx.apply_batch(victim)
    changed = _changed(before, _bucket_snapshot(ddir))
    want = idx.store.touched_buckets(
        victim.select(F.col("doc_id")), "doc_id"
    )
    assert changed == {f"b{b:05d}" for b in want}


def test_curation_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-resume symmetry with the other five indexes: a second
    availableNow stream over the same checkpoint processes only files
    landed after the first drain, and the maintained decisions still
    equal the batch decision table exactly. The index handle is
    RECONSTRUCTED for the second stream (bare reopen — pinned config +
    LM load from state), the restart reality."""
    import glob
    import os as _os
    import shutil

    from worker_spark.streaming.feed import file_feed_stream

    docs = _docs(spark).limit(240).localCheckpoint(eager=True)
    feed = str(tmp_path / "feed")
    _os.makedirs(feed)

    def land(batch, name):
        stage = str(tmp_path / f"_stage_{name}")
        batch.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = glob.glob(_os.path.join(stage, "part-*.parquet"))
        shutil.move(part, _os.path.join(feed, f"{name}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)

    root = str(tmp_path / "c")
    ckpt = str(tmp_path / "ckpt")
    land(docs.filter(F.col("doc_id") % 2 == 0), "b0")
    idx = IncrementalCurationIndex(
        spark, root, lm_train_docs=docs, config=_cfg()
    )
    q = file_feed_stream(spark, feed, idx, ckpt)
    assert q.awaitTermination(120)

    land(docs.filter(F.col("doc_id") % 2 == 1), "b1")
    reopened = IncrementalCurationIndex(spark, root)
    q2 = file_feed_stream(spark, feed, reopened, ckpt)
    assert q2.awaitTermination(120)
    assert _rows(reopened.decisions()) == _rows(idx.decide(docs))


def test_curation_reason_no_lm_support_branch(spark):
    """A NULL avg_logp (the LM layer had no row for the doc) resolves
    to the explicit 'no_lm_support' reject at the LM gate's position —
    not to a pass-through into the later gates (r11 advice: NULL < x is
    NULL in Spark, so without the branch a no-LM doc would silently
    fall through to the Gopher gate or 'kept')."""
    from pyspark.sql import types as ST

    from worker_spark.operators.text import curation_reason

    schema = ST.StructType(
        [
            ST.StructField("pred_lang", ST.StringType()),
            ST.StructField("quality_score", ST.DoubleType()),
            ST.StructField("type_token_ratio", ST.DoubleType()),
            ST.StructField("top_bigram_ratio", ST.DoubleType()),
            ST.StructField("avg_logp", ST.DoubleType()),
            ST.StructField("passes_gopher", ST.BooleanType()),
        ]
    )
    df = spark.createDataFrame(
        [
            ("en", 0.9, 0.9, 0.01, None, True),  # passes all pre-LM gates
            ("en", 0.9, 0.9, 0.01, -5.0, True),  # real LM outlier
            ("en", 0.9, 0.9, 0.01, -4.0, True),  # kept
        ],
        schema,
    )
    got = [
        r["r"]
        for r in df.select(
            curation_reason("en", 0.6, 0.85, 0.02, -4.7).alias("r")
        ).collect()
    ]
    assert got == ["no_lm_support", "lm_outlier", "kept"]


def test_decide_is_total_over_ingested_docs(spark, tmp_path):
    """decide() emits a decision row for EVERY non-empty ingested doc —
    including one whose bigrams fall entirely outside the pinned LM's
    support (r11 advice: the old inner join dropped it from decisions,
    indistinguishable from 'never ingested')."""
    train = spark.createDataFrame(
        [(1, "the cat sat on the mat")], "doc_id long, text string"
    )
    idx = IncrementalCurationIndex(
        spark, str(tmp_path / "c"), lm_train_docs=train, config=_cfg()
    )
    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "zzzz")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in idx.decide(docs).collect()}
    assert sorted(rows) == [1, 2]
    no_lm = rows[2]
    assert no_lm["avg_logp"] is None
    assert no_lm["keep"] is False
    assert no_lm["reject_reason"] is not None

    # and the maintained table serves it too
    idx.apply_batch(docs)
    served = {r["doc_id"] for r in idx.decisions().collect()}
    assert served == {1, 2}


def test_retrain_lifecycle_from_drifted_lm(spark, tmp_path):
    """The right-sized -> drifted -> retrained arc (VERDICT r12 item 5,
    mirroring test_vector_index's recluster arc): an index created with
    an out-of-support LM rejects a large fraction of the live corpus on
    LM-attributable reasons; retrain_advice flags it; retrain() into a
    fresh root — LM re-trained FROM the state's own retained texts —
    lands on the batch curation query's decisions bit-for-bit (batch
    trains its LM inline on the same corpus). Blue/green: the old root
    is untouched and keeps serving its pinned-regime decisions."""
    from worker_spark.queries.textops import q_doc_curation_decision_v2

    docs = _docs(spark)
    # support disjoint from the corpus: every doc reaching the lm gate
    # scores NULL avg_logp -> no_lm_support
    junk = spark.createDataFrame(
        [(900_000 + i, "æø " * 40) for i in range(5)],
        "doc_id long, text string",
    )
    old = IncrementalCurationIndex(
        spark, str(tmp_path / "old"), lm_train_docs=junk, config=_cfg()
    )
    old.apply_batch(docs.filter(F.col("doc_id") % 2 == 0))
    old.apply_batch(docs.filter(F.col("doc_id") % 2 == 1))
    advice = old.retrain_advice()
    assert advice["n_docs"] == docs.count()
    assert advice["lm_rejects"] > 0 and advice["needs_retrain"]

    fresh = old.retrain(str(tmp_path / "new"))
    want = q_doc_curation_decision_v2(spark, SF_ORACLE).drop("true_lang")
    assert _rows(fresh.decisions()) == _rows(
        want.select(*fresh.decisions().columns)
    )
    # the healthy index's LM-attributable rate sits far below the flag
    healthy = fresh.retrain_advice()
    assert not healthy["needs_retrain"]
    assert healthy["lm_reject_rate"] < advice["lm_reject_rate"]
    # blue/green: the OLD root still serves its own pinned regime
    assert old.retrain_advice() == advice
    # retained texts migrated whole
    assert _rows(fresh.texts()) == _rows(old.texts())
    fresh.fsck()
    old.fsck()
    # a non-empty target is refused (aborted-retrain torn-state rule)
    with pytest.raises(ValueError, match="already holds tables"):
        old.retrain(str(tmp_path / "new"))


def test_retained_texts_track_update_and_delete(spark, tmp_path):
    docs = _docs(spark)
    idx = IncrementalCurationIndex(
        spark, str(tmp_path / "c"), lm_train_docs=docs, config=_cfg()
    )
    idx.apply_batch(docs.limit(50))
    victim = docs.limit(1).collect()[0]["doc_id"]
    idx.apply_batch(
        spark.createDataFrame(
            [(int(victim), "replacement body for the retained text " * 3)],
            "doc_id long, text string",
        )
    )
    assert idx.texts().filter(F.col("doc_id") == victim).collect()[0][
        "text"
    ].startswith("replacement body")
    idx.apply_batch(
        spark.createDataFrame([(int(victim), "  ")], "doc_id long, text string")
    )
    assert idx.texts().filter(F.col("doc_id") == victim).count() == 0
    assert idx.decisions().filter(F.col("doc_id") == victim).count() == 0
    idx.fsck()  # decisions/texts key sets still identical


def test_retrain_accepts_new_thresholds(spark, tmp_path):
    """A retrain may also move the pinned thresholds (they are part of
    the regime): the re-derived decisions must reflect the NEW config,
    and reopening the new root with the old config must refuse."""
    import dataclasses

    docs = _docs(spark)
    old = IncrementalCurationIndex(
        spark, str(tmp_path / "old"), lm_train_docs=docs, config=_cfg()
    )
    old.apply_batch(docs.limit(80))
    strict = dataclasses.replace(_cfg(), min_quality=0.99)
    fresh = old.retrain(str(tmp_path / "new"), config=strict)
    # nothing survives a 0.99 quality bar except never-reaching docs
    assert fresh.decisions().filter(
        F.col("reject_reason") == "low_quality"
    ).count() > 0
    assert fresh.config == strict
    with pytest.raises(ValueError, match="config differs"):
        IncrementalCurationIndex(spark, str(tmp_path / "new"), config=_cfg())
