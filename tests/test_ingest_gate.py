"""Composed maintained ingest gate (streaming/ingest_gate.py, fourth
composition-seam instance): one apply_batch drives the curation MERGE
and the decontamination screen; admissions() must equal the serve-time
composition of the two maintained tables through stale-then-corrected
updates, the 'contaminated' override must fire only for curation-kept
documents (first-failing-gate order preserved), and a correction that
removes the overlap must tear the contamination verdict out."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from worker_spark.operators.text import (
    GOPHER_MIN_STOPWORD_HITS,
    benchmark_contamination,
)
from worker_spark.sources import load_table
from worker_spark.streaming.curation_index import CurationConfig
from worker_spark.streaming.ingest_gate import StreamingIngestGate


def _cfg() -> CurationConfig:
    from worker_spark.queries.textops import (
        _GOPHER_MIN_WORDS,
        _GOPHER_SW,
        CURATION_MAX_TBR,
        CURATION_MIN_LOGP,
        CURATION_MIN_QUALITY,
        CURATION_MIN_TTR,
    )

    return CurationConfig(
        target_lang="en",
        min_quality=CURATION_MIN_QUALITY,
        min_ttr=CURATION_MIN_TTR,
        max_tbr=CURATION_MAX_TBR,
        min_logp=CURATION_MIN_LOGP,
        gopher_min_words=_GOPHER_MIN_WORDS,
        gopher_stopwords=_GOPHER_SW,
        gopher_min_sw_hits=GOPHER_MIN_STOPWORD_HITS,
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _split(spark):
    docs = (
        load_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    return docs, docs.filter(F.col("doc_id") % 5 == 0), docs.filter(
        F.col("doc_id") % 5 != 0
    )


def _expected(gate, docs, corpus):
    """The serve-time composition built from the BATCH halves: the
    curation chain re-decided over the live corpus (same pinned LM —
    decide() is pinned by its own oracle) with the batch contamination
    scan's verdicts composed in last."""
    cur = gate.curation.decide(corpus)
    ctm = (
        benchmark_contamination(docs, eval_mod=5, n=5, min_shared=2)
        .select(F.col("corpus_id").alias("doc_id"))
        .distinct()
        .withColumn("_ctm", F.lit(True))
    )
    reason = (
        F.when(F.col("reject_reason") != "kept", F.col("reject_reason"))
        .when(F.col("_ctm"), F.lit("contaminated"))
        .otherwise(F.lit("kept"))
    )
    return cur.join(ctm, "doc_id", "left").select(
        "doc_id",
        "pred_lang",
        "quality_score",
        "type_token_ratio",
        "top_bigram_ratio",
        "avg_logp",
        "passes_gopher",
        (reason == "kept").alias("keep"),
        reason.alias("reject_reason"),
    )


def test_composed_admissions_converge_and_override_fires(spark, tmp_path):
    docs, ev, co = _split(spark)
    gate = StreamingIngestGate(
        spark, str(tmp_path / "g"), eval_docs=ev, lm_train_docs=docs,
        config=_cfg(),
    )
    stale = F.col("doc_id") % 10 == 6
    gate.apply_batch(
        co.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id",
            F.when(stale, F.substring("text", 1, 40))
            .otherwise(F.col("text"))
            .alias("text"),
        ),
        batch_id=0,
    )
    gate.apply_batch(
        co.filter((F.col("doc_id") % 2 == 1) | stale), batch_id=1
    )
    got = gate.admissions().localCheckpoint(eager=True)
    assert _rows(got) == _rows(_expected(gate, docs, co))
    # the decontamination override is non-vacuous on this corpus AND
    # fires only as the LAST gate (curation-kept docs)
    flipped = got.filter(F.col("reject_reason") == "contaminated")
    assert flipped.count() > 0
    assert flipped.filter(F.col("keep")).count() == 0
    cur_kept = gate.curation.kept_ids()
    assert flipped.join(cur_kept, "doc_id", "left_anti").count() == 0
    # replay of the last batch is a no-op
    gate.apply_batch(
        co.filter((F.col("doc_id") % 2 == 1) | stale), batch_id=1
    )
    assert _rows(gate.admissions()) == _rows(got)
    gate.fsck()


def test_correction_tears_out_the_contamination_verdict(spark, tmp_path):
    """A corpus doc planted to quote an eval doc's text verbatim is
    contaminated; its correction (overlap removed) must clear the pair
    AND the admission verdict — the maintained form of 'the update
    replaces the document's whole screen state'."""
    docs, ev, co = _split(spark)
    gate = StreamingIngestGate(
        spark, str(tmp_path / "g"), eval_docs=ev, lm_train_docs=docs,
        config=_cfg(),
    )
    evrow = ev.limit(1).collect()[0]
    planted_id = 900_001  # %5 == 1: a corpus id
    gate.apply_batch(
        spark.createDataFrame(
            [(planted_id, "prefix words " + evrow["text"])],
            "doc_id long, text string",
        ),
        batch_id=0,
    )
    assert (
        gate.contaminated_ids().filter(F.col("doc_id") == planted_id).count()
        == 1
    )
    a0 = gate.admissions().filter(F.col("doc_id") == planted_id).collect()[0]
    assert not a0["keep"]
    # correction: same id, no eval overlap
    gate.apply_batch(
        spark.createDataFrame(
            [(planted_id, "a perfectly ordinary clean replacement body "
              "with no benchmark overlap at all")],
            "doc_id long, text string",
        ),
        batch_id=1,
    )
    assert (
        gate.contaminated_ids().filter(F.col("doc_id") == planted_id).count()
        == 0
    )
    a1 = gate.admissions().filter(F.col("doc_id") == planted_id).collect()[0]
    assert a1["reject_reason"] != "contaminated"
    gate.fsck()


def test_gate_refuses_eval_ingestion_and_reports_prefixed_fsck(
    spark, tmp_path
):
    docs, ev, co = _split(spark)
    gate = StreamingIngestGate(
        spark, str(tmp_path / "g"), eval_docs=ev, lm_train_docs=docs,
        config=_cfg(),
    )
    gate.apply_batch(co.limit(20), batch_id=0)
    with pytest.raises(ValueError, match="pinned eval doc id"):
        gate.apply_batch(ev.limit(1), batch_id=1)
    counts = gate.fsck()
    assert any(k.startswith("curation.") for k in counts)
    assert any(k.startswith("screen.") for k in counts)


def test_batch_jobs_keep_the_callers_job_group(spark, tmp_path):
    """The gate applies its two sides on worker threads, and each side
    stages its tables on the store's pool: every job they launch must
    still carry the caller's job group, which Spark's status tracker
    and event log attribute work by."""
    schema = "doc_id long, text string"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "the cat sat on the mat")], schema
    )
    ev = spark.createDataFrame([(5, "alpha beta gamma delta")], schema)
    gate = StreamingIngestGate(
        spark, str(tmp_path / "g"), eval_docs=ev, lm_train_docs=docs,
        config=_cfg(), n=2, min_shared=1, df_cap=2, n_buckets=4,
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    spark.range(1).collect()  # marker: the newest job before the batch
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    marker = max(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("ingest-gate-batch", "one gate batch")
    try:
        gate.apply_batch(docs, batch_id=0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert tracker.getJobIdsForGroup("ingest-gate-batch")
    assert [j for j in tracker.getJobIdsForGroup(None) if j > marker] == []
