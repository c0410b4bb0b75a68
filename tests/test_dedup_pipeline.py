"""Composed maintained-dedup pipeline (streaming/dedup_pipeline.py):
the exact index's screen output feeding the components index must keep
cluster labels equal to the batch exact-dedup clustering of the live
corpus — through multi-batch growth, an update that moves a document
between hash groups, a within-batch draft+correction, and a delete."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from worker_spark.operators.components import cluster_assignments
from worker_spark.sources.synth_corpus import documents_v2_dupes
from worker_spark.streaming.dedup_pipeline import (
    StreamingDedupPipeline,
    StreamingNearDupPipeline,
    StreamingSubstringPipeline,
    dedup_pipeline_stream,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _exact_cluster_truth(spark, docs):
    """Batch ground truth: md5 groups of size >= 2 as components-shaped
    rows, via the batch components operator over the exact pair list."""
    h = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5("text").alias("ch"),
    ).filter(F.length(F.trim(F.col("text"))) > 0)
    pairs = (
        h.alias("a")
        .join(
            h.alias("b"),
            (F.col("a.ch") == F.col("b.ch"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
    )
    return cluster_assignments(pairs)


def test_pipeline_tracks_batch_exact_clusters(spark, tmp_path):
    docs = documents_v2_dupes(spark, SF_ORACLE, exact=True).select(
        "doc_id", "text"
    ).localCheckpoint(eager=True)
    pipe = StreamingDedupPipeline(spark, str(tmp_path / "p"))
    for residue in range(3):
        pipe.apply_batch(docs.filter(F.col("doc_id") % 3 == residue))
    assert _rows(pipe.cluster_assignments()) == _rows(
        _exact_cluster_truth(spark, docs)
    )
    pipe.fsck()


def test_update_moves_doc_between_clusters_and_delete(spark, tmp_path):
    texts = spark.createDataFrame(
        [
            (1, "alpha body"),
            (2, "alpha body"),
            (3, "beta body"),
            (4, "beta body"),
            (5, "beta body"),
        ],
        "doc_id long, text string",
    )
    pipe = StreamingDedupPipeline(spark, str(tmp_path / "p"))
    pipe.apply_batch(texts)
    assert _rows(pipe.cluster_assignments()) == _rows(
        _exact_cluster_truth(spark, texts)
    )

    # doc 2 edited to match the beta group: leaves {1,2}, joins {3,4,5};
    # 1 loses its only partner and drops out of the label table
    moved = spark.createDataFrame(
        [(2, "beta body")], "doc_id long, text string"
    )
    pipe.apply_batch(moved)
    now = spark.createDataFrame(
        [(1, "alpha body"), (2, "beta body"), (3, "beta body"),
         (4, "beta body"), (5, "beta body")],
        "doc_id long, text string",
    )
    assert _rows(pipe.cluster_assignments()) == _rows(
        _exact_cluster_truth(spark, now)
    )
    assert {r["doc_id"] for r in pipe.cluster_assignments().collect()} == {
        2, 3, 4, 5,
    }
    pipe.fsck()

    # delete doc 3 (empty text): the beta cluster shrinks, stays >= 2
    pipe.apply_batch(
        spark.createDataFrame([(3, "")], "doc_id long, text string")
    )
    final = spark.createDataFrame(
        [(1, "alpha body"), (2, "beta body"), (4, "beta body"),
         (5, "beta body")],
        "doc_id long, text string",
    )
    assert _rows(pipe.cluster_assignments()) == _rows(
        _exact_cluster_truth(spark, final)
    )
    pipe.fsck()


def test_within_batch_draft_and_correction_last_wins(spark, tmp_path):
    """One trigger carrying a draft AND its correction: only the
    correction's hash may cluster — the pipeline must screen the
    deduped batch, not the raw one."""
    pipe = StreamingDedupPipeline(spark, str(tmp_path / "p"))
    pipe.apply_batch(
        spark.createDataFrame(
            [(10, "stable body"), (11, "stable body")],
            "doc_id long, text string",
        )
    )
    batch = spark.createDataFrame(
        [(12, "stable body"), (12, "divergent draft body")],
        "doc_id long, text string",
    )
    pipe.apply_batch(batch)
    winner_hash = {
        r["content_hash"]
        for r in pipe.exact.fps().filter(F.col("doc_id") == 12).collect()
    }
    assert len(winner_hash) == 1
    labels = {r["doc_id"]: r for r in pipe.cluster_assignments().collect()}
    if labels.get(12):
        # the "stable body" version won: 12 clusters with {10, 11}
        assert labels[12]["cluster_id"] == 10
        assert labels[12]["cluster_size"] == 3
    else:
        # the draft won: 12 matches nothing, {10,11} unchanged
        assert set(labels) == {10, 11}
    # replay elects the same winner (deterministic last-wins)
    before = _rows(pipe.cluster_assignments())
    pipe.apply_batch(batch)
    assert _rows(pipe.cluster_assignments()) == before
    pipe.fsck()


def test_pipeline_stream_end_to_end(spark, tmp_path):
    docs = documents_v2_dupes(spark, SF_ORACLE, exact=True).select(
        "doc_id", "text"
    ).limit(200).localCheckpoint(eager=True)
    from worker_spark.queries.streamq import _stage_feed

    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    feed = tmp_path / "feed"
    feed.mkdir()
    _stage_feed((b0, b1), str(feed))
    pipe = StreamingDedupPipeline(spark, str(tmp_path / "p"))
    q = dedup_pipeline_stream(
        spark, str(feed), pipe, str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(300)
    assert _rows(pipe.cluster_assignments()) == _rows(
        _exact_cluster_truth(spark, docs)
    )
    pipe.fsck()


def _neardup_truth(spark, docs):
    from worker_spark.operators.dedup import minhash_lsh_dedup_pairs

    return cluster_assignments(
        minhash_lsh_dedup_pairs(docs, threshold=0.5).select("id_a", "id_b")
    )


def test_neardup_pipeline_tracks_batch_minhash_clusters(spark, tmp_path):
    from worker_spark.sources.synth_corpus import documents_v2_dupes
    from worker_spark.streaming.dedup_pipeline import StreamingNearDupPipeline

    docs = documents_v2_dupes(spark, SF_ORACLE, exact=False).select(
        "doc_id", "text"
    ).localCheckpoint(eager=True)
    pipe = StreamingNearDupPipeline(spark, str(tmp_path / "p"), threshold=0.5)
    for residue in range(3):
        pipe.apply_batch(docs.filter(F.col("doc_id") % 3 == residue))
    assert _rows(pipe.cluster_assignments()) == _rows(
        _neardup_truth(spark, docs)
    )
    pipe.fsck()


def test_neardup_update_replaces_draft_era_edges_and_delete(spark, tmp_path):
    """A draft verified against superseded text must NOT survive the
    correction: the corrected announcement re-screens against the
    maintained band state and replaces the whole edge set; a delete
    (empty text) removes the doc from bands, texts and labels."""
    from worker_spark.sources.synth_corpus import documents_v2_dupes
    from worker_spark.streaming.dedup_pipeline import StreamingNearDupPipeline

    docs = documents_v2_dupes(spark, SF_ORACLE, exact=False).select(
        "doc_id", "text"
    ).limit(100).localCheckpoint(eager=True)
    pipe = StreamingNearDupPipeline(spark, str(tmp_path / "p"), threshold=0.5)
    stale = F.col("doc_id") % 7 == 0
    drafts = docs.select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    pipe.apply_batch(drafts)
    # corrections arrive; final state == the canonical corpus clusters
    pipe.apply_batch(docs.filter(stale))
    assert _rows(pipe.cluster_assignments()) == _rows(
        _neardup_truth(spark, docs)
    )
    pipe.fsck()

    # delete one clustered doc: it leaves bands, texts and labels, and
    # the remaining labels equal the batch truth over the shrunk corpus
    victim = (
        pipe.cluster_assignments().orderBy("doc_id").limit(1).collect()[0][
            "doc_id"
        ]
    )
    pipe.apply_batch(
        spark.createDataFrame([(int(victim), "")], "doc_id long, text string")
    )
    remaining = docs.filter(F.col("doc_id") != int(victim))
    assert _rows(pipe.cluster_assignments()) == _rows(
        _neardup_truth(spark, remaining)
    )
    assert (
        pipe.minhash.sigs().filter(F.col("doc_id") == victim).count() == 0
    )
    assert (
        pipe.docstore.read("docs", None)
        .filter(F.col("doc_id") == victim)
        .count()
        == 0
    )
    pipe.fsck()


def test_neardup_threshold_pins_at_creation(spark, tmp_path):
    """The Jaccard threshold decides which edges exist in state — a
    reopen with a different value must refuse loudly (the curation
    index's pinned-config discipline)."""
    import pytest

    from worker_spark.streaming.dedup_pipeline import StreamingNearDupPipeline

    root = str(tmp_path / "p")
    pipe = StreamingNearDupPipeline(spark, root, threshold=0.5)
    pipe.apply_batch(
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        )
    )
    # same threshold reopens fine and serves the same state
    again = StreamingNearDupPipeline(spark, root, threshold=0.5)
    assert again.cluster_assignments().count() == 0
    with pytest.raises(ValueError, match="threshold"):
        StreamingNearDupPipeline(spark, root, threshold=0.3)


def test_substring_pipeline_tracks_batch_fingerprint_clusters(
    spark, tmp_path
):
    """The substring composition (third seam instance): streamed labels
    == components over the batch shared-fingerprint pair graph, through
    a draft-then-corrected update; deletes clear fingerprints and
    labels together."""
    from worker_spark.operators.substrings import winnow_fingerprints
    from worker_spark.sources.synth_corpus import documents_v2_substr
    from worker_spark.streaming.dedup_pipeline import (
        StreamingSubstringPipeline,
    )

    def truth(docs):
        fps = winnow_fingerprints(docs)
        pairs = (
            fps.alias("a")
            .join(
                fps.alias("b"),
                (F.col("a.fhash") == F.col("b.fhash"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .distinct()
        )
        return cluster_assignments(pairs)

    docs = documents_v2_substr(spark, SF_ORACLE).select(
        "doc_id", "text"
    ).localCheckpoint(eager=True)
    pipe = StreamingSubstringPipeline(spark, str(tmp_path / "p"))
    stale = F.col("doc_id") % 7 == 0
    drafts = docs.select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    pipe.apply_batch(drafts.filter(F.col("doc_id") % 2 == 0))
    pipe.apply_batch(docs.filter(F.col("doc_id") % 2 == 1))
    pipe.apply_batch(docs.filter(stale))
    assert _rows(pipe.cluster_assignments()) == _rows(truth(docs))
    pipe.fsck()

    # delete one clustered doc: fingerprints and labels leave together
    victim = (
        pipe.cluster_assignments().orderBy("doc_id").limit(1).collect()[0][
            "doc_id"
        ]
    )
    pipe.apply_batch(
        spark.createDataFrame([(int(victim), "")], "doc_id long, text string")
    )
    remaining = docs.filter(F.col("doc_id") != int(victim))
    assert _rows(pipe.cluster_assignments()) == _rows(truth(remaining))
    assert (
        pipe.substring.fprows().filter(F.col("doc_id") == victim).count()
        == 0
    )
    pipe.fsck()


@pytest.mark.parametrize(
    "pipeline",
    [StreamingDedupPipeline, StreamingNearDupPipeline, StreamingSubstringPipeline],
)
def test_mismatched_bucket_moduli_raise(spark, tmp_path, pipeline):
    """A pipeline reuses one batch's bucket ids across its stores, so a
    root whose components store was pinned at another modulus must fail
    loudly — as a ValueError, which ``python -O`` cannot strip."""
    from worker_spark.streaming.components_index import (
        IncrementalComponentsIndex,
    )

    root = tmp_path / "p"
    IncrementalComponentsIndex(spark, str(root / "components"), n_buckets=4)
    pipe = pipeline(spark, str(root), n_buckets=8)
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="modul"):
        pipe.apply_batch(docs)
