"""The crash matrix at the write-transaction boundary
(plans/bucketed_state.py, "Transactions"), in the default tier.

Each ``reindex`` case applies batch 1, then tears batch 2 before the
manifest swap of its derived/manifest pair — the derived swap commits,
the manifest's raises (both asserted) — and replays batch 2. The replay must leave
``fsck()`` clean and every state table equal to a fresh index fed both
batches cleanly. Batch 2 moves one document's derived rows to other
buckets (asserted below), so a manifest committed before its derived
table would strand the old rows in buckets the replay never visits.

The other cases tear the curation index between decisions and texts,
tear the contamination screen's creation before its config witness,
and fail the staging of a transaction's second table, which must leave
the first unswapped."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.streaming.dedup_index import IncrementalDedupIndex
from worker_spark.streaming.exact_index import IncrementalExactIndex
from worker_spark.streaming.minhash_index import IncrementalMinHashIndex
from worker_spark.streaming.retrieval_index import IncrementalRetrievalIndex
from worker_spark.streaming.substring_index import IncrementalSubstringIndex
from worker_spark.streaming.vector_index import IncrementalVectorIndex

N_BUCKETS = 8
_DOCS_1 = [
    (1, "the quick brown fox jumps over"),
    (2, "a lazy dog sleeps in the sun"),
    (3, "seven silver swans swim south"),
]
_DOCS_2 = [(1, "purple rain on old walls")]
_VECS_1 = [(1, [1.0, 0.1]), (2, [0.1, 1.0]), (3, [0.0, -1.0])]
_VECS_2 = [(1, [-1.0, 0.1])]


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _vector_index(spark, root):
    cents = _vecs(
        spark, [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0]), (3, [0.0, -1.0])]
    )
    return IncrementalVectorIndex(spark, root, centroids=cents, n_buckets=N_BUCKETS)


def _docs_index(cls):
    return lambda spark, root: cls(spark, root, n_buckets=N_BUCKETS)


# name -> (factory, batch frame builder, batch 1, batch 2, id column,
#          derived table, derived key, manifest table)
CASES = {
    "exact": (_docs_index(IncrementalExactIndex), _docs, _DOCS_1, _DOCS_2,
              "doc_id", "hashes", "content_hash", "fps"),
    "dedup": (_docs_index(IncrementalDedupIndex), _docs, _DOCS_1, _DOCS_2,
              "doc_id", "bands", "bk", "fps"),
    "minhash": (_docs_index(IncrementalMinHashIndex), _docs, _DOCS_1, _DOCS_2,
                "doc_id", "bands", "bk", "sigs"),
    "substring": (_docs_index(IncrementalSubstringIndex), _docs, _DOCS_1,
                  _DOCS_2, "doc_id", "fprows", "fhash", "fps"),
    "retrieval": (_docs_index(IncrementalRetrievalIndex), _docs, _DOCS_1,
                  _DOCS_2, "doc_id", "postings", "term", "doclen"),
    "vector": (_vector_index, _vecs, _VECS_1, _VECS_2,
               "vec_id", "cells", "cell_id", "vecmap"),
}


def _state(store):
    return {
        t: sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True)
            for r in store.read(t).collect()
        )
        for t in store.tables()
    }


def _buckets(store, table, key, id_col, ident):
    rows = (
        store.read(table)
        .filter(F.col(id_col) == ident)
        .select(store.bucket_of(key).alias("b"))
        .distinct()
        .collect()
    )
    return {r["b"] for r in rows}


@pytest.mark.parametrize("case", sorted(CASES))
def test_torn_reindex_replays_to_clean_state(spark, tmp_path, tear, case):
    factory, frame, rows_1, rows_2, id_col, derived, key, manifest = CASES[case]
    b1 = frame(spark, rows_1).localCheckpoint(eager=True)
    b2 = frame(spark, rows_2).localCheckpoint(eager=True)

    clean = factory(spark, str(tmp_path / "clean"))
    clean.apply_batch(b1, batch_id=0)
    clean.apply_batch(b2, batch_id=1)

    idx = factory(spark, str(tmp_path / "torn"))
    idx.apply_batch(b1, batch_id=0)
    # the update must leave at least one old derived bucket unvisited by
    # the new rows, or a wrong swap order could not strand anything
    moved = rows_2[0][0]
    before = _buckets(idx.store, derived, key, id_col, moved)
    after = _buckets(clean.store, derived, key, id_col, moved)
    assert before - after

    before = _state(idx.store)
    tear(idx.store, manifest)
    with pytest.raises(RuntimeError, match="injected tear"):
        idx.apply_batch(b2, batch_id=1)
    # declared derived first: the derived swap committed, the manifest's
    # did not
    torn = _state(idx.store)
    assert torn[derived] == _state(clean.store)[derived]
    assert torn[manifest] == before[manifest]

    idx.apply_batch(b2, batch_id=1)  # the replay
    idx.fsck()
    assert _state(idx.store) == _state(clean.store)


def test_torn_curation_batch_replays_to_clean_state(spark, tmp_path, tear):
    """Decisions commit, texts tear: a new doc has a decision without
    its retained text, which ``fsck`` refuses; the replay heals it."""
    from tests.test_curation_index import _cfg
    from worker_spark.streaming.curation_index import IncrementalCurationIndex

    train = _docs(spark, _DOCS_1).localCheckpoint(eager=True)
    b2 = _docs(spark, [(4, "purple rain on old walls")]).localCheckpoint(
        eager=True
    )

    def build(name):
        idx = IncrementalCurationIndex(
            spark, str(tmp_path / name), lm_train_docs=train, config=_cfg(),
            n_buckets=N_BUCKETS,
        )
        idx.apply_batch(train, batch_id=0)
        return idx

    clean = build("clean")
    clean.apply_batch(b2, batch_id=1)
    idx = build("torn")
    assert tear(idx.store, idx.TEXTS) == []
    with pytest.raises(RuntimeError, match="injected tear before the texts"):
        idx.apply_batch(b2, batch_id=1)
    with pytest.raises(RuntimeError, match="drifted"):
        idx.fsck()
    idx.apply_batch(b2, batch_id=1)  # the replay
    idx.fsck()
    assert _state(idx.store) == _state(clean.store)


def test_torn_screen_creation_repins(spark, tmp_path, tear):
    """Creation tears before the config witness: every pin but config
    committed, so a reopen must treat the root as not created and
    re-pin it whole, then serve like a clean build."""
    from worker_spark.streaming.contamination_index import (
        IncrementalContaminationScreen,
    )

    ev = _docs(spark, [(5, "alpha beta gamma delta")])
    d1 = _docs(spark, [(1, "alpha beta gamma xray")])
    kw = dict(n=2, min_shared=1, df_cap=2, n_buckets=N_BUCKETS)
    clean = IncrementalContaminationScreen(
        spark, str(tmp_path / "clean"), eval_docs=ev, **kw
    )
    clean.apply_batch(d1, batch_id=0)

    root = str(tmp_path / "torn")
    cls = IncrementalContaminationScreen
    tear(root, cls.CONFIG)
    with pytest.raises(RuntimeError, match="injected tear before the config"):
        cls(spark, root, eval_docs=ev, **kw)
    probe = BucketedParquetStateStore(spark, root, N_BUCKETS)
    assert probe.has_schema_witness(cls.EVG)
    assert not probe.has_schema_witness(cls.CONFIG)

    scr = cls(spark, root, eval_docs=ev, **kw)  # the replay re-pins
    scr.apply_batch(d1, batch_id=0)
    scr.fsck()
    assert _state(scr.store) == _state(clean.store)


def test_failed_stage_swaps_nothing(spark, tmp_path):
    """A failure while staging table 2 of 2 leaves table 1 unswapped
    and no stage directory behind: every stage runs before the first
    swap."""
    store = BucketedParquetStateStore(spark, str(tmp_path / "s"), N_BUCKETS)
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "id long, k string")
    store.write("derived", rows, keys=["k"])
    store.write("manifest", rows, keys=["id"])
    before = _state(store)

    ids = spark.createDataFrame([(1,)], "id long")
    new = spark.createDataFrame([(1, "z")], "id long, k string")
    failing = new.select(
        "id",
        F.when(F.col("id") > 0, F.raise_error(F.lit("injected staging failure")))
        .cast("string")
        .alias("k"),
    )
    with pytest.raises(Exception, match="injected staging failure"):
        store.reindex(
            ids, "manifest", rows.schema, failing, "derived", rows.schema,
            new, "k", lambda old: old.select(store.bucket_of("k")),
        )
    assert _state(store) == before
    for t in ("derived", "manifest"):
        tdir = tmp_path / "s" / t
        assert not [n for n in os.listdir(tdir) if n.startswith(".stage-")]
