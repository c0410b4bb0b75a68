"""Torn ``reindex`` replays, one case per maintained index with a
manifest (plans/bucketed_state.py, "Manifest crash order").

Each case applies batch 1, then tears batch 2 between the two swaps of
its derived/manifest pair — the first swap commits, the second raises —
and replays batch 2. The replay must leave ``fsck()`` clean and every
state table equal to a fresh index fed both batches cleanly. Batch 2
moves one document's derived rows to other buckets (asserted below), so
a manifest committed before its derived table would strand the old rows
in buckets the replay never visits."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

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
def test_torn_reindex_replays_to_clean_state(spark, tmp_path, monkeypatch, case):
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

    real = idx.store.delete_then_insert
    swapped: list[str] = []

    def torn(table, *args, **kwargs):
        if table in (derived, manifest):
            if swapped:
                raise RuntimeError(f"injected tear before the {table} swap")
            real(table, *args, **kwargs)
            swapped.append(table)
            return None
        return real(table, *args, **kwargs)

    monkeypatch.setattr(idx.store, "delete_then_insert", torn)
    with pytest.raises(RuntimeError, match="injected tear"):
        idx.apply_batch(b2, batch_id=1)
    monkeypatch.undo()

    idx.apply_batch(b2, batch_id=1)  # the replay
    idx.fsck()
    assert _state(idx.store) == _state(clean.store)
