"""Incremental connected-components index (streaming/components_index):
streamed edge batches must keep cluster labels EXACTLY equal to the
batch min-label propagation over the live pair graph — through merges,
splits, and deletes — with per-batch recompute scoped to the touched
components (bucket economics witnessed), a symmetric crash-safe
adjacency, and fsck-able invariants."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.operators.components import cluster_assignments
from worker_spark.streaming.components_index import (
    FEED_SCHEMA,
    IncrementalComponentsIndex,
)
from worker_spark.streaming.feed import file_feed_stream


def _feed(spark, rows):
    return spark.createDataFrame(rows, FEED_SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _batch_truth(spark, edges):
    return cluster_assignments(
        spark.createDataFrame(edges, "id_a long, id_b long")
    )


def test_merge_split_delete_track_batch_labels(spark, tmp_path):
    idx = IncrementalComponentsIndex(spark, str(tmp_path / "x"))
    # batch 0: components {1,2,3} and {5,6}; 4 announced edge-less
    idx.apply_batch(
        _feed(spark, [(1, 2), (2, 3), (5, 6), (4, None)])
    )
    assert _rows(idx.cluster_assignments()) == _rows(
        _batch_truth(spark, [(1, 2), (2, 3), (5, 6)])
    )
    assert idx.labels().filter(F.col("doc_id") == 4).count() == 0

    # batch 1: {7,8,9} arrives bridged to {1,2,3} via (7,3) — MERGE
    idx.apply_batch(_feed(spark, [(7, 8), (7, 3), (8, 9)]))
    assert _rows(idx.cluster_assignments()) == _rows(
        _batch_truth(
            spark, [(1, 2), (2, 3), (5, 6), (7, 8), (7, 3), (8, 9)]
        )
    )
    idx.fsck()

    # batch 2: doc 7 re-ingested WITHOUT the bridge — SPLIT back
    idx.apply_batch(_feed(spark, [(7, 8)]))
    assert _rows(idx.cluster_assignments()) == _rows(
        _batch_truth(spark, [(1, 2), (2, 3), (5, 6), (7, 8), (8, 9)])
    )
    idx.fsck()

    # batch 3: doc 5 deleted (edge-less announcement) — 6 loses its
    # only partner and both leave the label table
    idx.apply_batch(_feed(spark, [(5, None)]))
    assert _rows(idx.cluster_assignments()) == _rows(
        _batch_truth(spark, [(1, 2), (2, 3), (7, 8), (8, 9)])
    )
    assert {r["doc_id"] for r in idx.labels().collect()}.isdisjoint({5, 6})
    idx.fsck()

    # replay of the last batch is a no-op
    before = _rows(idx.cluster_assignments())
    idx.apply_batch(_feed(spark, [(5, None)]))
    assert _rows(idx.cluster_assignments()) == before


def test_many_batches_converge_to_batch_components(spark, tmp_path):
    """A pseudo-random 120-node graph fed in four batches (including an
    update that rewires a node) must land bit-for-bit on the batch
    operator over the final edge set."""
    idx = IncrementalComponentsIndex(spark, str(tmp_path / "x"))
    # deterministic edges: chains within decades + sparse cross links
    edges = [(i, i + 1) for i in range(0, 120) if i % 10 < 4]
    edges += [(i, i + 10) for i in range(0, 110, 17)]
    # ingest in id ranges; each edge rides with its LATER-ingested
    # endpoint as the announced side (the screen-output contract: an
    # announcement carries the document's FULL current pair set, so a
    # node may never be announced while silently omitting known pairs)
    ranges = [(0, 40), (40, 80), (80, 120)]
    for lo, hi in ranges:
        rows = [(i, None) for i in range(lo, hi)]
        rows += [
            (max(a, b), min(a, b))
            for a, b in edges
            if lo <= max(a, b) < hi
        ]
        idx.apply_batch(_feed(spark, rows))
    # update: node 0 rewired — loses (0,1) and (0,10), gains (0,100)
    final = [e for e in edges if e[0] != 0] + [(0, 100)]
    idx.apply_batch(
        _feed(spark, [(0, 100)])
    )
    assert _rows(idx.cluster_assignments()) == _rows(
        _batch_truth(spark, final)
    )
    assert _rows(idx.components()) == _rows(
        _batch_truth(spark, final).select(
            F.col("doc_id").alias("id"), F.col("cluster_id").alias("component")
        )
    )
    idx.fsck()


def test_batch_cost_scoped_to_touched_components(spark, tmp_path):
    """The maintenance promise: a batch touching ONE small component
    rewrites only that component's label/member/adjacency buckets —
    never the other components' — so per-batch cost is bounded by the
    touched components' size, not the corpus's."""
    root = str(tmp_path / "x")
    idx = IncrementalComponentsIndex(spark, root)
    # 30 disjoint 3-cliques: nodes (90k, 90k+1, 90k+2)
    rows = []
    for k in range(30):
        a, b, c = 90000 + 3 * k, 90001 + 3 * k, 90002 + 3 * k
        rows += [(a, b), (b, c), (a, c)]
    idx.apply_batch(_feed(spark, rows))
    snaps = {
        t: _bucket_snapshot(os.path.join(root, t))
        for t in ("adj", "members", "labels")
    }

    # touch exactly one clique: rewire its third node
    a, b, c = 90000, 90001, 90002
    idx.apply_batch(_feed(spark, [(c, a)]))
    scope = spark.createDataFrame([(a,), (b,), (c,)], "doc_id long")
    exp_doc = {
        f"b{bk:05d}" for bk in idx.store.touched_buckets(scope, "doc_id")
    }
    cluster = spark.createDataFrame([(a,)], "cluster_id long")
    exp_cluster = {
        f"b{bk:05d}"
        for bk in idx.store.touched_buckets(cluster, "cluster_id")
    }
    n_all = len(snaps["labels"])
    for t, exp in (("adj", exp_doc), ("members", exp_cluster),
                   ("labels", exp_doc)):
        changed = _changed(snaps[t], _bucket_snapshot(os.path.join(root, t)))
        assert changed <= exp, (t, changed, exp)
        assert len(changed) < n_all  # most buckets untouched
    # and the labels are still exactly the batch truth
    final = rows  # the rewire re-adds an existing clique edge
    assert _rows(idx.cluster_assignments()) == _rows(
        _batch_truth(spark, final)
    )


def test_edge_to_unannounced_endpoint_keeps_its_other_edges(spark, tmp_path):
    """Only the doc_id column announces ingestion: an edge endpoint in
    nbr must keep its stored edges (else every screen hit would wipe
    the partner's neighbourhood)."""
    idx = IncrementalComponentsIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(_feed(spark, [(1, 2), (2, 3)]))
    # new doc 9 links to 2 — 2 is an endpoint, NOT re-announced
    idx.apply_batch(_feed(spark, [(9, 2)]))
    assert _rows(idx.cluster_assignments()) == _rows(
        _batch_truth(spark, [(1, 2), (2, 3), (9, 2)])
    )
    idx.fsck()


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    from worker_spark.queries.streamq import _stage_feed

    b0 = _feed(spark, [(1, 2), (2, 3)])
    b1 = _feed(spark, [(5, 6), (6, 7)])
    b2 = _feed(spark, [(5, None)])  # delete mid-stream
    _stage_feed((b0,), str(feed_dir))
    idx = IncrementalComponentsIndex(spark, str(tmp_path / "x"))
    ckpt = str(tmp_path / "ckpt")
    q = file_feed_stream(spark, str(feed_dir), idx, ckpt)
    assert q.awaitTermination(300)
    assert idx.labels().count() == 3

    import glob
    import shutil
    import time

    now = time.time()
    for i, batch in enumerate((b1, b2), start=1):
        part_dir = str(tmp_path / f"_stage{i}")
        batch.coalesce(1).write.mode("overwrite").parquet(part_dir)
        (part,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(str(feed_dir), f"b{i}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(part_dir, ignore_errors=True)
        os.utime(dst, (now + i, now + i))
    q2 = file_feed_stream(spark, str(feed_dir), idx, ckpt)
    assert q2.awaitTermination(300)
    assert _rows(idx.cluster_assignments()) == _rows(
        _batch_truth(spark, [(1, 2), (2, 3), (6, 7)])
    )


def test_torn_split_batch_replays_to_convergence(spark, tmp_path, tear):
    """The torn-batch completion journal (self-review finding): cluster
    identity RENAMES on split, so a batch torn between the members and
    labels swaps leaves the split-off nodes unreachable from the stale
    label manifest — without the journal, replay converges adj+members
    but strands their stale labels forever. Inject a crash before the
    labels swap, verify fsck refuses the torn state, and verify the
    SAME-batch_id replay converges bit-for-bit."""
    idx = IncrementalComponentsIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(_feed(spark, [(1, 2), (1, 3)]), batch_id=0)

    tear(idx.store, idx.LABELS)
    batch = _feed(spark, [(1, 2)])  # 1 re-announced: {3} splits away
    with pytest.raises(RuntimeError, match="injected tear before the labels"):
        idx.apply_batch(batch, batch_id=1)
    # torn: members re-keyed, labels stale — fsck must refuse
    with pytest.raises(RuntimeError):
        idx.fsck()
    # foreachBatch re-delivery of the SAME batch id
    idx.apply_batch(batch, batch_id=1)
    assert _rows(idx.cluster_assignments()) == _rows(
        _batch_truth(spark, [(1, 2)])
    )
    assert idx.labels().filter(F.col("doc_id") == 3).count() == 0
    idx.fsck()


def test_fsck_catches_injected_corruption(spark, tmp_path):
    idx = IncrementalComponentsIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(_feed(spark, [(1, 2), (2, 3)]))
    idx.fsck()

    # asymmetric adjacency (a torn two-step edge swap)
    orphan = spark.createDataFrame([(777, 778)], "node long, nbr long")
    b = idx.store.touched_buckets(orphan, "node")[0]
    orphan.write.mode("append").parquet(
        os.path.join(str(tmp_path / "x"), "adj", f"b{b:05d}")
    )
    with pytest.raises(RuntimeError, match="asymmetric"):
        idx.fsck()


def test_fsck_catches_member_label_drift(spark, tmp_path):
    idx = IncrementalComponentsIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(_feed(spark, [(1, 2), (2, 3)]))
    orphan = spark.createDataFrame(
        [(555, 556)], "cluster_id long, doc_id long"
    )
    b = idx.store.touched_buckets(orphan, "cluster_id")[0]
    orphan.write.mode("append").parquet(
        os.path.join(str(tmp_path / "x"), "members", f"b{b:05d}")
    )
    with pytest.raises(RuntimeError, match="drifted"):
        idx.fsck()


def test_clone_rebucketed_continues(spark, tmp_path):
    idx = IncrementalComponentsIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(_feed(spark, [(1, 2), (2, 3), (5, 6)]))
    idx2 = idx.clone_rebucketed(str(tmp_path / "x2"), 32)
    assert idx2.store.n_buckets == 32
    assert _rows(idx2.cluster_assignments()) == _rows(
        idx.cluster_assignments()
    )
    idx2.fsck()
    # announce the NEW doc (7) with its pair to 6 — announcing 6 itself
    # would declare {7} its full pair set and drop (5,6), per contract
    idx2.apply_batch(_feed(spark, [(7, 6)]))
    assert _rows(idx2.cluster_assignments()) == _rows(
        _batch_truth(spark, [(1, 2), (2, 3), (5, 6), (6, 7)])
    )
    idx2.fsck()
