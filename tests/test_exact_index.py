"""Incremental exact-dedup index (streaming/exact_index.py): streamed
batch-at-a-time maintenance must converge EXACTLY to the batch
content-hash build, clusters served from the maintained state must
equal operators/dedup.exact_dedup over the same corpus, updates MOVE
hash rows between hash buckets via the per-doc manifest, and the bucket
economics hold (small batches rewrite only touched buckets; screening
reads only its own hashes' bucket files)."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.operators.dedup import exact_dedup
from worker_spark.sources import load_table
from worker_spark.streaming.exact_index import (
    IncrementalExactIndex,
    _content_hashes,
)
from worker_spark.streaming.feed import file_feed_stream


def _docs(spark):
    return load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_exact_converges_and_clusters_match_batch(
    spark, tmp_path
):
    docs = _docs(spark).localCheckpoint(eager=True)
    idx = IncrementalExactIndex(spark, str(tmp_path / "x"))
    for residue in range(3):
        idx.apply_batch(docs.filter(F.col("doc_id") % 3 == residue))
    # state == the batch hash build, exactly
    assert _rows(idx.fps()) == _rows(_content_hashes(docs))
    # clusters from maintained state == the batch operator (text never
    # read on the serving path)
    assert _rows(idx.dedup_clusters()) == _rows(exact_dedup(docs))


def test_update_moves_hash_rows_and_delete_removes(spark, tmp_path):
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    idx = IncrementalExactIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(docs)
    victim = docs.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    before = {
        (r["content_hash"], r["doc_id"]) for r in idx.hashes().collect()
    }
    old_hash = {h for h, d in before if d == victim}
    assert len(old_hash) == 1

    updated = spark.createDataFrame(
        [(int(victim), "zzexact update text")], "doc_id long, text string"
    )
    idx.apply_batch(updated)
    after = {
        (r["content_hash"], r["doc_id"]) for r in idx.hashes().collect()
    }
    new_hash = {h for h, d in after if d == victim}
    assert len(new_hash) == 1 and new_hash != old_hash  # hash moved
    # every other document's rows untouched
    assert {p for p in before if p[1] != victim} == {
        p for p in after if p[1] != victim
    }
    # replay is a no-op
    idx.apply_batch(updated)
    assert {
        (r["content_hash"], r["doc_id"]) for r in idx.hashes().collect()
    } == after

    # delete: whitespace-only text removes both rows
    idx.apply_batch(
        spark.createDataFrame(
            [(int(victim), "   ")], "doc_id long, text string"
        )
    )
    assert victim not in {r["doc_id"] for r in idx.hashes().collect()}
    assert idx.fps().filter(F.col("doc_id") == victim).count() == 0


def test_small_batch_touches_only_manifest_buckets(spark, tmp_path):
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    root = str(tmp_path / "x")
    idx = IncrementalExactIndex(spark, root)
    idx.apply_batch(docs)
    h_dir = os.path.join(root, "hashes")
    f_dir = os.path.join(root, "fps")
    h_before, f_before = _bucket_snapshot(h_dir), _bucket_snapshot(f_dir)

    victim = 11
    old_hash = (
        idx.fps().filter(F.col("doc_id") == victim).collect()[0][
            "content_hash"
        ]
    )
    new_text = "qqexact replacement body"
    idx.apply_batch(
        spark.createDataFrame(
            [(victim, new_text)], "doc_id long, text string"
        )
    )
    new_hash = (
        idx.fps().filter(F.col("doc_id") == victim).collect()[0][
            "content_hash"
        ]
    )
    both = spark.createDataFrame(
        [(old_hash,), (new_hash,)], "content_hash string"
    )
    exp_hashes = {
        f"b{b:05d}" for b in idx.store.touched_buckets(both, "content_hash")
    }
    exp_fps = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            spark.createDataFrame([(victim,)], "doc_id long"), "doc_id"
        )
    }
    assert _changed(h_before, _bucket_snapshot(h_dir)) == exp_hashes
    assert _changed(f_before, _bucket_snapshot(f_dir)) == exp_fps


def test_screen_reads_only_probe_hash_buckets_and_matches_batch(
    spark, tmp_path
):
    """The hash-bucketing payoff: the lookup FileScan lists only the
    buckets the PROBE batch's hashes land in; and the screen output
    equals the batch operator's cross-side duplicate pairs over the
    union corpus."""
    docs = _docs(spark).localCheckpoint(eager=True)
    hist = docs.filter(F.col("doc_id") % 10 < 8)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    idx = IncrementalExactIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(hist)

    probe = new.orderBy("doc_id").limit(1).localCheckpoint(eager=True)
    hits = idx.screen_batch(probe)
    scanned = {
        m.group(1)
        for f in hits.inputFiles()
        if (m := re.search(r"hashes/(b\d{5})/", f))
    }
    expected = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            _content_hashes(probe), "content_hash"
        )
    }
    assert scanned == expected
    n_total = len(
        _bucket_snapshot(os.path.join(str(tmp_path / "x"), "hashes"))
    )
    assert len(scanned) < n_total  # genuinely pruned

    got = {
        (r["new_id"], r["corpus_id"])
        for r in idx.screen_batch(new).collect()
    }
    # ground truth: same-text pairs across the hist/new split
    by_hash: dict[str, list[tuple[int, bool]]] = {}
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    for r in _content_hashes(docs).collect():
        if r["content_hash"] is not None:
            by_hash.setdefault(r["content_hash"], []).append(r["doc_id"])
    want = {
        (a, b)
        for members in by_hash.values()
        for a in members
        for b in members
        if a != b and a in new_ids and b not in new_ids
    }
    assert got == want


def test_exact_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    docs = _docs(spark).limit(300).localCheckpoint(eager=True)
    feed = tmp_path / "feed"
    feed.mkdir()
    from worker_spark.queries.streamq import _stage_feed

    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    _stage_feed((b0,), str(feed))
    idx = IncrementalExactIndex(spark, str(tmp_path / "x"))
    ckpt = str(tmp_path / "ckpt")
    q = file_feed_stream(spark, str(feed), idx, ckpt)
    assert q.awaitTermination(300)
    assert idx.fps().count() == b0.count()

    import glob
    import shutil
    import time

    now = time.time()
    for i, batch in enumerate((b1, b2), start=1):
        part_dir = str(tmp_path / f"_stage{i}")
        batch.coalesce(1).write.mode("overwrite").parquet(part_dir)
        (part,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(str(feed), f"b{i}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(part_dir, ignore_errors=True)
        os.utime(dst, (now + i, now + i))
    q2 = file_feed_stream(spark, str(feed), idx, ckpt)
    assert q2.awaitTermination(300)
    assert _rows(idx.fps()) == _rows(_content_hashes(docs))


def test_duplicate_keys_in_one_batch_are_last_wins(spark, tmp_path):
    """A merged trigger carrying a draft AND its correction must keep
    only the correction's hash row — never both versions (a doc serving
    as its own duplicate cluster)."""
    idx = IncrementalExactIndex(spark, str(tmp_path / "x"))
    batch = spark.createDataFrame(
        [(1, "draft body"), (1, "corrected body"), (2, "other")],
        "doc_id long, text string",
    )
    idx.apply_batch(batch)
    rows = {r["doc_id"]: r["content_hash"] for r in idx.fps().collect()}
    assert set(rows) == {1, 2}
    assert idx.hashes().count() == 2
    # within-batch order: last_wins on an in-memory frame has no file
    # order, but the winner must be deterministic — a replay elects it
    idx.apply_batch(batch)
    assert {
        r["doc_id"]: r["content_hash"] for r in idx.fps().collect()
    } == rows


def test_fsck_and_clone_rebucketed(spark, tmp_path):
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    idx = IncrementalExactIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(docs)
    counts = idx.fsck()
    assert counts["hashes"] == counts["fps"] > 0

    idx2 = idx.clone_rebucketed(str(tmp_path / "x2"), 32)
    assert idx2.store.n_buckets == 32
    assert _rows(idx2.hashes()) == _rows(idx.hashes())
    idx2.fsck()
    # maintenance continues on the new root after the resize
    idx2.apply_batch(
        spark.createDataFrame(
            [(11, "post resize body")], "doc_id long, text string"
        )
    )
    assert (
        idx2.fps().filter(F.col("doc_id") == 11).collect()[0]["content_hash"]
        is not None
    )
    idx2.fsck()

    # drifted manifest: smuggle an orphan hash row into its bucket dir
    orphan = spark.createDataFrame(
        [("deadbeef" * 4, 999999)], "content_hash string, doc_id long"
    )
    b = idx2.store.touched_buckets(orphan, "content_hash")[0]
    orphan.write.mode("append").parquet(
        os.path.join(str(tmp_path / "x2"), "hashes", f"b{b:05d}")
    )
    import pytest

    with pytest.raises(RuntimeError, match="drifted"):
        idx2.fsck()


def test_unknown_doc_delete_batch_is_a_clean_noop(spark, tmp_path):
    """A batch that only deletes docs the index never saw (contentless
    text, no stored rows) must early-return without touching a single
    bucket file — the touched-set arithmetic's empty case."""
    docs = _docs(spark).limit(50).localCheckpoint(eager=True)
    root = str(tmp_path / "x")
    idx = IncrementalExactIndex(spark, root)
    idx.apply_batch(docs)
    h_before = _bucket_snapshot(os.path.join(root, "hashes"))
    f_before = _bucket_snapshot(os.path.join(root, "fps"))
    idx.apply_batch(
        spark.createDataFrame(
            [(10**9, ""), (10**9 + 1, "   ")], "doc_id long, text string"
        )
    )
    assert _bucket_snapshot(os.path.join(root, "hashes")) == h_before
    assert _bucket_snapshot(os.path.join(root, "fps")) == f_before


def test_all_delete_batch_of_known_docs_empties_their_rows(spark, tmp_path):
    """A batch consisting ONLY of deletes for existing docs must remove
    their rows from BOTH tables (the inserts-empty path through
    delete_then_insert)."""
    docs = _docs(spark).limit(50).localCheckpoint(eager=True)
    idx = IncrementalExactIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(docs)
    victims = [r["doc_id"] for r in docs.orderBy("doc_id").limit(3).collect()]
    idx.apply_batch(
        spark.createDataFrame(
            [(int(v), "") for v in victims], "doc_id long, text string"
        )
    )
    left = {r["doc_id"] for r in idx.fps().collect()}
    assert left.isdisjoint(victims)
    assert {r["doc_id"] for r in idx.hashes().collect()} == left
    idx.fsck()
