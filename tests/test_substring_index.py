"""Incremental substring-dedup index (streaming/substring_index.py):
streamed batch-at-a-time maintenance must converge EXACTLY to the batch
winnowing build, spans/report served from the maintained state must
equal operators/substrings over the same corpus, updates MOVE
fingerprint rows between hash buckets via the per-doc manifest, and the
bucket economics hold (small batches rewrite only touched buckets;
screening reads only its own fingerprints' bucket files)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.operators.substrings import (
    WIN_K,
    substring_dedup_report,
    substring_dup_spans,
    winnow_fingerprints,
)
from worker_spark.sources import load_table
from worker_spark.streaming.feed import file_feed_stream
from worker_spark.streaming.substring_index import IncrementalSubstringIndex


def _docs(spark):
    return load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_incremental_substring_converges_and_report_matches_batch(
    spark, tmp_path
):
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    idx = IncrementalSubstringIndex(spark, str(tmp_path / "x"))
    for residue in range(3):
        idx.apply_batch(docs.filter(F.col("doc_id") % 3 == residue))
    # state == the batch winnowing build, exactly
    assert _rows(idx.fps().select("doc_id", "fhash", "pos")) == _rows(
        winnow_fingerprints(docs).select("doc_id", "fhash", "pos")
    )
    # spans and report from maintained state == the batch operators
    # (text never read on the serving path)
    assert _rows(idx.dup_spans()) == _rows(substring_dup_spans(docs))
    assert _rows(idx.dedup_report()) == _rows(substring_dedup_report(docs))


def test_update_moves_fingerprint_rows_and_delete_removes(spark, tmp_path):
    docs = _docs(spark).limit(100).localCheckpoint(eager=True)
    idx = IncrementalSubstringIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(docs)
    victim = docs.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    old_hashes = {
        r["fhash"]
        for r in idx.fps().filter(F.col("doc_id") == victim).collect()
    }
    assert old_hashes  # the fixture docs are long enough to fingerprint

    new_text = "substring update body " * 8  # >= W+K-1 chars, new hashes
    updated = spark.createDataFrame(
        [(int(victim), new_text)], "doc_id long, text string"
    )
    idx.apply_batch(updated)
    after_all = {
        (r["fhash"], r["doc_id"], r["pos"]) for r in idx.fprows().collect()
    }
    new_hashes = {h for h, d, p in after_all if d == victim}
    assert new_hashes and new_hashes != old_hashes  # rows moved
    # the batch operator over the updated doc agrees exactly
    want = {
        (r["fhash"], r["doc_id"], r["pos"])
        for r in winnow_fingerprints(updated).collect()
    }
    assert {t for t in after_all if t[1] == victim} == want
    # replay is a no-op
    idx.apply_batch(updated)
    assert {
        (r["fhash"], r["doc_id"], r["pos"]) for r in idx.fprows().collect()
    } == after_all
    # the doclen row tracked the update
    assert idx.doclens().filter(F.col("doc_id") == victim).collect()[0][
        "doc_len"
    ] == len(new_text)

    # delete: whitespace-only text removes rows from ALL THREE tables
    idx.apply_batch(
        spark.createDataFrame(
            [(int(victim), "   ")], "doc_id long, text string"
        )
    )
    assert idx.fprows().filter(F.col("doc_id") == victim).count() == 0
    assert idx.fps().filter(F.col("doc_id") == victim).count() == 0
    assert idx.doclens().filter(F.col("doc_id") == victim).count() == 0
    idx.fsck()


def test_short_doc_owns_a_zero_report_row(spark, tmp_path):
    """A live document shorter than the K-gram width has no fingerprints
    but must still appear in the report (zero-filled) — the doclen
    table's reason to exist."""
    idx = IncrementalSubstringIndex(spark, str(tmp_path / "x"))
    short_text = "tiny"
    assert len(short_text) < WIN_K
    idx.apply_batch(
        spark.createDataFrame(
            [(1, short_text), (2, "a properly fingerprinted body " * 4)],
            "doc_id long, text string",
        )
    )
    assert idx.fprows().filter(F.col("doc_id") == 1).count() == 0
    report = {r["doc_id"]: r for r in idx.dedup_report().collect()}
    assert set(report) == {1, 2}
    assert report[1]["n_dup_spans"] == 0
    assert report[1]["dup_chars"] == 0
    assert report[1]["dup_frac"] == 0.0


def test_small_batch_touches_only_manifest_buckets(spark, tmp_path):
    docs = _docs(spark).limit(100).localCheckpoint(eager=True)
    root = str(tmp_path / "x")
    idx = IncrementalSubstringIndex(spark, root)
    idx.apply_batch(docs)
    fr_dir = os.path.join(root, "fprows")
    fp_dir = os.path.join(root, "fps")
    dl_dir = os.path.join(root, "doclen")
    fr_before = _bucket_snapshot(fr_dir)
    fp_before, dl_before = _bucket_snapshot(fp_dir), _bucket_snapshot(dl_dir)

    victim = 11
    old_fp = idx.fps().filter(F.col("doc_id") == victim).select("fhash")
    updated = spark.createDataFrame(
        [(victim, "qqsubstring replacement body " * 6)],
        "doc_id long, text string",
    )
    new_fp = winnow_fingerprints(updated).select("fhash")
    exp_hash_buckets = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            old_fp.unionByName(new_fp), "fhash"
        )
    }
    idx.apply_batch(updated)
    exp_doc = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            spark.createDataFrame([(victim,)], "doc_id long"), "doc_id"
        )
    }
    assert _changed(fr_before, _bucket_snapshot(fr_dir)) == exp_hash_buckets
    assert _changed(fp_before, _bucket_snapshot(fp_dir)) == exp_doc
    assert _changed(dl_before, _bucket_snapshot(dl_dir)) == exp_doc


def test_screen_reads_only_probe_buckets_and_matches_shared_fps(
    spark, tmp_path
):
    """The fhash-bucketing payoff: the lookup FileScan lists only the
    buckets the PROBE batch's fingerprints land in; and the screen
    output equals the shared-fingerprint pairs of the batch winnowing
    build across the hist/new split."""
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    hist = docs.filter(F.col("doc_id") % 10 < 8)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    # 64 buckets so a short probe's handful of fingerprints visibly
    # prunes (a full-length document carries ~len/8.5 fingerprints and
    # would touch every one of 16 buckets at this corpus size; at
    # production bucket counts the probed fraction is tiny either way)
    idx = IncrementalSubstringIndex(spark, str(tmp_path / "x"), n_buckets=64)
    idx.apply_batch(hist)

    probe = new.orderBy("doc_id").limit(1).select(
        "doc_id", F.substring("text", 1, 40).alias("text")
    ).localCheckpoint(eager=True)
    hits = idx.screen_batch(probe)
    scanned = {
        m.group(1)
        for f in hits.inputFiles()
        if (m := re.search(r"fprows/(b\d{5})/", f))
    }
    expected = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            winnow_fingerprints(probe), "fhash"
        )
    }
    assert scanned == expected
    n_total = len(
        _bucket_snapshot(os.path.join(str(tmp_path / "x"), "fprows"))
    )
    assert len(scanned) < n_total  # genuinely pruned

    got = {
        (r["new_id"], r["corpus_id"], r["fhash"])
        for r in idx.screen_batch(new).collect()
    }
    all_fps = winnow_fingerprints(docs).collect()
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    by_hash: dict[int, list[int]] = {}
    for r in all_fps:
        by_hash.setdefault(r["fhash"], []).append(r["doc_id"])
    want = {
        (a, b, h)
        for h, members in by_hash.items()
        for a in members
        for b in members
        if a != b and a in new_ids and b not in new_ids
    }
    assert {(a, b, h) for a, b, h in got} == want


def test_substring_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    docs = _docs(spark).limit(120).localCheckpoint(eager=True)
    feed = tmp_path / "feed"
    feed.mkdir()
    from worker_spark.queries.streamq import _stage_feed

    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    _stage_feed((b0,), str(feed))
    idx = IncrementalSubstringIndex(spark, str(tmp_path / "x"))
    ckpt = str(tmp_path / "ckpt")
    q = file_feed_stream(spark, str(feed), idx, ckpt)
    assert q.awaitTermination(300)
    assert idx.doclens().count() == b0.count()

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
    assert _rows(idx.fps().select("doc_id", "fhash", "pos")) == _rows(
        winnow_fingerprints(docs).select("doc_id", "fhash", "pos")
    )


def test_duplicate_keys_in_one_batch_are_last_wins(spark, tmp_path):
    """A merged trigger carrying a draft AND its correction must keep
    only the correction's fingerprint rows — never both versions (a doc
    dup-matching against itself)."""
    idx = IncrementalSubstringIndex(spark, str(tmp_path / "x"))
    draft = "the draft version of a long enough body " * 3
    final = "the corrected version of a long enough body " * 3
    batch = spark.createDataFrame(
        [(1, draft), (1, final), (2, "another stored body " * 3)],
        "doc_id long, text string",
    )
    idx.apply_batch(batch)
    assert idx.doclens().count() == 2
    winner_len = idx.doclens().filter(F.col("doc_id") == 1).collect()[0][
        "doc_len"
    ]
    winner = draft if winner_len == len(draft) else final
    want = _rows(
        winnow_fingerprints(
            spark.createDataFrame(
                [(1, winner)], "doc_id long, text string"
            )
        ).select("doc_id", "fhash", "pos")
    )
    got = _rows(
        idx.fps()
        .filter(F.col("doc_id") == 1)
        .select("doc_id", "fhash", "pos")
    )
    assert got == want
    # the winner must be deterministic — a replay elects the same one
    idx.apply_batch(batch)
    assert idx.doclens().filter(F.col("doc_id") == 1).collect()[0][
        "doc_len"
    ] == winner_len


def test_fsck_and_clone_rebucketed(spark, tmp_path):
    docs = _docs(spark).limit(100).localCheckpoint(eager=True)
    idx = IncrementalSubstringIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(docs)
    counts = idx.fsck()
    assert counts["fprows"] == counts["fps"] > 0
    assert counts["doclen"] > 0

    idx2 = idx.clone_rebucketed(str(tmp_path / "x2"), 32)
    assert idx2.store.n_buckets == 32
    assert _rows(idx2.fprows()) == _rows(idx.fprows())
    idx2.fsck()
    # maintenance continues on the new root after the resize
    idx2.apply_batch(
        spark.createDataFrame(
            [(11, "post resize body text " * 4)], "doc_id long, text string"
        )
    )
    idx2.fsck()

    # drifted manifest: smuggle an orphan fingerprint row in
    orphan = spark.createDataFrame(
        [(12345678, 999999, 1)], "fhash long, doc_id long, pos long"
    )
    b = idx2.store.touched_buckets(orphan, "fhash")[0]
    orphan.write.mode("append").parquet(
        os.path.join(str(tmp_path / "x2"), "fprows", f"b{b:05d}")
    )
    with pytest.raises(RuntimeError, match="drifted"):
        idx2.fsck()


def test_fsck_catches_missing_doclen_row(spark, tmp_path):
    """A fingerprint-bearing doc without a doclen row breaks the
    report's denominator — fsck must refuse."""
    idx = IncrementalSubstringIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(
        spark.createDataFrame(
            [(1, "a fingerprint bearing body " * 4)],
            "doc_id long, text string",
        )
    )
    idx.fsck()
    # surgically drop the doclen bucket's rows
    import shutil

    dl_dir = os.path.join(str(tmp_path / "x"), "doclen")
    for b in os.listdir(dl_dir):
        if b.startswith("b"):
            shutil.rmtree(os.path.join(dl_dir, b))
    with pytest.raises(RuntimeError, match="doclen"):
        idx.fsck()


def test_unknown_doc_delete_batch_is_a_clean_noop(spark, tmp_path):
    docs = _docs(spark).limit(50).localCheckpoint(eager=True)
    root = str(tmp_path / "x")
    idx = IncrementalSubstringIndex(spark, root)
    idx.apply_batch(docs)
    before = {
        t: _bucket_snapshot(os.path.join(root, t))
        for t in ("fprows", "fps", "doclen")
    }
    idx.apply_batch(
        spark.createDataFrame(
            [(10**9, ""), (10**9 + 1, "   ")], "doc_id long, text string"
        )
    )
    for t, snap in before.items():
        assert _bucket_snapshot(os.path.join(root, t)) == snap, t


def test_all_delete_batch_of_known_docs_empties_their_rows(spark, tmp_path):
    docs = _docs(spark).limit(50).localCheckpoint(eager=True)
    idx = IncrementalSubstringIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(docs)
    victims = [r["doc_id"] for r in docs.orderBy("doc_id").limit(3).collect()]
    idx.apply_batch(
        spark.createDataFrame(
            [(int(v), "") for v in victims], "doc_id long, text string"
        )
    )
    left = {r["doc_id"] for r in idx.doclens().collect()}
    assert left.isdisjoint(victims)
    assert {
        r["doc_id"] for r in idx.fps().select("doc_id").distinct().collect()
    } <= left
    idx.fsck()
