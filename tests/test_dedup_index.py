"""Incremental SimHash dedup index (streaming/dedup_index.py): streamed
batch-at-a-time maintenance must converge EXACTLY to the batch banded
build, screening must equal operators/dedup.simhash_incremental_pairs
over the union corpus, updates MOVE band rows between band keys via the
fingerprint manifest, and the bucket economics hold (small batches
rewrite only touched buckets; screening reads only its own band keys'
bucket files)."""

from __future__ import annotations

import os
import re

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.operators.dedup import simhash, simhash_incremental_pairs
from worker_spark.sources import load_table
from worker_spark.streaming.dedup_index import (
    FPS_SCHEMA,
    IncrementalDedupIndex,
    _band_rows,
)


def _docs(spark):
    return load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_duplicate_keys_in_one_batch_are_last_wins(spark, tmp_path):
    """Round-9 advice (medium): two versions of one doc_id inside a
    single batch must fingerprint ONLY the later-file version — not
    silently merge both versions' shingles into a fingerprint that
    matches neither."""
    from tests.test_incremental_retrieval import _two_file_batch

    stale = "the stale draft of this document body with old words"
    fresh = "a completely rewritten corrected final document body"
    batch = _two_file_batch(
        spark,
        tmp_path,
        "doc_id long, text string",
        [(1, stale)],
        [(1, fresh)],
    )
    idx = IncrementalDedupIndex(spark, str(tmp_path / "d"))
    idx.apply_batch(batch)
    want = _rows(
        simhash(
            spark.createDataFrame([(1, fresh)], "doc_id long, text string")
        ).select(F.col("id").cast("long").alias("doc_id"), "simhash")
    )
    assert _rows(idx.fps()) == want  # one fingerprint: the fresh text's


def test_incremental_dedup_index_converges_and_screens_exactly(
    spark, tmp_path
):
    docs = _docs(spark).localCheckpoint(eager=True)
    hist = docs.filter(F.col("doc_id") % 10 < 8)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    idx = IncrementalDedupIndex(spark, str(tmp_path / "d"))
    for residue in range(3):
        idx.apply_batch(hist.filter(F.col("doc_id") % 3 == residue))
    # state == the batch banded build over the historical corpus
    want_bands = _band_rows(
        simhash(hist).select(F.col("id").alias("doc_id"), "simhash")
    )
    assert _rows(idx.bands()) == _rows(want_bands)
    # screening the new batch == the batch incremental operator
    assert _rows(idx.screen_batch(new, max_hamming=3)) == _rows(
        simhash_incremental_pairs(
            docs, is_new=(F.col("doc_id") % 10 >= 8), max_hamming=3
        )
    )


def test_update_moves_band_rows_and_delete_removes(spark, tmp_path):
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    idx = IncrementalDedupIndex(spark, str(tmp_path / "d"))
    idx.apply_batch(docs)
    victim = docs.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    before = {
        (r["doc_id"], r["bk"]) for r in idx.bands().collect()
    }
    old_keys = {bk for d, bk in before if d == victim}
    assert old_keys

    updated = spark.createDataFrame(
        [(int(victim), "zzalpha zzbeta zzgamma zzdelta zzepsilon")],
        "doc_id long, text string",
    )
    idx.apply_batch(updated)
    after = {(r["doc_id"], r["bk"]) for r in idx.bands().collect()}
    new_keys = {bk for d, bk in after if d == victim}
    assert new_keys and new_keys != old_keys  # fingerprint moved
    # every other document's band rows are untouched
    assert {p for p in before if p[0] != victim} == {
        p for p in after if p[0] != victim
    }
    # replay is a no-op
    idx.apply_batch(updated)
    assert {(r["doc_id"], r["bk"]) for r in idx.bands().collect()} == after

    # delete: a shingle-less text removes the doc's band AND fps rows
    idx.apply_batch(
        spark.createDataFrame([(int(victim), "")], "doc_id long, text string")
    )
    assert victim not in {r["doc_id"] for r in idx.bands().collect()}
    assert (
        idx.fps().filter(F.col("doc_id") == victim).count() == 0
    )


def test_small_batch_touches_only_manifest_buckets(spark, tmp_path):
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    root = str(tmp_path / "d")
    idx = IncrementalDedupIndex(spark, root)
    idx.apply_batch(docs)
    b_dir = os.path.join(root, "bands")
    f_dir = os.path.join(root, "fps")
    b_before, f_before = _bucket_snapshot(b_dir), _bucket_snapshot(f_dir)

    victim = 11
    old_fp = idx.fps().filter(F.col("doc_id") == victim).collect()[0][
        "simhash"
    ]
    updated = spark.createDataFrame(
        [(victim, "qqone qqtwo qqthree qqfour qqfive qqsix")],
        "doc_id long, text string",
    )
    idx.apply_batch(updated)
    new_fp = idx.fps().filter(F.col("doc_id") == victim).collect()[0][
        "simhash"
    ]
    fps_two = spark.createDataFrame(
        [(victim, old_fp), (victim, new_fp)], "doc_id long, simhash long"
    )
    exp_bands = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(_band_rows(fps_two), "bk")
    }
    exp_fps = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            spark.createDataFrame([(victim,)], "doc_id long"), "doc_id"
        )
    }
    assert _changed(b_before, _bucket_snapshot(b_dir)) == exp_bands
    assert _changed(f_before, _bucket_snapshot(f_dir)) == exp_fps


def test_screen_reads_only_probe_band_buckets(spark, tmp_path):
    """The band-bucketing payoff: screening's bands FileScan lists only
    the buckets containing the PROBE batch's band keys."""
    docs = _docs(spark).localCheckpoint(eager=True)
    idx = IncrementalDedupIndex(spark, str(tmp_path / "d"))
    idx.apply_batch(docs.filter(F.col("doc_id") % 10 < 8))
    probe = docs.filter(F.col("doc_id") == 8)
    df = idx.screen_batch(probe)
    scanned = {
        m.group(1)
        for f in df.inputFiles()
        if (m := re.search(r"bands/(b\d{5})/", f))
    }
    qfps = simhash(probe).select(F.col("id").alias("doc_id"), "simhash")
    expected = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(_band_rows(qfps), "bk")
    }
    assert scanned == expected
    n_total = len(_bucket_snapshot(os.path.join(str(tmp_path / "d"), "bands")))
    assert len(scanned) < n_total  # genuinely pruned


def test_fsck_green_after_maintenance(spark, tmp_path):
    docs = _docs(spark).limit(100).localCheckpoint(eager=True)
    idx = IncrementalDedupIndex(spark, str(tmp_path / "d"))
    idx.apply_batch(docs)
    counts = idx.fsck()
    assert counts["fps"] == 100 and counts["bands"] == 400
