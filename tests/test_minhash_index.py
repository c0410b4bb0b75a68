"""Incremental MinHash-LSH dedup index (streaming/minhash_index.py):
streamed batch-at-a-time maintenance must converge EXACTLY to the batch
signature build, pairs served from the maintained state must equal
operators/dedup.minhash_lsh_dedup_pairs over the same corpus, updates
MOVE band rows between band keys via the stored-signature manifest, and
the bucket economics hold (small batches rewrite only touched buckets;
screening reads only its own band keys' bucket files)."""

from __future__ import annotations

import os
import re

import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.operators.dedup import (
    minhash_lsh_dedup_pairs,
    minhash_signatures,
)
from worker_spark.sources import load_table
from worker_spark.streaming.feed import file_feed_stream
from worker_spark.streaming.minhash_index import (
    IncrementalMinHashIndex,
    _band_rows,
)


def _docs(spark):
    return load_table(spark, SF_ORACLE, "documents").select("doc_id", "text")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _sig_frame(docs):
    """Batch signatures in the index's storage shape."""
    return minhash_signatures(docs).select(
        F.col("id").cast("long").alias("doc_id"),
        F.array(*[F.col(f"mh_{i}") for i in range(16)]).alias("sig"),
    )


def test_incremental_minhash_converges_and_pairs_match_batch(
    spark, tmp_path
):
    docs = _docs(spark).localCheckpoint(eager=True)
    idx = IncrementalMinHashIndex(spark, str(tmp_path / "m"))
    for residue in range(3):
        idx.apply_batch(docs.filter(F.col("doc_id") % 3 == residue))
    # signatures == the batch build, exactly
    assert _rows(idx.sigs()) == _rows(_sig_frame(docs))
    # bands == the banded expansion of those signatures, exactly
    assert _rows(idx.bands()) == _rows(_band_rows(_sig_frame(docs)))
    # verified pairs from maintained state == the batch pipeline
    assert _rows(idx.dedup_pairs(docs, threshold=0.5)) == _rows(
        minhash_lsh_dedup_pairs(docs, threshold=0.5)
    )


def test_verify_releases_its_shingle_cache(spark, tmp_path):
    """_verify caches the shingle relation for its 3 scans but must
    unpersist it once the output is materialized (round-10 advice):
    repeated dedup_pairs/screen_batch calls in a long-lived session
    would otherwise accumulate cached relations and pressure executor
    storage memory."""
    docs = _docs(spark).limit(120).localCheckpoint(eager=True)
    idx = IncrementalMinHashIndex(spark, str(tmp_path / "m"))
    idx.apply_batch(docs)
    # earlier tests in the session may hold their own (transparent)
    # caches — clear so emptiness-after is attributable to _verify
    spark.catalog.clearCache()
    jss = spark._jsparkSession.sharedState().cacheManager()
    assert jss.isEmpty(), "test precondition: no cached relations"
    pairs = idx.dedup_pairs(docs, threshold=0.5)
    pairs.count()
    assert jss.isEmpty(), "dedup_pairs leaked a cached shingle relation"
    new = spark.createDataFrame(
        [(100001, "zzalpha zzbeta zzgamma zzdelta")],
        "doc_id long, text string",
    )
    idx.screen_batch(new, docs, threshold=0.5).count()
    assert jss.isEmpty(), "screen_batch leaked a cached shingle relation"


def test_update_moves_band_rows_and_delete_removes(spark, tmp_path):
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    idx = IncrementalMinHashIndex(spark, str(tmp_path / "m"))
    idx.apply_batch(docs)
    victim = docs.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    before = {(r["doc_id"], r["bk"]) for r in idx.bands().collect()}
    old_keys = {bk for d, bk in before if d == victim}
    assert old_keys

    updated = spark.createDataFrame(
        [(int(victim), "zzalpha zzbeta zzgamma zzdelta zzepsilon")],
        "doc_id long, text string",
    )
    idx.apply_batch(updated)
    after = {(r["doc_id"], r["bk"]) for r in idx.bands().collect()}
    new_keys = {bk for d, bk in after if d == victim}
    assert new_keys and new_keys != old_keys  # signature moved
    # every other document's band rows are untouched
    assert {p for p in before if p[0] != victim} == {
        p for p in after if p[0] != victim
    }
    # replay is a no-op
    idx.apply_batch(updated)
    assert {(r["doc_id"], r["bk"]) for r in idx.bands().collect()} == after

    # delete: a shingle-less text removes the doc's band AND sigs rows
    idx.apply_batch(
        spark.createDataFrame([(int(victim), "")], "doc_id long, text string")
    )
    assert victim not in {r["doc_id"] for r in idx.bands().collect()}
    assert idx.sigs().filter(F.col("doc_id") == victim).count() == 0


def test_small_batch_touches_only_manifest_buckets(spark, tmp_path):
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    root = str(tmp_path / "m")
    idx = IncrementalMinHashIndex(spark, root)
    idx.apply_batch(docs)
    b_dir = os.path.join(root, "bands")
    s_dir = os.path.join(root, "sigs")
    b_before, s_before = _bucket_snapshot(b_dir), _bucket_snapshot(s_dir)

    victim = 11
    old_sig = idx.sigs().filter(F.col("doc_id") == victim).collect()[0][
        "sig"
    ]
    updated = spark.createDataFrame(
        [(victim, "qqone qqtwo qqthree qqfour qqfive qqsix")],
        "doc_id long, text string",
    )
    idx.apply_batch(updated)
    new_sig = idx.sigs().filter(F.col("doc_id") == victim).collect()[0][
        "sig"
    ]
    sigs_two = spark.createDataFrame(
        [(victim, old_sig), (victim, new_sig)],
        "doc_id long, sig array<long>",
    )
    exp_bands = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(_band_rows(sigs_two), "bk")
    }
    exp_sigs = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            spark.createDataFrame([(victim,)], "doc_id long"), "doc_id"
        )
    }
    assert _changed(b_before, _bucket_snapshot(b_dir)) == exp_bands
    assert _changed(s_before, _bucket_snapshot(s_dir)) == exp_sigs


def test_screen_reads_only_probe_band_buckets_and_matches_batch(
    spark, tmp_path
):
    """The band-bucketing payoff: the candidate FileScan lists only the
    buckets containing the PROBE batch's band keys; and the verified
    screen output equals the batch pipeline's new-vs-corpus rows over
    the union corpus."""
    docs = _docs(spark).localCheckpoint(eager=True)
    hist = docs.filter(F.col("doc_id") % 10 < 8)
    new = docs.filter(F.col("doc_id") % 10 >= 8)
    idx = IncrementalMinHashIndex(spark, str(tmp_path / "m"))
    idx.apply_batch(hist)

    # a one-document probe carries at most N_BANDS=4 band keys, so its
    # scan can only touch <=4 of the 16 bucket dirs
    probe = new.orderBy("doc_id").limit(1).localCheckpoint(eager=True)
    cands = idx.screen_candidates(probe)
    scanned = {
        m.group(1)
        for f in cands.inputFiles()
        if (m := re.search(r"bands/(b\d{5})/", f))
    }
    qbands = _band_rows(_sig_frame(probe))
    expected = {
        f"b{b:05d}" for b in idx.store.touched_buckets(qbands, "bk")
    }
    assert scanned == expected
    n_total = len(
        _bucket_snapshot(os.path.join(str(tmp_path / "m"), "bands"))
    )
    assert len(scanned) < n_total  # genuinely pruned

    got = _rows(idx.screen_batch(new, hist, threshold=0.5))
    new_ids = {r["doc_id"] for r in new.select("doc_id").collect()}
    want = [
        (a, b, j) if a in new_ids else (b, a, j)
        for a, b, j in _rows(
            minhash_lsh_dedup_pairs(docs, threshold=0.5)
        )
        if (a in new_ids) != (b in new_ids)  # exactly one side new
    ]
    assert sorted(got) == sorted(want)


def test_minhash_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill the maintenance stream after one file, restart with the
    same checkpoint: the drained index must equal the batch build, with
    no batch applied twice (replays are no-ops anyway — this pins that
    the OFFSETS resume, the stronger operational property)."""
    docs = _docs(spark).limit(300).localCheckpoint(eager=True)
    feed = tmp_path / "feed"
    feed.mkdir()
    from worker_spark.queries.streamq import _stage_feed

    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)
    _stage_feed((b0,), str(feed))
    idx = IncrementalMinHashIndex(spark, str(tmp_path / "m"))
    ckpt = str(tmp_path / "ckpt")
    q = file_feed_stream(spark, str(feed), idx, ckpt)
    assert q.awaitTermination(300)
    assert idx.sigs().count() == b0.count()

    # two more files land; a NEW stream on the same checkpoint drains
    # only them
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
    assert _rows(idx.sigs()) == _rows(_sig_frame(docs))


def test_dedup_pairs_plan_has_no_pairwise_hazard(spark, tmp_path):
    """Serving-plan audit: candidates come from one band-key equi-join
    of stored band rows and the verify stage is candidate-restricted
    equi-joins — no cartesian/broadcast-nested-loop stage may appear
    anywhere, at any corpus size."""
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    idx = IncrementalMinHashIndex(spark, str(tmp_path / "m"))
    idx.apply_batch(docs)
    df = idx.dedup_pairs(docs, threshold=0.5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_clone_rebucketed_carries_state_and_maintenance(spark, tmp_path):
    """Resize path for the fingerprint-manifest indexes: no transform
    needed (band keys are column math over stored sigs), state carries
    bit-for-bit and a post-resize update still moves band rows."""
    docs = _docs(spark).limit(200).localCheckpoint(eager=True)
    idx = IncrementalMinHashIndex(spark, str(tmp_path / "old"), n_buckets=8)
    idx.apply_batch(docs)
    before_sigs = _rows(idx.sigs())
    before_bands = _rows(idx.bands())

    idx2 = idx.clone_rebucketed(str(tmp_path / "new"), 32)
    assert idx2.store.n_buckets == 32
    assert _rows(idx2.sigs()) == before_sigs
    assert _rows(idx2.bands()) == before_bands

    victim = int(docs.orderBy("doc_id").limit(1).collect()[0]["doc_id"])
    idx2.apply_batch(
        spark.createDataFrame(
            [(victim, "zzresize zzalpha zzbeta zzgamma")],
            "doc_id long, text string",
        )
    )
    mine = [r for r in idx2.bands().collect() if r["doc_id"] == victim]
    assert len(mine) == 4  # one row per band
    old_keys = {r[0] for r in before_bands if r[3] == victim}
    assert {r["bk"] for r in mine} != old_keys  # the old keys are gone


def test_fsck_green_after_maintenance_and_loud_on_band_drift(
    spark, tmp_path
):
    docs = _docs(spark).limit(100).localCheckpoint(eager=True)
    idx = IncrementalMinHashIndex(spark, str(tmp_path / "m"))
    idx.apply_batch(docs)
    counts = idx.fsck()
    assert counts["sigs"] == 100 and counts["bands"] == 400

    # orphan band row: a doc_id with no stored signature
    from worker_spark.streaming.minhash_index import BANDS_SCHEMA

    orphan = spark.createDataFrame(
        [("3:9-9-9-9", 3, "9-9-9-9", 10**9)], BANDS_SCHEMA
    )
    idx.store.delete_then_insert(
        "bands",
        delete_keys=orphan.select("doc_id"),
        inserts=orphan,
        schema=BANDS_SCHEMA,
        bucket_col="bk",
        delete_on="doc_id",
        touched=idx.store.touched_buckets(orphan, "bk"),
    )
    with pytest.raises(RuntimeError, match="drifted from the stored"):
        idx.fsck()
