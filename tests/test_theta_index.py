"""Incremental theta-sketch overlap summary (streaming/theta_index.py,
the 14th maintained structure): per-group bottom-k distinct-hash state
folded per batch must equal the batch theta_set_ops sketch over the
full streamed history EXACTLY (distinct-bottom-k associativity),
re-observed members must dedup to a no-op, the bounded-state invariant
(≤ k distinct hashes per group, ever) must hold through heavy
eviction, and the family's standing pins: k-pin reopen refusal,
touched-bucket economics, loud fsck, checkpoint restart."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.operators.sketches import theta_set_ops
from worker_spark.sources import load_table
from worker_spark.streaming.theta_index import (
    THS_SCHEMA,
    IncrementalThetaIndex,
)


def _events(spark):
    # the events table in the index's FEED_SCHEMA names
    return load_table(spark, SF_ORACLE, "events").select(
        F.col("event_type").alias("g"), F.col("user_id").alias("v")
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _overlaps_match_batch(idx, events, k=None):
    kw = {"k": k} if k else {}
    got = _rows(idx.overlaps())
    want = _rows(
        theta_set_ops(events, "v", "g", audit=False, **kw)
    )
    assert got == want


def test_streamed_batches_converge_to_batch_sketch(spark, tmp_path):
    """Three batches with a re-delivered membership slice == the batch
    theta_set_ops estimates over the full table, exactly."""
    e = _events(spark).localCheckpoint(eager=True)
    idx = IncrementalThetaIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(e.filter(F.col("v") % 3 == 0))
    # batch 1 re-delivers a slice of batch 0 (user%9==0 ⊂ user%3==0)
    idx.apply_batch(e.filter((F.col("v") % 3 == 1) | (F.col("v") % 9 == 0)))
    idx.apply_batch(e.filter(F.col("v") % 3 == 2))
    _overlaps_match_batch(idx, e)
    idx.fsck()


def test_reobserved_members_are_a_noop(spark, tmp_path):
    idx = IncrementalThetaIndex(spark, str(tmp_path / "x"))
    b = spark.createDataFrame(
        [("a", i) for i in range(1, 9)] + [("b", i) for i in range(5, 13)],
        "g string, v long",
    )
    idx.apply_batch(b)
    before = _rows(idx.sample())
    idx.apply_batch(b)  # full membership re-delivery
    assert _rows(idx.sample()) == before
    # under-full sketches (n < k=16): theta = hash space, estimates
    # exact — the 4-member intersection reads exactly
    est = idx.overlaps().collect()[0]
    assert (est["inter_est"], est["union_est"]) == (4.0, 12.0)
    assert est["jaccard_est"] == round(4 / 12, 6)


def test_bounded_state_survives_heavy_eviction(spark, tmp_path):
    k = 16
    idx = IncrementalThetaIndex(spark, str(tmp_path / "x"), k=k)
    e = _events(spark).limit(4000).localCheckpoint(eager=True)
    for r in range(5):
        idx.apply_batch(e.filter(F.col("v") % 5 == r))
        cap = (
            idx.sample().groupBy("g").agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n")).collect()[0][0]
        )
        assert cap <= k
    _overlaps_match_batch(idx, e, k=k)
    idx.fsck()


def test_reopen_with_different_k_is_refused(spark, tmp_path):
    root = str(tmp_path / "x")
    IncrementalThetaIndex(spark, root, k=16)
    with pytest.raises(ValueError, match="rebuild into a fresh root"):
        IncrementalThetaIndex(spark, root, k=32)
    IncrementalThetaIndex(spark, root, k=16)


def test_batch_rewrites_only_touched_group_buckets(spark, tmp_path):
    root = str(tmp_path / "x")
    idx = IncrementalThetaIndex(spark, root, n_buckets=8)
    seed = spark.createDataFrame(
        [(f"g{j}", j * 1000 + i) for j in range(8) for i in range(40)],
        "g string, v long",
    )
    idx.apply_batch(seed)
    before = _bucket_snapshot(os.path.join(root, idx.THS))
    idx.apply_batch(
        spark.createDataFrame([("g0", 99_999)], "g string, v long")
    )
    after = _bucket_snapshot(os.path.join(root, idx.THS))
    assert len(_changed(before, after)) == 1  # g0's bucket only


def test_fsck_catches_overfull_group(spark, tmp_path):
    root = str(tmp_path / "x")
    idx = IncrementalThetaIndex(spark, root, k=4)
    idx.apply_batch(
        spark.createDataFrame([("a", i) for i in range(4)], "g string, v long")
    )
    idx.fsck()
    extra = spark.createDataFrame([("a", 123456789)], THS_SCHEMA)
    idx.store.delete_then_insert(
        idx.THS,
        delete_keys=spark.createDataFrame([], "g string"),
        inserts=extra,
        schema=THS_SCHEMA,
        bucket_col="g",
    )
    with pytest.raises(RuntimeError, match="bounded-sketch invariant"):
        idx.fsck()


def test_theta_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-resume symmetry with the rest of the index family
    (3-batch coverage lives here — the registered feed is 2 files)."""
    import glob
    import os as _os
    import shutil

    from worker_spark.streaming.feed import file_feed_stream

    e = _events(spark).limit(4000).localCheckpoint(eager=True)
    feed = str(tmp_path / "feed")
    _os.makedirs(feed)

    def land(batch, name):
        stage = str(tmp_path / f"_stage_{name}")
        batch.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = glob.glob(_os.path.join(stage, "part-*.parquet"))
        shutil.move(part, _os.path.join(feed, f"{name}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)

    root = str(tmp_path / "x")
    ckpt = str(tmp_path / "ckpt")
    def run_stream(idx):
        return file_feed_stream(spark, feed, idx, ckpt)

    land(e.filter(F.col("v") % 3 == 0), "b0")
    idx = IncrementalThetaIndex(spark, root)
    assert run_stream(idx).awaitTermination(120)

    land(
        e.filter((F.col("v") % 3 == 1) | (F.col("v") % 9 == 0)),
        "b1",
    )
    land(e.filter(F.col("v") % 3 == 2), "b2")
    reopened = IncrementalThetaIndex(spark, root)
    assert run_stream(reopened).awaitTermination(120)
    _overlaps_match_batch(reopened, e)
    reopened.fsck()
