"""Incremental mergeable quantile summary (streaming/quantile_index.py,
the 13th maintained structure): per-group bottom-k state folded per
batch must equal the batch sketch over the full streamed history
EXACTLY (bottom-k associativity), at-least-once re-delivery must be a
no-op, the bounded-state invariant (≤ k rows per group, ever) must
hold through heavy eviction, and the family's standing pins: k-pin
reopen refusal, touched-bucket economics, loud fsck."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.operators.sketches import quantile_sketch
from worker_spark.sources import load_table
from worker_spark.streaming.quantile_index import (
    SMP_SCHEMA,
    IncrementalQuantileIndex,
)


def _events(spark):
    # the events table in the index's FEED_SCHEMA names
    return load_table(spark, SF_ORACLE, "events").select(
        F.col("event_type").alias("g"),
        F.col("event_id").alias("kid"),
        F.col("value").alias("v"),
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _estimates_match_batch(idx, events):
    got = _rows(idx.estimates())
    want = _rows(
        quantile_sketch(events, "v", "kid", "g").select(
            "g", "m", "p50_est", "p90_est", "p99_est"
        )
    )
    assert got == want


def test_streamed_batches_converge_to_batch_sketch(spark, tmp_path):
    """Three batches with an at-least-once re-delivered overlap slice
    == the batch sketch over the full table, exactly (the registered
    row's contract at test scale)."""
    e = _events(spark).localCheckpoint(eager=True)
    idx = IncrementalQuantileIndex(spark, str(tmp_path / "x"))
    idx.apply_batch(e.filter(F.col("kid") % 3 == 0))
    # batch 1 re-delivers a slice of batch 0 (id%9==0 ⊂ id%3==0)
    idx.apply_batch(
        e.filter((F.col("kid") % 3 == 1) | (F.col("kid") % 9 == 0))
    )
    idx.apply_batch(e.filter(F.col("kid") % 3 == 2))
    _estimates_match_batch(idx, e)
    idx.fsck()


def test_replay_is_a_noop_and_small_group_is_exact(spark, tmp_path):
    idx = IncrementalQuantileIndex(spark, str(tmp_path / "x"), k=64)
    b = spark.createDataFrame(
        [("a", i, float(i)) for i in range(1, 11)],
        "g string, kid long, v double",
    )
    idx.apply_batch(b)
    before = _rows(idx.sample())
    idx.apply_batch(b)  # full re-delivery
    assert _rows(idx.sample()) == before
    # n=10 <= k=64: the sample holds everything, estimates are the exact
    # nearest-rank order statistics of 1..10
    est = idx.estimates().collect()[0]
    assert (est["m"], est["p50_est"], est["p90_est"], est["p99_est"]) == (
        10, 5.0, 9.0, 10.0,
    )


def test_bounded_state_survives_heavy_eviction(spark, tmp_path):
    """Many batches, tiny k: per-group rows never exceed k, and the
    final sample equals the batch sketch at the same k — eviction loses
    exactly the rows the batch build would never have kept."""
    k = 16
    idx = IncrementalQuantileIndex(spark, str(tmp_path / "x"), k=k)
    e = _events(spark).limit(3000).localCheckpoint(eager=True)
    for r in range(5):
        idx.apply_batch(e.filter(F.col("kid") % 5 == r))
        cap = (
            idx.sample().groupBy("g").agg(F.count(F.lit(1)).alias("n"))
            .agg(F.max("n")).collect()[0][0]
        )
        assert cap <= k
    got = _rows(idx.estimates())
    want = _rows(
        quantile_sketch(e, "v", "kid", "g", k=k).select(
            "g", "m", "p50_est", "p90_est", "p99_est"
        )
    )
    assert got == want
    idx.fsck()


def test_null_nan_rows_are_excluded_like_the_batch_operator(spark, tmp_path):
    idx = IncrementalQuantileIndex(spark, str(tmp_path / "x"))
    b = spark.createDataFrame(
        [
            ("a", 1, 1.0),
            ("a", 2, None),
            ("a", 3, float("nan")),
            ("a", None, 9.0),
            ("a", 4, 2.0),
        ],
        "g string, kid long, v double",
    )
    idx.apply_batch(b)
    assert {r["kid"] for r in idx.sample().collect()} == {"1", "4"}


def test_reopen_with_different_k_is_refused(spark, tmp_path):
    root = str(tmp_path / "x")
    IncrementalQuantileIndex(spark, root, k=32)
    with pytest.raises(ValueError, match="rebuild into a fresh root"):
        IncrementalQuantileIndex(spark, root, k=64)
    IncrementalQuantileIndex(spark, root, k=32)  # same k reopens fine


def test_batch_rewrites_only_touched_group_buckets(spark, tmp_path):
    root = str(tmp_path / "x")
    idx = IncrementalQuantileIndex(spark, root, n_buckets=8)
    seed = spark.createDataFrame(
        [(f"g{j}", j * 1000 + i, float(i)) for j in range(8) for i in range(50)],
        "g string, kid long, v double",
    )
    idx.apply_batch(seed)
    before = _bucket_snapshot(os.path.join(root, idx.SMP))
    one = spark.createDataFrame(
        [("g0", 99_999, 0.5)], "g string, kid long, v double"
    )
    idx.apply_batch(one)
    after = _bucket_snapshot(os.path.join(root, idx.SMP))
    assert len(_changed(before, after)) == 1  # g0's bucket only


def test_fsck_catches_overfull_group(spark, tmp_path):
    root = str(tmp_path / "x")
    idx = IncrementalQuantileIndex(spark, root, k=4)
    idx.apply_batch(
        spark.createDataFrame(
            [("a", i, float(i)) for i in range(4)],
            "g string, kid long, v double",
        )
    )
    idx.fsck()
    # smuggle a 5th row in through the raw store (bypassing apply_batch)
    extra = spark.createDataFrame([("a", "smuggled", 7, 7.0)], SMP_SCHEMA)
    idx.store.delete_then_insert(
        idx.SMP,
        delete_keys=spark.createDataFrame([], "g string"),
        inserts=extra,
        schema=SMP_SCHEMA,
        bucket_col="g",
    )
    with pytest.raises(RuntimeError, match="bounded-sample invariant"):
        idx.fsck()


def test_quantile_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-resume symmetry with the rest of the index family: a
    second availableNow stream over the same checkpoint processes only
    files landed after the first drain (3-batch coverage lives here —
    the registered feed is 2 files), the index handle RECONSTRUCTED
    from the pinned root, and the served estimates still equal the
    batch sketch exactly."""
    import glob
    import os as _os
    import shutil

    from worker_spark.streaming.feed import file_feed_stream

    e = _events(spark).limit(3000).localCheckpoint(eager=True)
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

    land(e.filter(F.col("kid") % 3 == 0), "b0")
    idx = IncrementalQuantileIndex(spark, root)
    assert run_stream(idx).awaitTermination(120)

    # post-restart files include an at-least-once re-delivered slice
    land(
        e.filter((F.col("kid") % 3 == 1) | (F.col("kid") % 9 == 0)),
        "b1",
    )
    land(e.filter(F.col("kid") % 3 == 2), "b2")
    reopened = IncrementalQuantileIndex(spark, root)
    assert run_stream(reopened).awaitTermination(120)
    _estimates_match_batch(reopened, e)
    reopened.fsck()
