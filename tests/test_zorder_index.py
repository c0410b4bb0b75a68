"""Incremental z-order layout index (streaming/zorder_index.py, the
16th maintained structure): streamed batches must converge to exactly
the ingested row set with every row in its pinned-bounds grid cell;
box queries must be EXACT (vs a full-scan filter) while reading ONLY
the box's cell buckets (the pruning claim, pinned via inputFiles);
out-of-bounds arrivals clamp (kept, served exactly) and drive the
relayout lifecycle; plus the family pins: bounds-pin reopen refusal,
replay no-op, touched-bucket economics, derivation fsck, restart."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.sources import load_table
from worker_spark.streaming.zorder_index import IncrementalZOrderIndex


def _events(spark, limit=4000):
    return (
        load_table(spark, SF_ORACLE, "events")
        .select(
            "event_id",
            F.col("user_id").cast("long").alias("v1"),
            F.unix_timestamp("ts").alias("v2"),
            "event_type",
            "value",
        )
        .limit(limit)
        .localCheckpoint(eager=True)
    )


def _bounds(e):
    b = e.agg(F.min("v1"), F.max("v1"), F.min("v2"), F.max("v2")).collect()[0]
    return (int(b[0]), int(b[1]), int(b[2]), int(b[3]))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_box_query_is_exact_and_bucket_pruned(spark, tmp_path):
    e = _events(spark)
    idx = IncrementalZOrderIndex(
        spark, str(tmp_path / "z"), bounds=_bounds(e), n_buckets=64
    )
    idx.apply_batch(e.filter(F.col("event_id") % 3 == 0))
    # re-delivered slice rides in batch 1 (at-least-once)
    idx.apply_batch(
        e.filter((F.col("event_id") % 3 == 1) | (F.col("event_id") % 9 == 0))
    )
    idx.apply_batch(e.filter(F.col("event_id") % 3 == 2))
    lo2 = int(e.agg(F.min("v2")).collect()[0][0])
    # exactness on a WIDE box (many cells — reads more, returns exactly)
    box = (40, 90, lo2, lo2 + 7 * 86400)
    got = idx.box_query(*box)
    want = e.filter(
        F.col("v1").between(box[0], box[1])
        & F.col("v2").between(box[2], box[3])
    ).select("event_id", "v1", "v2", "event_type", "value")
    assert _rows(got) == _rows(want)
    assert got.count() > 0  # non-vacuous box
    # PRUNING on a NARROW box (few grid cells -> few buckets): the read
    # touches a strict subset of the layout's files. Wide boxes honestly
    # read more — the pruning unit is the 2-D grid cell's bucket.
    probe = e.limit(1).collect()[0]
    narrow = idx.box_query(
        probe["v1"], probe["v1"], probe["v2"], probe["v2"]
    )
    assert narrow.count() >= 1
    all_files = set(idx.rows().inputFiles())
    read_files = set(narrow.inputFiles())
    assert read_files and read_files < all_files
    assert len(read_files) < len(all_files) / 2
    # convergence: state row set == ingested set exactly
    assert idx.rows().count() == e.count()
    idx.fsck()


def test_out_of_bounds_rows_clamp_and_drive_the_lifecycle(spark, tmp_path):
    e = _events(spark, limit=1000)
    root = str(tmp_path / "z")
    idx = IncrementalZOrderIndex(spark, root, bounds=_bounds(e))
    idx.apply_batch(e)
    assert not idx.relayout_advice()["needs_relayout"]
    # a drifted tranche far outside the pinned box clamps to edge cells
    far = e.select(
        (F.col("event_id") + F.lit(10_000_000)).alias("event_id"),
        (F.col("v1") + F.lit(100_000)).alias("v1"),
        (F.col("v2") + F.lit(10_000_000)).alias("v2"),
        "event_type",
        "value",
    ).localCheckpoint(eager=True)
    idx.apply_batch(far)
    # served EXACTLY despite the clamp
    probe = far.limit(1).collect()[0]
    hit = idx.box_query(
        probe["v1"], probe["v1"], probe["v2"], probe["v2"]
    )
    assert hit.count() == 1
    advice = idx.relayout_advice()
    assert advice["oob_rows"] == far.count() and advice["needs_relayout"]
    # blue/green relayout: bounds re-measured from state, rows re-celled
    fresh = idx.relayout(str(tmp_path / "z2"))
    assert _rows(fresh.rows().drop("cell")) == _rows(idx.rows().drop("cell"))
    assert not fresh.relayout_advice()["needs_relayout"]
    fresh.fsck()
    with pytest.raises(ValueError, match="already holds tables"):
        idx.relayout(str(tmp_path / "z2"))


def test_replay_and_pin_discipline(spark, tmp_path):
    e = _events(spark, limit=500)
    root = str(tmp_path / "z")
    bounds = _bounds(e)
    idx = IncrementalZOrderIndex(spark, root, bounds=bounds)
    idx.apply_batch(e)
    before = _rows(idx.rows())
    idx.apply_batch(e)  # full re-delivery
    assert _rows(idx.rows()) == before
    with pytest.raises(ValueError, match="relayout"):
        IncrementalZOrderIndex(
            spark, root, bounds=(0, 1, 0, 1)
        )
    reopened = IncrementalZOrderIndex(spark, root)  # bare reopen loads
    assert reopened.bounds == bounds
    with pytest.raises(ValueError, match="needs its bounds"):
        IncrementalZOrderIndex(spark, str(tmp_path / "virgin"))


def test_small_batch_rewrites_only_its_cell_buckets(spark, tmp_path):
    e = _events(spark)
    root = str(tmp_path / "z")
    idx = IncrementalZOrderIndex(spark, root, bounds=_bounds(e))
    idx.apply_batch(e)
    before = _bucket_snapshot(os.path.join(root, idx.ROWS))
    one = e.limit(1).select(
        (F.col("event_id") + F.lit(5_000_000)).alias("event_id"),
        "v1", "v2", "event_type", "value",
    )
    idx.apply_batch(one)
    after = _bucket_snapshot(os.path.join(root, idx.ROWS))
    assert len(_changed(before, after)) == 1  # its cell's bucket only


def test_fsck_catches_cell_drift(spark, tmp_path):
    from worker_spark.streaming.zorder_index import ROWS_SCHEMA

    e = _events(spark, limit=200)
    root = str(tmp_path / "z")
    idx = IncrementalZOrderIndex(spark, root, bounds=_bounds(e))
    idx.apply_batch(e)
    idx.fsck()
    # smuggle a row whose stored cell contradicts its values
    forged = spark.createDataFrame(
        [(0, 9_999_999, 10_000_000, 10_000_000, "x", 1.0)], ROWS_SCHEMA
    )
    idx.store.delete_then_insert(
        idx.ROWS,
        delete_keys=spark.createDataFrame([], "cell long"),
        inserts=forged,
        schema=ROWS_SCHEMA,
        bucket_col="cell",
        delete_on="cell",
    )
    with pytest.raises(RuntimeError, match="drifted"):
        idx.fsck()


def test_zorder_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-resume symmetry (3-batch coverage lives here — the
    registered feed is 2 files)."""
    import glob
    import os as _os
    import shutil

    from worker_spark.streaming.feed import file_feed_stream

    e = _events(spark, limit=3000)
    feed = str(tmp_path / "feed")
    _os.makedirs(feed)

    def land(batch, name):
        stage = str(tmp_path / f"_stage_{name}")
        batch.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = glob.glob(_os.path.join(stage, "part-*.parquet"))
        shutil.move(part, _os.path.join(feed, f"{name}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)

    root = str(tmp_path / "z")
    ckpt = str(tmp_path / "ckpt")
    def run_stream(idx):
        return file_feed_stream(spark, feed, idx, ckpt)

    land(e.filter(F.col("event_id") % 3 == 0), "b0")
    idx = IncrementalZOrderIndex(spark, root, bounds=_bounds(e))
    assert run_stream(idx).awaitTermination(120)

    land(
        e.filter((F.col("event_id") % 3 == 1) | (F.col("event_id") % 9 == 0)),
        "b1",
    )
    land(e.filter(F.col("event_id") % 3 == 2), "b2")
    reopened = IncrementalZOrderIndex(spark, root)
    assert run_stream(reopened).awaitTermination(120)
    assert reopened.rows().count() == e.count()
    reopened.fsck()
