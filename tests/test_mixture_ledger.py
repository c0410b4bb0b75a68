"""Incremental mixture ledger (streaming/mixture_ledger.py, the 15th
maintained structure and the roster's first maintained AGGREGATE):
streamed batch-at-a-time maintenance — including stratum-moving updates
and deletes — must converge EXACTLY to the batch mixture_report over
the live corpus; the journaled-delta + watermark-fence machinery must
make torn batches and replays exactly-once (aggregate deltas are not
naturally idempotent — the novel hazard this structure exists to
solve); plus the family's standing pins: rate-pin reopen refusal,
touched-bucket mem economics, derivation fsck, checkpoint restart."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.operators.sampling import mixture_report
from worker_spark.queries.sampleq import _DEFAULT, _RATES
from worker_spark.sources import load_table
from worker_spark.streaming.mixture_ledger import IncrementalMixtureLedger


def _docs(spark, limit=300):
    return (
        load_table(spark, SF_ORACLE, "documents")
        .select("doc_id", F.col("lang").alias("stratum"), "text")
        .limit(limit)
        .localCheckpoint(eager=True)
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _expected(live):
    return mixture_report(
        live, _RATES, strat_col="stratum", id_col="doc_id",
        default_rate=_DEFAULT,
    )


def test_streamed_batches_converge_to_batch_report(spark, tmp_path):
    """Two batches with a stale-stratum draft, a stratum-moving
    correction, and a draft-then-deleted doc == the batch mixture
    report over the live corpus, exactly."""
    docs = _docs(spark)
    led = IncrementalMixtureLedger(
        spark, str(tmp_path / "m"), rates=_RATES, default_rate=_DEFAULT
    )
    stale = F.col("doc_id") % 10 == 2
    extra = spark.createDataFrame(
        [(900_001, "en", "draft body")], "doc_id long, stratum string, text string"
    )
    led.apply_batch(
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(
            "doc_id",
            F.when(stale, F.lit("xx")).otherwise(F.col("stratum")).alias(
                "stratum"
            ),
            "text",
        )
        .unionByName(extra),
        batch_id=0,
    )
    led.apply_batch(
        docs.filter((F.col("doc_id") % 2 == 1) | stale).unionByName(
            spark.createDataFrame(
                [(900_001, "en", " ")],
                "doc_id long, stratum string, text string",
            )
        ),
        batch_id=1,
    )
    assert _rows(led.report()) == _rows(_expected(docs))
    # the deleted draft and the stale stratum left no trace
    assert led.membership().filter(F.col("doc_id") == 900_001).count() == 0
    assert led.membership().filter(F.col("stratum") == "xx").count() == 0
    led.fsck()


def test_torn_batch_replays_exactly_once(spark, tmp_path, tear):
    """The journaled-delta device: a batch crashes AFTER its mem swap
    but BEFORE the ledger apply. The replay's recomputed delta would be
    ZERO (mem already holds the batch) — only the journaled delta makes
    the ledger move; the fence then makes a SECOND replay a no-op."""
    docs = _docs(spark, limit=100)
    root = str(tmp_path / "m")
    led = IncrementalMixtureLedger(
        spark, root, rates=_RATES, default_rate=_DEFAULT
    )
    led.apply_batch(docs.filter(F.col("doc_id") % 2 == 0), batch_id=0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1).localCheckpoint(eager=True)

    tear(led.store, led.LED)
    with pytest.raises(RuntimeError, match="injected tear"):
        led.apply_batch(b1, batch_id=1)
    # torn: mem holds batch 1, ledger does not
    with pytest.raises(RuntimeError, match="drifted"):
        led.fsck()
    led.apply_batch(b1, batch_id=1)  # replay, same batch_id
    assert _rows(led.report()) == _rows(_expected(docs))
    led.fsck()
    # a second replay is fenced off entirely (watermark >= batch_id)
    led.apply_batch(b1, batch_id=1)
    assert _rows(led.report()) == _rows(_expected(docs))
    led.fsck()


def test_plain_replay_is_a_noop(spark, tmp_path):
    docs = _docs(spark, limit=80)
    led = IncrementalMixtureLedger(
        spark, str(tmp_path / "m"), rates=_RATES, default_rate=_DEFAULT
    )
    led.apply_batch(docs, batch_id=0)
    before = _rows(led.report())
    led.apply_batch(docs, batch_id=0)
    assert _rows(led.report()) == before
    led.fsck()


def test_rate_pin_reopen_discipline(spark, tmp_path):
    root = str(tmp_path / "m")
    IncrementalMixtureLedger(spark, root, rates=_RATES, default_rate=_DEFAULT)
    with pytest.raises(ValueError, match="re-rate into a fresh root"):
        IncrementalMixtureLedger(
            spark, root, rates={"en": 0.1}, default_rate=_DEFAULT
        )
    reopened = IncrementalMixtureLedger(spark, root)  # bare reopen loads
    assert reopened.rates == {k: float(v) for k, v in _RATES.items()}
    virgin = str(tmp_path / "v")
    with pytest.raises(ValueError, match="needs its rates"):
        IncrementalMixtureLedger(spark, virgin)


def test_small_batch_rewrites_only_its_mem_buckets(spark, tmp_path):
    docs = _docs(spark)
    root = str(tmp_path / "m")
    led = IncrementalMixtureLedger(
        spark, root, rates=_RATES, default_rate=_DEFAULT
    )
    led.apply_batch(docs, batch_id=0)
    before = _bucket_snapshot(os.path.join(root, led.MEM))
    led.apply_batch(
        spark.createDataFrame(
            [(900_002, "fr", "one more doc")],
            "doc_id long, stratum string, text string",
        ),
        batch_id=1,
    )
    after = _bucket_snapshot(os.path.join(root, led.MEM))
    assert len(_changed(before, after)) == 1  # the doc's own bucket


def test_fsck_catches_injected_ledger_drift(spark, tmp_path):
    from worker_spark.streaming.mixture_ledger import LED_SCHEMA

    root = str(tmp_path / "m")
    led = IncrementalMixtureLedger(
        spark, root, rates=_RATES, default_rate=_DEFAULT
    )
    led.apply_batch(_docs(spark, limit=60), batch_id=0)
    led.fsck()
    rows = led._led_rows().collect()
    forged = [
        (r["lkey"], r["stratum"], r["total_rows"] + 1, r["sampled_rows"],
         r["applied_batch"])
        for r in rows
    ]
    led.store.write(
        led.LED, spark.createDataFrame(forged, LED_SCHEMA), keys=["lkey"]
    )
    with pytest.raises(RuntimeError, match="drifted"):
        led.fsck()


def test_mixture_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-resume symmetry (3-batch coverage lives here — the
    registered feed is 2 files); the reopened handle loads the pinned
    rates and the fence carries across the restart."""
    import glob
    import os as _os
    import shutil

    from worker_spark.streaming.feed import file_feed_stream

    docs = _docs(spark, limit=200)
    feed = str(tmp_path / "feed")
    _os.makedirs(feed)

    def land(batch, name):
        stage = str(tmp_path / f"_stage_{name}")
        batch.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = glob.glob(_os.path.join(stage, "part-*.parquet"))
        shutil.move(part, _os.path.join(feed, f"{name}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)

    root = str(tmp_path / "m")
    ckpt = str(tmp_path / "ckpt")
    stale = F.col("doc_id") % 10 == 2
    land(
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id",
            F.when(stale, F.lit("xx")).otherwise(F.col("stratum")).alias(
                "stratum"
            ),
            "text",
        ),
        "b0",
    )
    led = IncrementalMixtureLedger(
        spark, root, rates=_RATES, default_rate=_DEFAULT
    )
    q = file_feed_stream(spark, feed, led, ckpt)
    assert q.awaitTermination(120)

    land(docs.filter(F.col("doc_id") % 2 == 1), "b1")
    land(docs.filter(stale & (F.col("doc_id") % 2 == 0)), "b2")
    reopened = IncrementalMixtureLedger(spark, root)
    q2 = file_feed_stream(spark, feed, reopened, ckpt)
    assert q2.awaitTermination(120)
    assert _rows(reopened.report()) == _rows(_expected(docs))
    reopened.fsck()


def test_watermark_survives_an_unfenced_interleave(spark, tmp_path):
    """The fence is MONOTONE (self-review finding): a direct (unfenced)
    apply between fenced batches must carry the high-water mark forward
    — otherwise a fenced replay of an already-applied batch_id would
    pass the fence and double-apply its journaled delta."""
    docs = _docs(spark, limit=90)
    led = IncrementalMixtureLedger(
        spark, str(tmp_path / "m"), rates=_RATES, default_rate=_DEFAULT
    )
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    led.apply_batch(b0, batch_id=0)
    led.apply_batch(docs.filter(F.col("doc_id") % 3 == 1))  # unfenced
    led.apply_batch(b0, batch_id=0)  # fenced replay of an OLD batch
    # the replay must have been fenced off: totals match the live set
    live = docs.filter(F.col("doc_id") % 3 != 2)
    assert _rows(led.report()) == _rows(_expected(live))
    led.fsck()
