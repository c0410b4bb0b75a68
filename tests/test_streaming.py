"""Streaming formulation tests: incremental outbox consumption with
checkpointed resume, and the windowed stats aggregation."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from worker_spark.schemas import JOB_OUTBOX
from worker_spark.streaming.pipeline import outbox_stream, queue_depth_stats, run_stage

TS = datetime.datetime(2026, 1, 1, 12, 0, 0)


def _write_outbox_file(spark, outbox_dir, rows):
    df = spark.createDataFrame(rows, schema=JOB_OUTBOX)
    df.coalesce(1).write.mode("append").parquet(outbox_dir)


def test_outbox_stream_incremental_consumption(spark, tmp_path):
    outbox_dir = str(tmp_path / "outbox")
    ckpt = str(tmp_path / "ckpt")
    processed: list[tuple[int, str]] = []

    _write_outbox_file(
        spark,
        outbox_dir,
        [
            (1, "fetch_article", "no:1", "{}", TS, None),
            (2, "batch_index", "no:1", json.dumps({"article_keys": ["no:1"]}), TS, None),
        ],
    )

    def process(batch_df, epoch_id):
        for r in batch_df.select("id", "job_key").collect():
            processed.append((r["id"], r["job_key"]))

    q = run_stage(
        outbox_stream(spark, outbox_dir, max_files_per_trigger=1),
        "fetch_article",
        process,
        ckpt,
    )
    assert q.awaitTermination(120)
    assert processed == [(1, "no:1")]  # batch_index row filtered out

    # second tick: only NEW files are consumed (checkpoint = offset cursor)
    _write_outbox_file(
        spark, outbox_dir, [(3, "fetch_article", "no:2", "{}", TS, None)]
    )
    q2 = run_stage(
        outbox_stream(spark, outbox_dir, max_files_per_trigger=1),
        "fetch_article",
        process,
        ckpt,
    )
    assert q2.awaitTermination(120)
    assert processed == [(1, "no:1"), (3, "no:2")]


def test_queue_depth_stats_windowing(spark, tmp_path):
    outbox_dir = str(tmp_path / "outbox2")
    _write_outbox_file(
        spark,
        outbox_dir,
        [
            (1, "fetch_article", "no:1", "{}", TS, None),
            (2, "fetch_article", "no:2", "{}", TS + datetime.timedelta(seconds=30), None),
            (3, "batch_index", "no:1", "{}", TS + datetime.timedelta(minutes=2), None),
        ],
    )
    stats = queue_depth_stats(outbox_stream(spark, outbox_dir, None))
    q = (
        stats.writeStream.outputMode("complete")
        .format("memory")
        .queryName("qdepth")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = {
        (r["job_type"], r["window_start"]): r["n_jobs"]
        for r in spark.sql("select * from qdepth").collect()
    }
    assert rows[("fetch_article", TS)] == 2
    assert rows[("batch_index", TS + datetime.timedelta(minutes=2))] == 1


def test_dynamic_budget_backpressure_live(spark, tmp_path):
    """T2 dynamic budget under a LIVE processing-time trigger: while the
    simulated downstream queue sits at the watermark, budget is 0 and no
    row reaches the processor (intake re-enqueues); once the queue drains,
    the backlog flows through. Every dispatched batch respects the budget
    in force at its trigger."""
    import time

    from worker_spark.streaming.pipeline import run_budgeted_stage

    outbox_dir = str(tmp_path / "outbox")
    ckpt = str(tmp_path / "ckpt")
    depth = {"v": 6}  # watermark = 2 * 3 = 6 -> budget 0 while lagging
    dispatched: list[tuple[int, int]] = []  # (n_rows, budget_at_dispatch)
    processed: list[int] = []

    def process(batch_df, epoch_id):
        ids = [r["id"] for r in batch_df.select("id").collect()]
        dispatched.append((len(ids), 6 - depth["v"]))
        processed.extend(ids)

    _write_outbox_file(
        spark,
        outbox_dir,
        [(i, "fetch_article", f"no:{i}", "{}", TS, None) for i in range(1, 13)],
    )
    q = run_budgeted_stage(
        spark,
        outbox_dir,
        "fetch_article",
        process,
        ckpt,
        queue_depth_fn=lambda: depth["v"],
        concurrency=2,
        watermark_multiplier=3,
        processing_time="500 milliseconds",
    )
    try:
        # phase 1: downstream lags at the watermark -> nothing dispatched
        time.sleep(5)
        assert processed == [], f"dispatched while blocked: {processed}"
        # phase 2: downstream drains -> backlog flows through
        depth["v"] = 0
        deadline = time.time() + 90
        while time.time() < deadline and len(set(processed)) < 12:
            time.sleep(1)
    finally:
        q.stop()
    assert sorted(set(processed)) == list(range(1, 13))
    # per-trigger intake never exceeded the budget in force
    assert all(n <= max(b, 0) for n, b in dispatched), dispatched


def test_chained_fetch_store_stages(spark, tmp_path):
    """T2/T10: the fetch stage consumes outbox jobs as a stream and applies
    the idempotent store job per micro-batch; a second tick with new jobs
    resumes from the checkpoint and upserts incrementally."""
    from worker_spark import fixtures as FX
    from worker_spark.plans.bucketed_state import BucketedParquetStateStore
    from worker_spark.schemas import ARTICLE_DATA
    from worker_spark.sources.fetch_sim import fetch_articles
    from pyspark.sql import functions as F

    outbox_dir = str(tmp_path / "outbox")
    ckpt = str(tmp_path / "ckpt")
    store = BucketedParquetStateStore(spark, str(tmp_path / "state"), n_buckets=4)
    arts_schema = (
        f"dictionary: string, id: bigint, data: {ARTICLE_DATA.simpleString()}, "
        "sync_status: string"
    )
    store.write(
        "articles",
        spark.createDataFrame([], schema=arts_schema),
        keys=["dictionary", "id"],
    )
    corpus = {("no", 1): FX.DEEP_ARTICLE, ("no", 2): FX.DIALECT_SHOW_FILTER}

    def store_batch(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        fetched = fetch_articles(
            batch_df.select("job_key"), lambda d, i: corpus.get((d, i))
        )
        rows = fetched.filter(F.col("found")).select(
            "dictionary",
            F.col("article_id").alias("id"),
            F.from_json("data_json", ARTICLE_DATA).alias("data"),
            F.lit("pending_index").alias("sync_status"),
        )
        store.upsert("articles", rows, keys=["dictionary", "id"])

    _write_outbox_file(spark, outbox_dir, [(1, "fetch_article", "no:1", "{}", TS, None)])
    q = run_stage(
        outbox_stream(spark, outbox_dir, max_files_per_trigger=1),
        "fetch_article",
        store_batch,
        ckpt,
    )
    assert q.awaitTermination(180)
    assert store.read("articles").count() == 1

    # tick 2: a new job file; checkpoint skips the already-processed file,
    # and re-upserting no:1 again would be a no-op anyway (idempotent MERGE)
    _write_outbox_file(
        spark,
        outbox_dir,
        [
            (2, "fetch_article", "no:2", "{}", TS, None),
            (3, "fetch_article", "no:1", "{}", TS, None),
        ],
    )
    q2 = run_stage(
        outbox_stream(spark, outbox_dir, max_files_per_trigger=1),
        "fetch_article",
        store_batch,
        ckpt,
    )
    assert q2.awaitTermination(180)
    got = {r["id"]: r["sync_status"] for r in store.read("articles").collect()}
    assert got == {1: "pending_index", 2: "pending_index"}


def test_stateful_session_timeout_flushes_idle_user(spark, tmp_path):
    """The event-time timeout must evict an idle user's open session once
    later batches advance the watermark past session_end + gap — state
    cannot leak forever for users that stop producing events."""
    import time

    from pyspark.sql import functions as F

    from worker_spark.streaming.sessions import stateful_sessionize

    schema = "event_id bigint, ts timestamp, user_id bigint, value double"
    src = tmp_path / "src"
    src.mkdir()

    def write_file(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        time.sleep(1.1)  # distinct mod times => stable file->batch order

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1, 8, 0, 0)

    def ts(minutes):
        return t0 + dt.timedelta(minutes=minutes)

    # batch 1: user 1's only session (2 events, then silence)
    write_file([(1, ts(0), 1, 1.0), (2, ts(5), 1, 2.0)])
    # batch 2: user 2 ten hours later — advances the watermark
    write_file([(3, ts(600), 2, 1.0)])
    # batch 3: user 2 again — timeout pass runs with the advanced watermark
    write_file([(4, ts(605), 2, 1.0)])

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    sessions = stateful_sessionize(stream, gap_minutes=30, watermark_delay="1 minute")
    q = (
        sessions.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_timeout_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = {
        (r["user_id"], r["n_events"], r["session_value"])
        for r in spark.table("sess_timeout_test").collect()
    }
    # user 1's session was flushed by TIMEOUT (no closing event ever came)
    assert (1, 2, 3.0) in rows


def test_feed_schemas_keep_replay_column_order():
    """feed.last_wins fingerprints to_json(struct(*cols)), so the column
    order of each structure's FEED_SCHEMA is part of its replay
    contract: a reorder would elect different winners on replay."""
    from worker_spark.streaming.components_index import IncrementalComponentsIndex
    from worker_spark.streaming.contamination_index import (
        IncrementalContaminationScreen,
    )
    from worker_spark.streaming.curation_index import IncrementalCurationIndex
    from worker_spark.streaming.dedup_index import IncrementalDedupIndex
    from worker_spark.streaming.dedup_pipeline import (
        StreamingDedupPipeline,
        StreamingNearDupPipeline,
        StreamingSubstringPipeline,
    )
    from worker_spark.streaming.exact_index import IncrementalExactIndex
    from worker_spark.streaming.heavy_hitters import StreamingHeavyHitters
    from worker_spark.streaming.ingest_gate import StreamingIngestGate
    from worker_spark.streaming.minhash_index import IncrementalMinHashIndex
    from worker_spark.streaming.mixture_ledger import IncrementalMixtureLedger
    from worker_spark.streaming.quantile_index import IncrementalQuantileIndex
    from worker_spark.streaming.reservoir import (
        StreamingReservoir,
        StreamingStratifiedReservoir,
    )
    from worker_spark.streaming.retrieval_index import IncrementalRetrievalIndex
    from worker_spark.streaming.substring_index import IncrementalSubstringIndex
    from worker_spark.streaming.theta_index import IncrementalThetaIndex
    from worker_spark.streaming.vector_index import IncrementalVectorIndex
    from worker_spark.streaming.zorder_index import IncrementalZOrderIndex

    doc = ["doc_id:bigint", "text:string"]
    expected = {
        IncrementalComponentsIndex: ["doc_id:bigint", "nbr:bigint"],
        IncrementalContaminationScreen: doc,
        IncrementalCurationIndex: doc,
        IncrementalDedupIndex: doc,
        StreamingDedupPipeline: doc,
        StreamingNearDupPipeline: doc,
        StreamingSubstringPipeline: doc,
        IncrementalExactIndex: doc,
        StreamingHeavyHitters: doc,
        StreamingIngestGate: doc,
        IncrementalMinHashIndex: doc,
        IncrementalMixtureLedger: [
            "doc_id:bigint", "stratum:string", "text:string"
        ],
        StreamingReservoir: doc,
        StreamingStratifiedReservoir: [
            "doc_id:bigint", "text:string", "stratum:string"
        ],
        IncrementalRetrievalIndex: doc,
        IncrementalSubstringIndex: doc,
        IncrementalVectorIndex: ["vec_id:bigint", "embedding:array<float>"],
        # the quantile and theta hashes are md5 of the key / member as
        # fed, so these types are part of the contract too
        IncrementalQuantileIndex: ["g:string", "kid:bigint", "v:double"],
        IncrementalThetaIndex: ["g:string", "v:bigint"],
        IncrementalZOrderIndex: [
            "event_id:bigint", "v1:bigint", "v2:bigint",
            "event_type:string", "value:double",
        ],
    }
    for cls, cols in expected.items():
        got = [f"{f.name}:{f.dataType.simpleString()}" for f in cls.FEED_SCHEMA]
        assert got == cols, cls.__name__


def test_drained_drops_sink_and_checkpoint(spark, tmp_path, monkeypatch):
    """The memory-sink rows' one drive path hands the drained sink to
    the block, then drops the sink's view and removes the checkpoint
    dir, both on a normal exit and when the block raises."""
    import os
    import tempfile

    from worker_spark.queries.streamq import _drained

    feed = str(tmp_path / "feed")
    rows = spark.createDataFrame([(1, "a"), (2, "b"), (3, "a")], "k long, v string")
    rows.coalesce(1).write.parquet(feed)
    scratch = tmp_path / "scratch"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))

    def sinks():
        return [t.name for t in spark.catalog.listTables() if t.name.startswith("drain_probe_")]

    def counts():
        stream = spark.readStream.schema("k long, v string").parquet(feed)
        return stream.groupBy("v").count()

    with _drained(spark, "drain_probe", counts(), "complete") as out:
        assert len(sinks()) == 1 and len(os.listdir(scratch)) == 1
        got = {r["v"]: r["count"] for r in out.collect()}
    assert got == {"a": 2, "b": 1}
    assert sinks() == [] and os.listdir(scratch) == []

    with pytest.raises(ValueError, match="block failed"):
        with _drained(spark, "drain_probe", counts(), "complete") as out:
            assert out.count() == 2
            raise ValueError("block failed")
    assert sinks() == [] and os.listdir(scratch) == []
