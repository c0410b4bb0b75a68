"""§2.8 — the outbox -> queue dataflow as Structured Streaming.

Mapping (SURVEY.md §2.8):

* The ``job_outbox`` table is the stream source: new parquet files under
  the outbox directory are the change feed (T1's "unprocessed rows" ==
  unconsumed offsets; the checkpoint is the consumer cursor).
* T2's poller + per-queue watermark budget maps to trigger pacing +
  ``maxFilesPerTrigger`` rate limiting — backpressure without custom code.
* Each worker stage is a ``foreachBatch`` sink applying the *idempotent*
  batch jobs from worker_spark.plans.sync (T10: consumers re-check status
  and upsert, so replays after crash are no-ops — the reference makes the
  same at-least-once assumption, src/sync_service.rs:198-220).
* T12's live stats stream is a processing-time windowed aggregation with a
  watermark for state eviction (the reference itself has no event-time
  semantics to reproduce — SURVEY §2.8 note).
* T5/T6/T11 (orphan reclamation, queue vacuum, graceful drain) are
  engine-provided: task retry, checkpoint cleanup, ``query.stop()``.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from worker_spark.schemas import JOB_OUTBOX


def outbox_stream(
    spark: SparkSession, outbox_dir: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """The outbox as an incremental stream of job rows."""
    reader = spark.readStream.schema(JOB_OUTBOX)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(outbox_dir)


def run_stage(
    jobs: DataFrame,
    job_type: str,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """One worker stage: filter to its job type, hand each micro-batch to
    the idempotent batch processor. The availableNow trigger drains the
    backlog and stops (the batch tick); the live T2 poller is
    ``run_budgeted_stage``."""
    return (
        jobs.filter(F.col("job_type") == job_type)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def run_budgeted_stage(
    spark: SparkSession,
    outbox_dir: str,
    job_type: str,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    queue_depth_fn: Callable[[], int],
    concurrency: int = 4,
    watermark_multiplier: int = 3,
    processing_time: str = "1 second",
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """T2's DYNAMIC poller budget under a live processing-time trigger
    (src/outbox.rs:78-211): every micro-batch re-reads the downstream
    queue depth and dispatches at most ``drain_budget(concurrency,
    depth)`` rows (FIFO by id); the overflow is re-enqueued as a fresh
    outbox file, so intake genuinely drops to zero while the downstream
    stage lags and resumes when it drains — backpressure by feedback, not
    a static rate limit.

    Re-enqueueing is the file-source analog of the reference leaving
    undrained rows in the outbox table for the next poll; consumers are
    idempotent (T10), so the at-least-once handoff is safe. A production
    deployment would add trigger pacing (the ``processing_time``
    interval) so a fully-blocked stage re-enqueues at poll frequency,
    not continuously.
    """
    from worker_spark.plans.outbox import drain_budget

    jobs = outbox_stream(spark, outbox_dir, max_files_per_trigger)

    def on_batch(batch_df: DataFrame, epoch_id: int) -> None:
        rows = batch_df.filter(F.col("job_type") == job_type)
        if rows.isEmpty():
            return
        budget = drain_budget(concurrency, queue_depth_fn(), watermark_multiplier)
        take = rows.orderBy("id").limit(budget)
        overflow = rows.join(take.select("id"), "id", "left_anti")
        if not overflow.isEmpty():
            overflow.write.mode("append").parquet(outbox_dir)
        if budget > 0 and not take.isEmpty():
            process_batch(take, epoch_id)

    return (
        jobs.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(processingTime=processing_time)
        .start()
    )


def queue_depth_stats(jobs: DataFrame, window: str = "1 minute") -> DataFrame:
    """T12 stats plane: per-type job arrival counts over tumbling windows
    with a watermark bounding state."""
    return (
        jobs.withWatermark("created_at", "5 minutes")
        .groupBy(F.window("created_at", window), F.col("job_type"))
        .agg(F.count(F.lit(1)).alias("n_jobs"))
        .select(
            F.col("window.start").alias("window_start"),
            "job_type",
            "n_jobs",
        )
    )
