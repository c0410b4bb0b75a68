"""Streaming queries in the correctness surface: real Structured
Streaming jobs — file source, watermark/foreachBatch, availableNow
trigger — whose drained or state-served result is returned as a batch
DataFrame and hash-checked against a DuckDB oracle.

Feed staging is SHARED per process (streaming/staging.py, VERDICT r13
item 1): each deterministic feed recipe is materialized once per
(sf_dir, kind) and read-only thereafter; rows that stage literally the
same expression tree share a kind. Checkpoints and state stay per-call
fresh tempdirs — the maintenance+serve measurement is unchanged."""

from __future__ import annotations

import os
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from worker_spark.queries import register
from worker_spark.sources import load_table
from worker_spark.streaming.staging import staged_dir


@register(
    "streaming_event_window_counts",
    """
    SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="T12 stats stream run as an actual Structured Streaming job "
    "(parquet file source -> watermark -> 1-minute tumbling window -> "
    "memory sink, availableNow); the drained windows hash-match DuckDB's "
    "batch tumbling-window aggregation.",
)
def q_streaming_event_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events, src_dir = _events_feed(spark, sf_dir, "events_multi")
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    with _drained(spark, "streaming_event_window_counts", agg, "complete") as out:
        return out.select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        ).localCheckpoint(eager=True)


@register(
    "streaming_stateful_sessions",
    """
    WITH ordered AS (
        SELECT user_id, event_id, ts, value,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ), flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN prev_ts IS NULL OR ts - prev_ts > INTERVAL 30 MINUTES
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered
    ), numbered AS (
        SELECT user_id, event_id, ts, value,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged
    ), final AS (
        SELECT user_id, session_id,
               count(*) AS n_events,
               min(ts) AS st, max(ts) AS en,
               -- integer cents via the SAME floor(x*100+0.5) double
               -- expression the state function applies per event: both
               -- engines sum identical integers, so group order is moot
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sv
        FROM numbered GROUP BY user_id, session_id
    ), lastx AS (
        SELECT user_id, max(session_id) AS max_sid FROM final GROUP BY user_id
    )
    SELECT f.user_id,
           strftime(f.st, '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(f.en, '%Y-%m-%d %H:%M:%S') AS session_end,
           f.n_events,
           round(f.sv / 100.0, 2) AS session_value
    FROM final f JOIN lastx l
      ON f.user_id = l.user_id AND f.session_id < l.max_sid
    """,
    doc="Custom STATEFUL streaming operator: applyInPandasWithState "
    "sessionization (per-user open-session state, event-time timeout "
    "eviction) run as a real availableNow stream over a single-file "
    "source (one micro-batch => emitted set = every session except each "
    "user's final open one, which stays in state awaiting the watermark). "
    "Oracle replays that exact set from the batch lag/running-sum "
    "sessionization.",
)
def q_streaming_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.sessions import stateful_sessionize

    # single file => single micro-batch => deterministic emitted set
    events, src_dir = _events_feed(spark, sf_dir, "events_single")
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    sessions = stateful_sessionize(stream, gap_minutes=30)
    with _drained(spark, "streaming_stateful_sessions", sessions, "append") as out:
        return out.select(
            "user_id",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
            F.round("session_value", 2).alias("session_value"),
        ).localCheckpoint()


@register(
    "streaming_view_purchase_join",
    """
    SELECT v.user_id,
           v.event_id AS view_event_id,
           p.event_id AS purchase_event_id,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_seconds
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    doc="STREAM-STREAM interval join (the remaining Structured Streaming "
    "join surface): views joined to same-user purchases within 30 "
    "minutes, both sides watermarked, run as a real availableNow job "
    "over a single-file source (one micro-batch -> the inner-join "
    "emitted set equals the batch interval join, which the oracle "
    "replays). At scale the event-time constraint + watermark bound the "
    "join state Spark must hold.",
)
def q_streaming_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    events, src_dir = _events_feed(spark, sf_dir, "events_single")
    views = (
        spark.readStream.schema(events.schema)
        .parquet(src_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_event_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        spark.readStream.schema(events.schema)
        .parquet(src_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_event_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts "
            "AND p_ts <= v_ts + interval 30 minutes"
        ),
    )
    with _drained(spark, "streaming_view_purchase_join", joined, "append") as out:
        return out.select(
            F.col("v_user").alias("user_id"),
            "view_event_id",
            "purchase_event_id",
            F.date_format("v_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
            F.date_format("p_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            (F.col("p_ts").cast("long") - F.col("v_ts").cast("long")).alias(
                "lag_seconds"
            ),
        ).localCheckpoint()


@register(
    "streaming_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="STREAMING DEDUP with watermark-bounded state "
    "(dropDuplicatesWithinWatermark): the production shape for "
    "exactly-once key emission on an unbounded stream — state for a key "
    "is dropped once the watermark passes it, so memory is bounded by "
    "the dedup horizon, not the stream length. Single-file availableNow "
    "source + a horizon covering the fixture's span => the emitted key "
    "set deterministically equals batch DISTINCT, which the oracle "
    "replays.",
)
def q_streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    events, src_dir = _events_feed(spark, sf_dir, "events_single")
    stream = (
        spark.readStream.schema(events.schema)
        .parquet(src_dir)
        .select("user_id", "event_type", "ts")
        .withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
    )
    with _drained(spark, "streaming_dedup_keys", stream, "append") as out:
        return out.select("user_id", "event_type").localCheckpoint()


def _hll_stream_oracle() -> str:
    from worker_spark.operators import sketches as K

    m, wb = K.HLL_M, K.HLL_WBITS
    est_num = repr(K.HLL_ALPHA * K.HLL_M * K.HLL_M * (1 << (wb + 1)))
    h32 = "CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    bitlen = K.bitlen_sql(f"(h // {m})", wb)
    return f"""
    WITH vals AS (
        SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type, {h32} AS h
        FROM events
    ),
    ranked AS (
        SELECT window_start, event_type, h % {m} AS bucket,
               CAST({wb + 1} - {bitlen} AS INT) AS rho
        FROM vals
    ),
    sparse AS (
        SELECT window_start, event_type, bucket, max(rho) AS max_rho
        FROM ranked GROUP BY 1, 2, 3
    ),
    sk AS (
        SELECT window_start, event_type,
               CAST(sum(CAST(1 AS BIGINT) << (27 - max_rho))
                    + ({m} - count(*)) * (CAST(1 AS BIGINT) << 27)
                    AS BIGINT) AS s_int,
               CAST({m} - count(*) AS BIGINT) AS n_zero_buckets
        FROM sparse GROUP BY 1, 2
    ),
    ex AS (
        SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               event_type, count(DISTINCT user_id) AS exact_distinct
        FROM events GROUP BY 1, 2
    )
    SELECT sk.window_start, sk.event_type,
           round({est_num} / CAST(s_int AS DOUBLE), 3) AS hll_estimate,
           ex.exact_distinct, sk.n_zero_buckets,
           round(abs({est_num} / CAST(s_int AS DOUBLE)
                     - exact_distinct) / CAST(exact_distinct AS DOUBLE), 4)
               AS rel_error
    FROM sk JOIN ex USING (window_start, event_type)
    """


@register(
    "streaming_hll_window_users",
    _hll_stream_oracle(),
    doc="HyperLogLog registers maintained INSIDE a Structured Streaming "
    "aggregation: per (1-minute window, event_type, bucket) the stream "
    "state holds max(rho) — a streaming-mergeable max, so state size is "
    "bounded by windows x groups x m registers no matter the event "
    "volume (THE reason sketches belong in streams; an exact "
    "count-distinct would hold every user id in state). availableNow "
    "drain, then a batch finalization turns registers into estimates "
    "(absent bucket == zero bucket since rho >= 1) and audits them "
    "against the exact per-window distinct.",
)
def q_streaming_hll_window_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.operators import sketches as K

    m, wb = K.HLL_M, K.HLL_WBITS
    est_num = K.HLL_ALPHA * K.HLL_M * K.HLL_M * (1 << (wb + 1))
    events, src_dir = _events_feed(spark, sf_dir, "events_multi")
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    ranked = (
        stream.withWatermark("ts", "10 minutes")
        .select(
            F.col("ts"),
            F.col("event_type"),
            h.alias("_h"),
        )
        .select(
            "ts",
            "event_type",
            (F.col("_h") % m).alias("bucket"),
            F.expr(
                f"cast({wb + 1} - "
                + K.bitlen_sql(f"(_h div {m})", wb)
                + " as int)"
            ).alias("rho"),
        )
    )
    regs = ranked.groupBy(
        F.window("ts", "1 minute"), F.col("event_type"), F.col("bucket")
    ).agg(F.max("rho").alias("max_rho"))
    with _drained(spark, "streaming_hll_window_users", regs, "complete") as out:
        sk = (
            out.select(
                F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                "max_rho",
            )
            .groupBy("window_start", "event_type")
            .agg(
                (
                    F.sum(F.expr("shiftleft(cast(1 as bigint), 27 - max_rho)"))
                    + (F.lit(m) - F.count(F.lit(1)))
                    * F.lit(1 << 27).cast("long")
                ).alias("s_int"),
                (F.lit(m) - F.count(F.lit(1))).cast("long").alias(
                    "n_zero_buckets"
                ),
            )
        )
        exact = events.groupBy(
            F.date_format(
                F.date_trunc("minute", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("window_start"),
            "event_type",
        ).agg(F.countDistinct("user_id").alias("exact_distinct"))
        est = F.lit(est_num) / F.col("s_int").cast("double")
        return (
            sk.join(exact, ["window_start", "event_type"])
            .select(
                "window_start",
                "event_type",
                F.round(est, 3).alias("hll_estimate"),
                "exact_distinct",
                "n_zero_buckets",
                F.round(
                    F.abs(est - F.col("exact_distinct"))
                    / F.col("exact_distinct").cast("double"),
                    4,
                ).alias("rel_error"),
            )
            .localCheckpoint()
        )


def _cms_stream_oracle() -> str:
    from worker_spark.operators import sketches as K

    d = K.CMS_DEPTH
    place = K.cms_place_sql("user_id", "r")
    return f"""
    WITH ev AS (
        SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               user_id
        FROM events
    ),
    cells AS (
        SELECT window_start, CAST(r AS BIGINT) AS row,
               {place} AS col,
               CAST(count(*) AS BIGINT) AS cell_count
        FROM ev, UNNEST(range({d})) t(r)
        GROUP BY 1, 2, 3
    ),
    top5 AS (
        SELECT window_start, user_id, true_count FROM (
            SELECT window_start, user_id,
                   CAST(count(*) AS BIGINT) AS true_count,
                   row_number() OVER (PARTITION BY window_start
                                      ORDER BY count(*) DESC, user_id)
                       AS rk
            FROM ev GROUP BY 1, 2
        ) WHERE rk <= 5
    ),
    probes AS (
        SELECT window_start, user_id, true_count, CAST(r AS BIGINT) AS row,
               {place} AS col
        FROM top5, UNNEST(range({d})) t(r)
    )
    SELECT p.window_start, p.user_id, p.true_count,
           min(c.cell_count) AS cms_estimate,
           min(c.cell_count) - p.true_count AS overestimate
    FROM probes p
    JOIN cells c USING (window_start, row, col)
    GROUP BY p.window_start, p.user_id, p.true_count
    """


@register(
    "streaming_cms_window_users",
    _cms_stream_oracle(),
    doc="Count-Min cells maintained INSIDE a Structured Streaming "
    "aggregation: per (1-minute window, row, col) the stream state holds "
    "a plain SUM — streaming-combinable, state bounded by windows x the "
    "cells actually hit (<= d*w), never by user cardinality. availableNow "
    "drain, then a batch pass probes each window's true top-5 users "
    "against the drained grid: estimate = min over rows, never "
    "underestimates. Completes the sketches-in-streams pair with the "
    "windowed HLL.",
)
def q_streaming_cms_window_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from worker_spark.operators import sketches as K

    d = K.CMS_DEPTH
    events, src_dir = _events_feed(spark, sf_dir, "events_multi")
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    placed = (
        stream.withWatermark("ts", "10 minutes")
        .select(
            "ts",
            F.col("user_id"),
            F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row"),
        )
        .select(
            "ts",
            F.col("row").cast("long").alias("row"),
            K.cms_place(F.col("user_id"), F.col("row")).alias("col"),
        )
    )
    grid = placed.groupBy(
        F.window("ts", "1 minute"), F.col("row"), F.col("col")
    ).agg(F.count(F.lit(1)).alias("cell_count"))
    with _drained(spark, "streaming_cms_window_users", grid, "complete") as out:
        cells = out.select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "row",
            "col",
            F.col("cell_count").cast("long").alias("cell_count"),
        )
        per_user = events.groupBy(
            F.date_format(
                F.date_trunc("minute", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("window_start"),
            "user_id",
        ).agg(F.count(F.lit(1)).cast("long").alias("true_count"))
        wk = W.partitionBy("window_start").orderBy(
            F.desc("true_count"), F.asc("user_id")
        )
        top5 = (
            per_user.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= 5)
            .drop("rk")
        )
        probes = top5.select(
            "window_start",
            "user_id",
            "true_count",
            F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("row"),
        ).select(
            "window_start",
            "user_id",
            "true_count",
            F.col("row").cast("long").alias("row"),
            K.cms_place(F.col("user_id"), F.col("row")).alias("col"),
        )
        return (
            probes.join(cells, ["window_start", "row", "col"])
            .groupBy("window_start", "user_id", "true_count")
            .agg(F.min("cell_count").alias("cms_estimate"))
            .select(
                "window_start",
                "user_id",
                "true_count",
                "cms_estimate",
                (F.col("cms_estimate") - F.col("true_count")).alias(
                    "overestimate"
                ),
            )
            .localCheckpoint()
        )


@register(
    "streaming_topk_window",
    """
    SELECT window_start, user_id, n_events, CAST(rnk AS INTEGER) AS rnk
    FROM (
        SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
               user_id,
               CAST(count(*) AS BIGINT) AS n_events,
               row_number() OVER (PARTITION BY date_trunc('minute', ts)
                                  ORDER BY count(*) DESC, user_id ASC)
                   AS rnk
        FROM events
        GROUP BY date_trunc('minute', ts), user_id
    ) WHERE rnk <= 3
    """,
    doc="Windowed top-k actors: the streaming-pre-aggregation + "
    "batch-rank serving-layer topology. The STREAM holds only the "
    "streaming-combinable state (per 1-minute tumbling window x user "
    "counts under a watermark — SUMs, mergeable across micro-batches "
    "and executors); the top-3-per-window rank runs as a batch pass "
    "over the drained, already-aggregated frame, where the shuffle "
    "carries one row per (window, active user), never per event. "
    "Ranking is deliberately NOT in the stream: row_number is not "
    "streaming-combinable, and pushing it there would force "
    "per-window full sorts on every trigger. Deterministic tie-break "
    "(count DESC, user_id ASC) keeps the result hash-stable.",
)
def q_streaming_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # the events-feed rewrite was this row's dominant, noisiest leg
    # (six rounds of adjusted-ratio flags, VERDICT r13 What's-wrong #1);
    # it now stages once per process via the shared cache
    events, src_dir = _events_feed(spark, sf_dir, "events_multi")
    stream = spark.readStream.schema(events.schema).parquet(src_dir)
    counts = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute"), F.col("user_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
    with _drained(spark, "streaming_topk_window", counts, "complete") as out:
        drained = out.select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "user_id",
            "n_events",
        )
        wk = W.partitionBy("window_start").orderBy(
            F.desc("n_events"), F.asc("user_id")
        )
        return (
            drained.withColumn("rnk", F.row_number().over(wk))
            .filter(F.col("rnk") <= 3)
            .select(
                "window_start",
                "user_id",
                "n_events",
                F.col("rnk").cast("int").alias("rnk"),
            )
            .localCheckpoint(eager=True)
        )


def _events_feed(spark, sf_dir: str, kind: str) -> tuple[DataFrame, str]:
    """The events table and its staged stream feed, shared by the
    memory-sink rows. ``kind`` is ``events_multi`` (the table's own
    files) or ``events_single`` (one file, so one micro-batch and a
    deterministic emitted set). pyspark >= 4.1.2 reads the
    TIMESTAMP(NANOS) column as TIMESTAMP_NTZ, which withWatermark
    rejects (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE); event time needs the
    instant type. The wall-clock value is preserved under the session
    timezone, so the formatted output strings (and the DuckDB
    naive-timestamp oracle) are unaffected."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    staged = events.coalesce(1) if kind == "events_single" else events
    return events, staged_dir(
        sf_dir, kind, lambda d: staged.write.mode("overwrite").parquet(d)
    )


@contextmanager
def _drained(spark, row: str, frame: DataFrame, output_mode: str):
    """The one drive path of the memory-sink rows: drain the streaming
    ``frame`` into a memory sink under an availableNow trigger and hand
    ``spark.table(sink)`` to the block. The sink's view and the
    checkpoint dir are dropped on exit, normal or raised, so the block
    must ``localCheckpoint`` what it returns."""
    import shutil

    ckpt = tempfile.mkdtemp(prefix=f"{row}_")
    sink = f"{row}_{uuid.uuid4().hex[:8]}"
    try:
        q = (
            frame.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(f"{row}: availableNow drain exceeded 300s")
        yield spark.table(sink)
    finally:
        spark.catalog.dropTempView(sink)
        shutil.rmtree(ckpt, ignore_errors=True)


def _stage_feed(batches, feed_dir: str) -> None:
    """Land each batch as ONE parquet file with pinned mtime spacing so
    the file source's modification-time ordering is unambiguous — the
    feed-staging idiom shared by all the incremental-index rows
    (review finding: verbatim copies). File names are ZERO-PADDED:
    feed.last_wins breaks within-trigger ties by LEXICOGRAPHIC
    input_file_name(), and an unpadded b10 sorts before b2 — with
    maxFilesPerTrigger=None a >=10-file backlog drained in one trigger
    would invert later-file-wins (r10 review finding; the registered
    rows use 2 files + maxFilesPerTrigger=1, so this is insurance, not
    a live defect). Registered feeds are TWO files since r13 (VERDICT
    r12 item 2, bench-wall trim): batch 0 carries the drafts, batch 1
    everything else INCLUDING the corrections — the stale-then-
    corrected update choreography survives; the restart tests keep
    3-batch coverage."""
    import glob
    import os
    import shutil
    import time

    now = time.time()
    for i, batch in enumerate(batches):
        part_dir = os.path.join(feed_dir, f"_stage{i}")
        batch.coalesce(1).write.mode("overwrite").parquet(part_dir)
        (part,) = glob.glob(os.path.join(part_dir, "part-*.parquet"))
        dst = os.path.join(feed_dir, f"b{i:04d}.parquet")
        shutil.move(part, dst)
        shutil.rmtree(part_dir, ignore_errors=True)
        os.utime(dst, (now - 180 + 60 * i, now - 180 + 60 * i))


@contextmanager
def _maintained(spark, row: str, feed: str, build):
    """The one drive path of the maintained-structure rows: make the
    structure with ``build(state_root)``, drain ``feed`` (staged in the
    structure's FEED_SCHEMA column names) into it through
    feed.file_feed_stream, and hand the drained structure to the block.
    Checkpoint and state share one scratch dir, removed on exit, so the
    block must ``localCheckpoint(eager=True)`` what it serves. A row
    whose lifecycle needs a second root (recluster, retrain) puts it
    beside the state root, in the same scratch dir."""
    import shutil

    from worker_spark.streaming.feed import file_feed_stream

    scratch = tempfile.mkdtemp(prefix=f"{row}_")
    try:
        state = os.path.join(scratch, "state")
        os.mkdir(state)
        structure = build(state)
        q = file_feed_stream(spark, feed, structure, os.path.join(scratch, "ckpt"))
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(f"{row}: availableNow drain exceeded 300s")
        yield structure
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# the literal query strings this row scores over the streamed v1
# documents corpus (previously retrievalq._BM25_QUERIES; the batch v1
# BM25 row was retired in r9, so the constant lives with its one
# remaining consumer)
_INDEX_QUERIES = ("hash join", "table scan fast", "stream window batch")


def _index_bm25_oracle() -> str:
    # The post-stream state is EXACTLY the batch-built index (the
    # convergence contract pinned by tests/test_incremental_retrieval),
    # so the natural "single-SQL oracle for a multi-batch MERGE" is the
    # batch BM25 oracle itself: same corpus, same formula, same
    # rounding, same tie-breaks. The stale-then-corrected update in the
    # feed below converges to the canonical text, so the oracle needs
    # no knowledge of the intermediate versions.
    from worker_spark.queries.retrievalq import _bm25_oracle

    return _bm25_oracle(queries=_INDEX_QUERIES)


@register(
    "streaming_index_bm25",
    _index_bm25_oracle(),
    doc="Incrementally-maintained retrieval index driven end-to-end "
    "through Structured Streaming (VERDICT r5 item 8 / NOTES r6 item "
    "4): document batches arrive as files (maxFilesPerTrigger=1, "
    "availableNow), a foreachBatch MERGE keeps postings+doclen state "
    "current — including an UPDATE batch whose corrected text replaces "
    "a stale draft via delete-then-insert (S8 link-replace) — and BM25 "
    "is scored from the MAINTAINED statistics, no corpus re-scan. "
    "Hash-checked against the batch BM25 oracle: the streamed index "
    "must converge to the batch build exactly, which also proves the "
    "update path replaced every stale posting.",
)
def q_streaming_index_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.retrieval_index import IncrementalRetrievalIndex

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Two-file feed (corrections ride in the second file — see
    # _stage_feed doc)
    # Feed shape: batch 0 carries the even
    # documents but only a stale 40-char draft for doc_id%10==0; batch 1
    # the odd documents; batch 2 the corrected full rows for the drafted
    # ids. Final state == the canonical corpus iff the MERGE's
    # delete-then-insert replace works, which the batch oracle checks.
    stale = F.col("doc_id") % 10 == 0
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(stale)
    # shared with streaming_weighted_reservoir: byte-identical recipe
    # (v1 documents, stale drafts at doc_id%10==0)
    feed = staged_dir(
        sf_dir, "docs_s10", lambda d: _stage_feed((b0, b1.unionByName(b2)), d)
    )
    with _maintained(
        spark,
        "streaming_index_bm25",
        feed,
        lambda state: IncrementalRetrievalIndex(spark, state),
    ) as idx:
        return idx.bm25_topk(list(_INDEX_QUERIES), k=10).localCheckpoint(
            eager=True
        )


def _ivf_maintained_index(spark, emb, sf_dir: str, row_name: str):
    """Build the maintained IVF index through the shared two-file
    stale-negated feed — batch 0 the even vectors with NEGATED drafts
    for vec_id%10==0 (same cell geometry flipped, a genuinely different
    assignment), batch 1 the odds, batch 2 the corrections — against
    stride-100 pinned medoids, and drain the maintenance stream. ONE
    definition of the recipe for the streaming_ivf_ann,
    streaming_ivf_recluster and streaming_semdedup_prune rows (review
    finding: verbatim copies; the _stage_feed extraction set the
    precedent) — which also means one SHARED staged feed (emb_ivf).
    Returns the _maintained context that yields the drained index."""
    from worker_spark.streaming.vector_index import IncrementalVectorIndex

    stale = F.col("vec_id") % 10 == 0
    negated = F.expr("transform(embedding, x -> cast(-x as float))")
    b0 = emb.filter(F.col("vec_id") % 2 == 0).select(
        "vec_id",
        F.when(stale, negated).otherwise(F.col("embedding")).alias("embedding"),
    )
    b1 = emb.filter(F.col("vec_id") % 2 == 1)
    b2 = emb.filter(stale)
    feed = staged_dir(
        sf_dir, "emb_ivf", lambda d: _stage_feed((b0, b1.unionByName(b2)), d)
    )
    return _maintained(
        spark,
        row_name,
        feed,
        lambda state: IncrementalVectorIndex(
            spark, state, centroids=emb.filter(F.col("vec_id") % 100 == 0)
        ),
    )


def _streaming_ivf_oracle() -> str:
    # The post-stream index state is EXACTLY the batch IVF build against
    # the pinned centroid set (streaming/vector_index.py convergence
    # contract, pinned by tests/test_vector_index.py), so the batch
    # IVF-ANN oracle serves unchanged — the same one-oracle-for-both
    # argument as streaming_index_bm25. The stale-then-corrected update
    # batch in the feed converges to the canonical embeddings, so the
    # oracle needs no knowledge of the intermediate versions.
    from worker_spark.queries.simq import _ivf_ann_oracle

    return _ivf_ann_oracle()


@register(
    "streaming_ivf_ann",
    _streaming_ivf_oracle(),
    doc="Incrementally-maintained IVF vector index driven end-to-end "
    "through Structured Streaming: embedding batches arrive as files "
    "(maxFilesPerTrigger=1, availableNow), a foreachBatch MERGE keeps "
    "the cell lists + per-vector manifest current on hash-bucketed "
    "parquet state — including an UPDATE batch whose corrected vectors "
    "REPLACE stale (negated) drafts, moving them between cells via the "
    "manifest — and ANN queries are served from the MAINTAINED state, "
    "reading only the probed cells' bucket files. Hash-checked against "
    "the batch IVF oracle: the streamed index must converge to the "
    "batch build exactly. The vector-search twin of "
    "streaming_index_bm25.",
)
def q_streaming_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    with _ivf_maintained_index(spark, emb, sf_dir, "streaming_ivf_ann") as idx:
        queries = emb.filter(F.col("vec_id") % 20 == 0)
        return idx.ann_topk(queries, nprobe=2, top_k=5).localCheckpoint(
            eager=True
        )


def _streaming_ivf_recluster_oracle() -> str:
    # A retrain pins a NEW centroid set in a fresh root and re-assigns
    # the maintained state's vectors under it (vector_index.recluster),
    # provably equal to a batch build against those centroids — so the
    # SAME batch IVF oracle serves, with the centroid stride the only
    # knob the retrain turned (100 -> 50: twice the cells, the
    # corpus-outgrew-its-codebook scenario).
    from worker_spark.queries.simq import _ivf_ann_oracle

    return _ivf_ann_oracle(cent_stride=50)


@register(
    "streaming_ivf_recluster",
    _streaming_ivf_recluster_oracle(),
    doc="IVF centroid refresh over the maintained vector index — the "
    "retrain lifecycle production ANN serving hits when the corpus "
    "outgrows its codebook: the index is built through Structured "
    "Streaming against a COARSE pinned centroid set (including a "
    "stale-then-corrected update batch), then re-clustered blue/green "
    "into a fresh root under a 2x-finer centroid set TRAINED FROM THE "
    "MAINTAINED STATE (the corpus is never re-read from source), the "
    "manifest recomputed under the new assignment. ANN queries served "
    "from the re-clustered root are hash-checked against the batch IVF "
    "oracle at the new stride — retrain equals rebuild, bit for bit.",
)
def q_streaming_ivf_recluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    with _ivf_maintained_index(
        spark, emb, sf_dir, "streaming_ivf_recluster"
    ) as idx:
        # retrain: medoids drawn from the MAINTAINED state at half the
        # stride (recluster refuses a non-empty target root, so give it
        # a fresh dir beside the maintained root)
        new_cents = (
            idx.cells()
            .select("vec_id", "embedding")
            .filter(F.col("vec_id") % 50 == 0)
        )
        new_idx = idx.recluster(
            os.path.join(os.path.dirname(idx.store.root), "reclustered"),
            new_centroids=new_cents,
        )
        queries = emb.filter(F.col("vec_id") % 20 == 0)
        return new_idx.ann_topk(queries, nprobe=2, top_k=5).localCheckpoint(
            eager=True
        )


def _streaming_dedup_oracle() -> str:
    # The post-stream banded state is EXACTLY the batch build over the
    # historical corpus (streaming/dedup_index.py convergence contract,
    # pinned by tests/test_dedup_index.py), so screening the new batch
    # against the maintained index equals simhash_incremental_pairs over
    # the union corpus — the batch incremental-dedup oracle serves
    # unchanged (the one-oracle-for-both argument, third instance).
    from worker_spark.queries.dedupq import _simhash_incremental_oracle

    return _simhash_incremental_oracle()


@register(
    "streaming_dedup_index",
    _streaming_dedup_oracle(),
    doc="Incrementally-maintained SimHash dedup index driven end-to-end "
    "through Structured Streaming: historical document batches arrive "
    "as files (maxFilesPerTrigger=1, availableNow), a foreachBatch "
    "MERGE keeps the banded fingerprint state current on hash-bucketed "
    "parquet — including an UPDATE batch whose corrected text REPLACES "
    "stale drafts, moving their band rows to new band keys via the "
    "fingerprint manifest — and the NEW ingest batch is screened "
    "against the MAINTAINED index, reading only its own band keys' "
    "bucket files with the corpus never re-fingerprinted. Hash-checked "
    "against the batch incremental-dedup oracle. Completes the "
    "streaming-index trio (inverted index, IVF vector index, dedup "
    "fingerprint index).",
)
def q_streaming_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.dedup_index import IncrementalDedupIndex

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    hist = docs.filter(F.col("doc_id") % 10 < 8)
    # Two-file feed (corrections ride in the second file — see
    # _stage_feed doc)
    # Feed shape: over the HISTORICAL side with a mid-stream update:
    # batch 0 carries the even docs but a stale 40-char draft for
    # doc_id%7==0 (a different fingerprint, hence different band keys);
    # batch 1 the odd docs; batch 2 the corrected full rows. Final state
    # == the canonical historical corpus iff the manifest-driven
    # delete-then-insert moves band rows between band keys correctly.
    stale = F.col("doc_id") % 7 == 0
    b0 = hist.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = hist.filter(F.col("doc_id") % 2 == 1)
    b2 = hist.filter(stale & (F.col("doc_id") % 2 == 0))
    feed = staged_dir(
        sf_dir,
        "docs_hist_s7",
        lambda d: _stage_feed((b0, b1.unionByName(b2)), d),
    )
    with _maintained(
        spark,
        "streaming_dedup_index",
        feed,
        lambda state: IncrementalDedupIndex(spark, state),
    ) as idx:
        new = docs.filter(F.col("doc_id") % 10 >= 8)
        return idx.screen_batch(new, max_hamming=3).localCheckpoint(
            eager=True
        )


def _streaming_exact_oracle() -> str:
    # The post-stream hash state is EXACTLY the batch content-hash build
    # over the canonical corpus (streaming/exact_index.py convergence
    # contract, pinned by tests/test_exact_index.py), so the clusters
    # served from the maintained state equal exact_dedup over the same
    # corpus — the batch exact-dedup oracle serves unchanged (the
    # one-oracle-for-both argument, fifth instance).
    from worker_spark.queries.dedupq import _EXACT_SQL

    return _EXACT_SQL


@register(
    "streaming_exact_index",
    _streaming_exact_oracle(),
    doc="Incrementally-maintained EXACT dedup index driven end-to-end "
    "through Structured Streaming — the cheapest dedup pass a 100 TB "
    "pipeline keeps current rather than recomputing: document batches "
    "arrive as files (maxFilesPerTrigger=1, availableNow), a "
    "foreachBatch MERGE keeps the content-hash state current on "
    "hash-bucketed parquet — including an UPDATE batch whose corrected "
    "text REPLACES stale drafts, moving their hash rows between hash "
    "buckets via the per-doc manifest — and duplicate clusters are "
    "served from the MAINTAINED state alone (the corpus text is never "
    "re-read and never re-hashed on the serving path). Hash-checked "
    "against the batch exact-dedup oracle. Completes streaming "
    "maintenance for every registered lexical dedup method (exact + "
    "SimHash + MinHash).",
)
def q_streaming_exact_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.exact_index import IncrementalExactIndex

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Two-file feed (corrections ride in the second file — see
    # _stage_feed doc)
    # Feed shape: batch 0 carries the even
    # docs but a stale 40-char draft for doc_id%7==0 (different content
    # -> different hash -> different hash bucket); batch 1 the odd docs;
    # batch 2 the corrected full rows. Final state == the canonical
    # corpus iff the manifest-driven delete-then-insert moves hash rows
    # between buckets correctly, which the batch oracle checks.
    stale = F.col("doc_id") % 7 == 0
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(stale & (F.col("doc_id") % 2 == 0))
    # shared with streaming_minhash_index: byte-identical recipe
    # (v1 documents, stale drafts at doc_id%7==0)
    feed = staged_dir(
        sf_dir, "docs_s7", lambda d: _stage_feed((b0, b1.unionByName(b2)), d)
    )
    with _maintained(
        spark,
        "streaming_exact_index",
        feed,
        lambda state: IncrementalExactIndex(spark, state),
    ) as idx:
        return idx.dedup_clusters().localCheckpoint(eager=True)


def _streaming_minhash_oracle() -> str:
    # The post-stream banded state is EXACTLY the batch signature build
    # over the canonical corpus (streaming/minhash_index.py convergence
    # contract, pinned by tests/test_minhash_index.py), so the verified
    # pairs served from the maintained state equal
    # minhash_lsh_dedup_pairs over the same corpus — the batch MinHash
    # oracle serves unchanged (the one-oracle-for-both argument, fourth
    # instance). The stale-then-corrected update batch in the feed
    # converges to the canonical text, so the oracle needs no knowledge
    # of the intermediate versions.
    from worker_spark.queries.dedupq import _minhash_oracle

    return _minhash_oracle()


@register(
    "streaming_minhash_index",
    _streaming_minhash_oracle(),
    doc="Incrementally-maintained MinHash-LSH dedup index driven "
    "end-to-end through Structured Streaming — streaming maintenance "
    "for the PRIMARY corpus-scale dedup method (VERDICT r9 item 4): "
    "document batches arrive as files (maxFilesPerTrigger=1, "
    "availableNow), a foreachBatch MERGE keeps the banded signature "
    "state current on hash-bucketed parquet — including an UPDATE "
    "batch whose corrected text REPLACES stale drafts, moving their "
    "band rows to new band keys via the stored-signature manifest — "
    "and verified near-dup pairs are served from the MAINTAINED "
    "state: candidates from one band-key equi-self-join (the corpus "
    "is never re-shingled or re-signed), exact Jaccard re-shingling "
    "ONLY candidate documents. Hash-checked against the batch "
    "MinHash+LSH oracle. The banded-signature twin of "
    "streaming_dedup_index.",
)
def q_streaming_minhash_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.minhash_index import IncrementalMinHashIndex

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Two-file feed (corrections ride in the second file — see
    # _stage_feed doc)
    # Feed shape: batch 0 carries the even
    # docs but a stale 40-char draft for doc_id%7==0 (different shingle
    # set -> different signature -> different band keys); batch 1 the
    # odd docs; batch 2 the corrected full rows. Final state == the
    # canonical corpus iff the manifest-driven delete-then-insert moves
    # band rows between band keys correctly, which the batch oracle
    # checks.
    stale = F.col("doc_id") % 7 == 0
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(stale & (F.col("doc_id") % 2 == 0))
    # shared with streaming_exact_index (same recipe — see there)
    feed = staged_dir(
        sf_dir, "docs_s7", lambda d: _stage_feed((b0, b1.unionByName(b2)), d)
    )
    with _maintained(
        spark,
        "streaming_minhash_index",
        feed,
        lambda state: IncrementalMinHashIndex(spark, state),
    ) as idx:
        return idx.dedup_pairs(docs, threshold=0.5).localCheckpoint(
            eager=True
        )


def _streaming_curation_oracle() -> str:
    # The post-stream decisions table is EXACTLY the batch curation
    # query over the canonical corpus: the LM is pinned at creation
    # from the same corpus the batch query trains on inline, the
    # thresholds are the same pinned constants, and every other gate is
    # map-only — so the batch curation oracle serves VERBATIM (the
    # one-oracle-for-both argument, sixth maintained index).
    from worker_spark.queries.textops import _curation_v2_oracle

    return _curation_v2_oracle()


@register(
    "streaming_curation_index",
    _streaming_curation_oracle(),
    doc="Incrementally-maintained CURATION decision table driven "
    "end-to-end through Structured Streaming — the materialized "
    "keep/reject state a production pipeline serves downstream "
    "consumers from instead of re-deciding the corpus per run: "
    "document batches arrive as files (maxFilesPerTrigger=1, "
    "availableNow), a foreachBatch MERGE re-decides exactly the batch "
    "documents against the PINNED bigram LM + thresholds (offline-"
    "train/online-apply, the centroid-pin discipline) — including an "
    "UPDATE batch whose corrected text REPLACES stale drafts' "
    "decisions — and the decision table is served from maintained "
    "state. Hash-checked against the batch curation oracle verbatim: "
    "the streamed decisions must converge to the batch decision table "
    "exactly.",
)
def q_streaming_curation_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.queries.textops import (
        _GOPHER_MIN_WORDS,
        _GOPHER_SW,
        CURATION2_MAX_TBR,
        CURATION2_MIN_LOGP,
        CURATION2_MIN_QUALITY,
        CURATION2_MIN_TTR,
        CURATION2_TARGET,
    )
    from worker_spark.operators.text import GOPHER_MIN_STOPWORD_HITS
    from worker_spark.sources.synth_corpus import documents_v2_lang
    from worker_spark.streaming.curation_index import (
        CurationConfig,
        IncrementalCurationIndex,
    )

    d = documents_v2_lang(spark, sf_dir)
    docs = d.select("doc_id", "text")
    # Two-file feed (corrections ride in the second file — see
    # _stage_feed doc)
    # Feed shape: batch 0 carries the
    # even documents but only a stale 40-char draft for doc_id%10==0
    # (short enough to flip quality/Gopher/repetition gates — a
    # genuinely different decision); batch 1 the odd documents; batch 2
    # the corrected full rows. Final decisions == the canonical
    # corpus's iff the MERGE re-decided the drafted ids.
    stale = F.col("doc_id") % 10 == 0
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(stale)
    feed = staged_dir(
        sf_dir,
        "docsv2lang_s10",
        lambda d: _stage_feed((b0, b1.unionByName(b2)), d),
    )
    with _maintained(
        spark,
        "streaming_curation_index",
        feed,
        lambda state: IncrementalCurationIndex(
            spark,
            state,
            lm_train_docs=docs,  # the offline LM-training corpus
            config=CurationConfig(
                target_lang=CURATION2_TARGET,
                min_quality=CURATION2_MIN_QUALITY,
                min_ttr=CURATION2_MIN_TTR,
                max_tbr=CURATION2_MAX_TBR,
                min_logp=CURATION2_MIN_LOGP,
                gopher_min_words=_GOPHER_MIN_WORDS,
                gopher_stopwords=_GOPHER_SW,
                gopher_min_sw_hits=GOPHER_MIN_STOPWORD_HITS,
            ),
        ),
    ) as idx:
        # true_lang is fixture metadata (not text-derived state) — the
        # serve-side enrichment join that makes the batch oracle apply
        # verbatim
        return (
            idx.decisions()
            .join(d.select("doc_id", "true_lang"), "doc_id")
            .select(
                "doc_id",
                "true_lang",
                "pred_lang",
                "quality_score",
                "type_token_ratio",
                "top_bigram_ratio",
                "avg_logp",
                "passes_gopher",
                "keep",
                "reject_reason",
            )
            .localCheckpoint(eager=True)
        )


def _streaming_reservoir_oracle() -> str:
    # top-k is associative and the A-ES key is a pure per-row
    # expression, so the reservoir maintained across micro-batches —
    # including a weight-growing stale-draft correction — equals the
    # batch top-k over the canonical corpus; the batch oracle serves
    # verbatim (one-oracle-for-both, seventh instance).
    from worker_spark.queries.sampleq import _weighted_reservoir_oracle

    return _weighted_reservoir_oracle()


@register(
    "streaming_weighted_reservoir",
    _streaming_reservoir_oracle(),
    doc="Continuous weighted (ppswor) sampling as MAINTAINED O(k) "
    "state: the A-ES reservoir in its original streaming form — "
    "document batches arrive as files (maxFilesPerTrigger=1, "
    "availableNow), each trigger scores the batch with the exact "
    "integer-micros key, merges with the current reservoir and keeps "
    "the global top-k — including an UPDATE batch whose corrected text "
    "REPLACES stale truncated drafts (length-weight grows, a monotone "
    "promotion). The corpus never accumulates anywhere: per-trigger "
    "cost is O(batch) map-only scoring + a k-row TakeOrdered + an O(k) "
    "state write. Hash-checked against the batch A-ES oracle verbatim: "
    "the streamed reservoir must equal the batch sample exactly.",
)
def q_streaming_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.reservoir import StreamingReservoir

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Two-file feed (corrections ride in the second file — see
    # _stage_feed doc)
    # Feed shape: batch 0 carries the
    # even documents but only a stale 40-char draft for doc_id%10==0
    # (a SMALLER length-weight — the correction can only promote, the
    # monotone case bounded-state sampling converges under); batch 1
    # the odd documents; batch 2 the corrected full rows.
    stale = F.col("doc_id") % 10 == 0
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(stale)
    # shared with streaming_index_bm25 (same recipe — see there)
    feed = staged_dir(
        sf_dir, "docs_s10", lambda d: _stage_feed((b0, b1.unionByName(b2)), d)
    )
    with _maintained(
        spark,
        "streaming_weighted_reservoir",
        feed,
        lambda state: StreamingReservoir(spark, state),
    ) as res:
        return res.reservoir().localCheckpoint(eager=True)


def _mg_heavy_hitters_oracle() -> str:
    """The Misra-Gries fold replayed stage by stage: the maintained
    summary is deterministic (exact integer counts; the (k+1)-th value
    taken under the total order cnt DESC, token ASC — engines agree
    bit-for-bit), so the oracle chains one merge/offset/subtract CTE
    block per feed batch. Built by a loop so the per-stage SQL exists
    once. Runs over the Zipf documents_v2 corpus: the v1 fixture's
    ~31-token vocabulary never exceeds k, so MG would degenerate to
    exact counting there — no decay, nothing summarized."""
    from worker_spark.sources.synth_corpus import documents_v2_sql
    from worker_spark.streaming.heavy_hitters import MG_K

    stages = [documents_v2_sql("docs2")]
    prev = None
    # two batches since r13 (VERDICT r12 item 2: bench-wall trim —
    # merge + offset-subtract choreography is fully exercised by the
    # second stage; the restart test keeps multi-batch coverage)
    for i in range(2):
        stages.append(f"""t{i} AS (
        SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS token
            FROM docs2 WHERE doc_id % 2 = {i} AND length(trim(text)) > 0
        ) u WHERE length(token) > 0 GROUP BY token
    )""")
        if prev is None:
            stages.append(f"m{i} AS (SELECT token, cnt FROM t{i})")
        else:
            stages.append(f"""m{i} AS (
        SELECT token, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
            SELECT token, cnt FROM {prev}
            UNION ALL SELECT token, cnt FROM t{i}
        ) z GROUP BY token
    )""")
        stages.append(
            f"o{i} AS (SELECT coalesce((SELECT cnt FROM m{i} "
            f"ORDER BY cnt DESC, token ASC LIMIT 1 OFFSET {MG_K}), 0) AS off)"
        )
        stages.append(
            f"s{i} AS (SELECT token, CAST(cnt - off AS BIGINT) AS cnt "
            f"FROM m{i}, o{i} WHERE cnt - off > 0)"
        )
        prev = f"s{i}"
    return (
        "WITH "
        + ",\n    ".join(stages)
        + f"\n    SELECT token, cnt AS est_cnt FROM {prev}"
    )


@register(
    "streaming_heavy_hitters",
    _mg_heavy_hitters_oracle(),
    doc="Deterministic heavy-hitter summary as MAINTAINED O(k) state: "
    "Misra-Gries under the PODS'12 mergeable-summaries merge rule — "
    "per trigger, exact batch token counts merge into the stored "
    "counters, the (k+1)-th largest combined count is subtracted from "
    "every key and non-positive remainders drop, so the state is "
    "bounded by k rows with the accumulated offset as the error "
    "radius (est <= true <= est + offset; anything above the offset "
    "is GUARANTEED present — the deterministic coverage the CMS "
    "sketch row cannot give). The fold is deterministic in both "
    "engines, so the oracle replays it as chained CTE stages, one "
    "per feed batch. "
    "Append-only by construction (documented): replacing a document "
    "would need evicted history; corrections are a rebuild.",
)
def q_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.heavy_hitters import StreamingHeavyHitters

    from worker_spark.sources.synth_corpus import documents_v2

    docs = documents_v2(spark, sf_dir).select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    feed = staged_dir(
        sf_dir, "docsv2_evenodd", lambda d: _stage_feed((b0, b1), d)
    )
    with _maintained(
        spark,
        "streaming_heavy_hitters",
        feed,
        lambda state: StreamingHeavyHitters(spark, state),
    ) as hh:
        return hh.counters().localCheckpoint(eager=True)


def _strat_reservoir_oracle() -> str:
    # per-stratum top-k is associative PER STRATUM over the union
    # corpus, and the A-ES key is the same pure per-row expression the
    # flat reservoir pins — so the maintained per-stratum reservoirs
    # equal the batch per-stratum top-k exactly.
    from worker_spark.operators import sampling as S

    return f"""
    WITH scored AS (
        SELECT lang AS stratum, doc_id,
               CAST(length(text) AS BIGINT) AS weight,
               CAST(round(ln(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                  AS BIGINT) + 1.0) * {S.AES_MICRO}) AS BIGINT)
                   - {S.AES_LN_2POW32_MICROS} AS aes_key_micros
        FROM documents
        WHERE length(text) > 0
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY stratum
                   ORDER BY CAST(aes_key_micros AS DOUBLE)
                            / CAST(weight AS DOUBLE) DESC,
                            doc_id ASC) AS rn
        FROM scored
    )
    SELECT stratum, doc_id, weight, aes_key_micros
    FROM ranked WHERE rn <= 20
    """


@register(
    "streaming_stratified_reservoir",
    _strat_reservoir_oracle(),
    doc="Per-stratum continuous ppswor sampling as maintained state: an "
    "independent k-row A-ES reservoir PER language stratum (the "
    "per-source caps a mixture pipeline maintains), kept current per "
    "trigger — including a weight-growing stale-draft correction — "
    "with O(k x strata) state. The per-group top-k runs as a SALTED "
    "two-stage reduction (sampling.grouped_topk) instead of a "
    "Window over the stratum key, so a mega-stratum batch cannot "
    "funnel into one task (the hot-key hazard the ngram-novelty "
    "de-weak removed, pre-empted here). Hash-checked against the "
    "per-stratum batch top-k oracle: maintained equals batch exactly.",
)
def q_streaming_stratified_reservoir(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from worker_spark.streaming.reservoir import StreamingStratifiedReservoir

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.col("lang").alias("stratum")
    )
    stale = F.col("doc_id") % 10 == 0
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
        "stratum",
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(stale)
    feed = staged_dir(
        sf_dir,
        "docs_strat_s10",
        lambda d: _stage_feed((b0, b1.unionByName(b2)), d),
    )
    with _maintained(
        spark,
        "streaming_stratified_reservoir",
        feed,
        lambda state: StreamingStratifiedReservoir(spark, state, k=20),
    ) as res:
        return res.reservoirs().localCheckpoint(eager=True)


def _streaming_substring_oracle() -> str:
    # The post-stream fingerprint state is EXACTLY the batch winnowing
    # build over the canonical shared-substring corpus
    # (streaming/substring_index.py convergence contract, pinned by
    # tests/test_substring_index.py), so the coverage report served
    # from the maintained state equals substring_dedup_report over the
    # same corpus — the batch v2 report oracle serves unchanged (the
    # one-oracle-for-both argument, sixth instance).
    from worker_spark.queries.substrq import _report_v2_oracle

    return _report_v2_oracle()


@register(
    "streaming_substring_index",
    _streaming_substring_oracle(),
    doc="Incrementally-maintained SUBSTRING dedup index (winnowing "
    "fingerprints) driven end-to-end through Structured Streaming — "
    "the tenth maintained structure, closing the one dedup family "
    "still recomputed per run (VERDICT r11 item 4): document batches "
    "arrive as files (maxFilesPerTrigger=1, availableNow), a "
    "foreachBatch MERGE winnows ONLY the batch (O(batch chars)) and "
    "keeps the fingerprint state current on hash-bucketed parquet — "
    "including an UPDATE batch whose corrected text REPLACES stale "
    "drafts, moving their fingerprint rows between hash buckets via "
    "the per-doc manifest — and the duplicated-substring coverage "
    "report is served from the MAINTAINED state alone (corpus text "
    "never re-read, never re-winnowed on the serving path). "
    "Hash-checked against the batch planted-shared-block report "
    "oracle (doc_substring_dedup_report_v2).",
)
def q_streaming_substring_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.sources.synth_corpus import documents_v2_substr
    from worker_spark.streaming.substring_index import IncrementalSubstringIndex

    docs = documents_v2_substr(spark, sf_dir).select("doc_id", "text")
    # Two-file feed (corrections ride in the second file — see
    # _stage_feed doc)
    # Feed shape: batch 0 carries the
    # even docs but a stale 40-char draft for doc_id%7==0 (different
    # text -> different winnowing fingerprints in different hash
    # buckets); batch 1 the odd docs; batch 2 the corrected full rows.
    # Final state == the canonical corpus iff the manifest-driven
    # delete-then-insert moves fingerprint rows between buckets
    # correctly, which the batch report oracle checks per document.
    stale = F.col("doc_id") % 7 == 0
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(stale & (F.col("doc_id") % 2 == 0))
    # shared with streaming_substring_pipeline: byte-identical recipe
    # (planted shared-block corpus, stale drafts at doc_id%7==0)
    feed = staged_dir(
        sf_dir,
        "docsv2substr_s7",
        lambda d: _stage_feed((b0, b1.unionByName(b2)), d),
    )
    with _maintained(
        spark,
        "streaming_substring_index",
        feed,
        lambda state: IncrementalSubstringIndex(spark, state),
    ) as idx:
        return idx.dedup_report().localCheckpoint(eager=True)


def _streaming_components_oracle() -> str:
    # The post-stream label state is EXACTLY the batch min-label
    # propagation over the live pair graph (streaming/components_index
    # convergence contract, pinned by tests/test_components_index.py
    # through merges, splits and deletes), and the feed below converges
    # to the v2 planted-dup corpus's full Jaccard pair set — so the
    # clusters served from maintained state equal cluster_assignments
    # over that corpus and the batch v2 cluster oracle serves unchanged
    # (the one-oracle-for-both argument, seventh instance).
    from worker_spark.queries.dedupq import _cluster_oracle, _on_dupes

    return _on_dupes(_cluster_oracle(), exact=False)


@register(
    "streaming_components_index",
    _streaming_components_oracle(),
    doc="Incrementally-maintained CONNECTED-COMPONENTS cluster labels "
    "driven end-to-end through Structured Streaming — the eleventh "
    "maintained structure (VERDICT r11 item 5): candidate-pair batches "
    "(the screening indexes' output shape) arrive as files, a "
    "foreachBatch MERGE replaces each announced document's edges and "
    "re-runs min-label propagation ONLY inside the components the "
    "batch touches (merge + SPLIT both exercised: batch 0 chains the "
    "stale drafts into one bogus component that the correction batch "
    "must tear apart into the true planted groups), and cluster "
    "assignments are served from the MAINTAINED label state alone — "
    "the pair graph is never regenerated and the corpus text never "
    "read on the serving path. Hash-checked against the batch "
    "dedup_cluster_components_v2 oracle.",
)
def q_streaming_components_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from worker_spark.operators import dedup as D
    from worker_spark.queries.dedupq import _NGRAM_DF_CAP
    from worker_spark.sources.synth_corpus import documents_v2_dupes
    from worker_spark.streaming.components_index import IncrementalComponentsIndex

    def _build(d: str) -> None:
        # the candidate-pair generation (the screening indexes' output
        # shape) is part of feed STAGING, not of the measured
        # maintenance — inside the builder so it runs once per process
        docs2 = documents_v2_dupes(spark, sf_dir, exact=False)
        pairs = (
            D.ngram_jaccard_pairs(
                docs2, threshold=0.2, shingle_df_cap=_NGRAM_DF_CAP
            )
            .select("id_a", "id_b")
            .localCheckpoint(eager=True)
        )
        ids = docs2.select(F.col("doc_id").cast("long").alias("doc_id"))
        stale = F.col("doc_id") % 7 == 0
        even = F.col("doc_id") % 2 == 0
        null_nbr = F.lit(None).cast("long")
        # batch 0: even docs; stale evens arrive as DRAFTS — their true
        # pairs are withheld and a bogus chain links consecutive stale
        # drafts into one giant wrong component (the correction batch
        # must split it back into the true planted groups)
        ann0 = ids.filter(even).select("doc_id", null_nbr.alias("nbr"))
        a_even = (F.col("id_a") % 2 == 0) & (F.col("id_a") % 7 != 0)
        b_even = (F.col("id_b") % 2 == 0) & (F.col("id_b") % 7 != 0)
        e0 = pairs.filter(a_even & b_even).select(
            F.col("id_a").alias("doc_id"), F.col("id_b").alias("nbr")
        )
        w = Window.orderBy("doc_id")
        stale_evens = ids.filter(stale & even).withColumn(
            "rn", F.row_number().over(w)
        )
        # chain SEGMENTS of 8 drafts, not one global chain: a corpus-long
        # chain has corpus-scale diameter and forces min-label propagation
        # into its star fallback — bogus 8-node components keep the wrong-
        # merge/split choreography while converging in <8 rounds
        chain = (
            stale_evens.alias("x")
            .join(
                stale_evens.alias("y"),
                (F.col("y.rn") == F.col("x.rn") + 1)
                & (
                    F.expr("(x.rn - 1) div 8") == F.expr("(y.rn - 1) div 8")
                ),
            )
            .select(
                F.col("x.doc_id").alias("doc_id"),
                F.col("y.doc_id").alias("nbr"),
            )
        )
        b0 = ann0.unionByName(e0).unionByName(chain)
        # batch 1: odd docs; their pairs to anything non-stale
        ann1 = ids.filter(~even).select("doc_id", null_nbr.alias("nbr"))
        a_odd = F.col("id_a") % 2 == 1
        b_odd = F.col("id_b") % 2 == 1
        not_stale_a = F.col("id_a") % 7 != 0
        not_stale_b = F.col("id_b") % 7 != 0
        e1 = pairs.filter(a_odd & not_stale_b).select(
            F.col("id_a").alias("doc_id"), F.col("id_b").alias("nbr")
        ).unionByName(
            pairs.filter(b_odd & ~a_odd & not_stale_a).select(
                F.col("id_b").alias("doc_id"), F.col("id_a").alias("nbr")
            )
        )
        b1 = ann1.unionByName(e1)
        # batch 2: the corrections — stale docs re-announced with their
        # FULL true pair sets (replacing the bogus chain and the
        # withheld draft state)
        ann2 = ids.filter(stale).select("doc_id", null_nbr.alias("nbr"))
        stale_a = F.col("id_a") % 7 == 0
        stale_b = F.col("id_b") % 7 == 0
        e2 = pairs.filter(stale_a).select(
            F.col("id_a").alias("doc_id"), F.col("id_b").alias("nbr")
        ).unionByName(
            pairs.filter(stale_b & ~stale_a).select(
                F.col("id_b").alias("doc_id"), F.col("id_a").alias("nbr")
            )
        )
        b2 = ann2.unionByName(e2)
        _stage_feed((b0, b1.unionByName(b2)), d)

    feed = staged_dir(sf_dir, "comp_pairs_s7", _build)
    with _maintained(
        spark,
        "streaming_components_index",
        feed,
        lambda state: IncrementalComponentsIndex(spark, state),
    ) as idx:
        return idx.cluster_assignments().localCheckpoint(eager=True)


def _streaming_pipeline_oracle() -> str:
    # Exact equality is transitive, so the duplicate-pair graph of one
    # content hash is a clique and its min-label component IS the hash
    # group with the min doc id canonical: the composed pipeline's
    # served labels equal the md5 grouping of the live corpus
    # restricted to multi-member groups, in the components output
    # shape. One SQL grouping replays both maintained structures.
    from worker_spark.sources.synth_corpus import documents_v2_dupes_sql

    cte = documents_v2_dupes_sql("docs2d", exact=True)
    return f"""
    WITH {cte},
    h AS (
        SELECT doc_id, md5(text) AS ch FROM docs2d
        WHERE length(trim(text)) > 0
    ),
    g AS (
        SELECT ch, CAST(min(doc_id) AS BIGINT) AS cluster_id,
               CAST(count(*) AS BIGINT) AS cluster_size
        FROM h GROUP BY ch HAVING count(*) > 1
    )
    SELECT h.doc_id, g.cluster_id, g.cluster_size,
           (h.doc_id = g.cluster_id) AS is_survivor
    FROM h JOIN g USING (ch)
    """


@register(
    "streaming_dedup_pipeline",
    _streaming_pipeline_oracle(),
    doc="COMPOSED maintained-dedup pipeline driven end-to-end through "
    "Structured Streaming: one document stream drives the exact "
    "content-hash index AND the connected-components label index "
    "through a single apply_batch — ingest batch -> hash-state MERGE "
    "-> bucket-pruned screen against the post-batch state -> screen "
    "hits feed the label index, which relabels only the touched "
    "components. Per batch O(batch + touched buckets + touched "
    "components); the corpus is never re-hashed, re-screened or "
    "re-clustered. The update batch moves a corrected document between "
    "hash groups, which the composition must propagate through BOTH "
    "structures (hash rows move buckets; labels move components). "
    "Served cluster assignments hash-check against the one-grouping "
    "SQL replay of the whole composition (exact-dup cliques: min-label "
    "component == min-id hash group). Any other screening index "
    "(SimHash/MinHash/substring) plugs into the same seam.",
)
def q_streaming_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.sources.synth_corpus import documents_v2_dupes
    from worker_spark.streaming.dedup_pipeline import StreamingDedupPipeline

    docs = documents_v2_dupes(spark, sf_dir, exact=True).select(
        "doc_id", "text"
    )
    stale = F.col("doc_id") % 7 == 0
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(stale & (F.col("doc_id") % 2 == 0))
    feed = staged_dir(
        sf_dir,
        "docsv2dupes_exact_s7",
        lambda d: _stage_feed((b0, b1.unionByName(b2)), d),
    )
    with _maintained(
        spark,
        "streaming_dedup_pipeline",
        feed,
        lambda state: StreamingDedupPipeline(spark, state),
    ) as pipe:
        return pipe.cluster_assignments().localCheckpoint(eager=True)


def _streaming_neardup_oracle() -> str:
    # The composed near-dup pipeline converges to the batch MinHash
    # pair set over the live corpus (a corrected doc's announcement
    # re-screens it against the maintained band state and replaces its
    # edge set), so the oracle is the batch MinHash chain (sigs ->
    # bands -> candidates -> exact-Jaccard verify) extended by the
    # recursive reachability closure + min-label grouping — the
    # dedup_cluster_components tail over the verified MinHash pairs,
    # re-sourced onto the planted near-dup corpus.
    from worker_spark.queries.dedupq import _minhash_cands_cte, _on_dupes

    body = _minhash_cands_cte()
    if body.count("WITH ") != 1:
        raise RuntimeError(
            "_streaming_neardup_oracle: expected exactly one WITH in "
            "the minhash candidate chain — update the RECURSIVE splice"
        )
    oracle = body.replace("WITH ", "WITH RECURSIVE ", 1) + """,
    inter AS (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cands c
        JOIN sh sa ON sa.id = c.id_a
        JOIN sh sb ON sb.id = c.id_b AND sa.shingle = sb.shingle
        GROUP BY c.id_a, c.id_b
    ),
    vpairs AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes sa ON sa.id = i.id_a
        JOIN sizes sb ON sb.id = i.id_b
        WHERE round(CAST(n_inter AS DOUBLE)
                    / (sa.n_sh + sb.n_sh - n_inter), 6) >= 0.5
    ),
    edges AS (
        SELECT id_a AS s, id_b AS d FROM vpairs
        UNION
        SELECT id_b AS s, id_a AS d FROM vpairs
    ),
    verts AS (SELECT DISTINCT s AS id FROM edges),
    reach AS (
        SELECT id, id AS comp FROM verts
        UNION
        SELECT e.s AS id, r.comp FROM edges e JOIN reach r ON r.id = e.d
    ),
    comp AS (SELECT id, min(comp) AS cluster_id FROM reach GROUP BY id),
    sized AS (SELECT cluster_id, count(*) AS cluster_size
              FROM comp GROUP BY cluster_id)
    SELECT c.id AS doc_id, c.cluster_id, s.cluster_size,
           (c.id = c.cluster_id) AS is_survivor
    FROM comp c JOIN sized s USING (cluster_id)
    """
    return _on_dupes(oracle, exact=False)


@register(
    "streaming_neardup_pipeline",
    _streaming_neardup_oracle(),
    doc="COMPOSED maintained NEAR-dup pipeline (the second instance of "
    "the composition seam, with a real banded screen): one document "
    "stream drives a doc-text store, the MinHash-LSH band index and "
    "the connected-components label index through a single apply_batch "
    "— texts MERGE, band-state MERGE, band-bucket-pruned candidate "
    "screen, exact-Jaccard verify re-shingling only the batch + its "
    "candidate PARTNERS (fetched by bucket-pruned id lookup from the "
    "text store — the corpus is never re-shingled), verified pairs "
    "relabel the touched components. The update batch replaces a "
    "corrected document's edge set wholesale, tearing out draft-era "
    "pairs verified against superseded text. Served cluster "
    "assignments hash-check against the batch MinHash chain extended "
    "by the recursive closure + min-label grouping over the planted "
    "near-dup corpus.",
)
def q_streaming_neardup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.sources.synth_corpus import documents_v2_dupes
    from worker_spark.streaming.dedup_pipeline import StreamingNearDupPipeline

    docs = documents_v2_dupes(spark, sf_dir, exact=False).select(
        "doc_id", "text"
    )
    stale = F.col("doc_id") % 7 == 0
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(stale & (F.col("doc_id") % 2 == 0))
    feed = staged_dir(
        sf_dir,
        "docsv2dupes_near_s7",
        lambda d: _stage_feed((b0, b1.unionByName(b2)), d),
    )
    with _maintained(
        spark,
        "streaming_neardup_pipeline",
        feed,
        lambda state: StreamingNearDupPipeline(spark, state, threshold=0.5),
    ) as pipe:
        return pipe.cluster_assignments().localCheckpoint(eager=True)


def _streaming_semdedup_oracle() -> str:
    # The maintained cell assignment provably equals the batch
    # ivf_assign against the same pinned stride-100 medoids
    # (vector_index convergence contract), and semantic_dedup's verdict
    # stage is a pure function of (cells, vectors, tau) — so the batch
    # SemDeDup oracle serves the maintained-cells row unchanged (the
    # one-oracle-for-both argument, eighth instance).
    from worker_spark.queries.simq import _semdedup_oracle

    return _semdedup_oracle()


@register(
    "streaming_semdedup_prune",
    _streaming_semdedup_oracle(),
    doc="SemDeDup semantic pruning served from the MAINTAINED IVF cell "
    "assignment: the index is built through Structured Streaming "
    "against pinned stride-100 medoids (including a stale-NEGATED "
    "update batch whose corrected vectors must move cells), then the "
    "within-cell keep/drop verdicts run against the STORED cells — the "
    "N*K coarse-assignment stage, the corpus-size-times-codebook half "
    "of batch SemDeDup, is amortized into index maintenance and never "
    "re-paid at serve time. Hash-checked against the batch SemDeDup "
    "oracle. Ties the selection family to the vector index's "
    "maintain -> monitor -> retrain -> serve lifecycle.",
)
def q_streaming_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    with _ivf_maintained_index(
        spark, emb, sf_dir, "streaming_semdedup_prune"
    ) as idx:
        return idx.semdedup_prune(emb, tau=S.SEMDEDUP_TAU).localCheckpoint(
            eager=True
        )


def _streaming_substrpipe_oracle() -> str:
    # The composed substring pipeline converges to "shares a winnowing
    # fingerprint" clusters over the live corpus (a corrected doc's
    # announcement re-screens its state-read fingerprints and replaces
    # its edge set), so the oracle is the batch winnowing chain
    # (_SPAN_CTE through fps) extended by the shared-fingerprint pair
    # join + recursive closure + min-label tail, re-sourced onto the
    # planted shared-substring corpus.
    from worker_spark.queries.substrq import _SPAN_CTE
    from worker_spark.sources.synth_corpus import documents_v2_substr_sql

    if _SPAN_CTE.count("WITH ") != 1:
        raise RuntimeError(
            "_streaming_substrpipe_oracle: expected exactly one WITH in "
            "the span chain — update the RECURSIVE splice"
        )
    body = _SPAN_CTE.replace("WITH ", "WITH RECURSIVE ", 1) + """,
    spairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM fps a JOIN fps b
          ON a.fhash = b.fhash AND a.doc_id < b.doc_id
    ),
    sedges AS (
        SELECT id_a AS s, id_b AS d FROM spairs
        UNION
        SELECT id_b AS s, id_a AS d FROM spairs
    ),
    sverts AS (SELECT DISTINCT s AS id FROM sedges),
    sreach AS (
        SELECT id, id AS comp FROM sverts
        UNION
        SELECT e.s AS id, r.comp FROM sedges e JOIN sreach r ON r.id = e.d
    ),
    scomp AS (SELECT id, min(comp) AS cluster_id FROM sreach GROUP BY id),
    ssized AS (SELECT cluster_id, count(*) AS cluster_size
               FROM scomp GROUP BY cluster_id)
    SELECT c.id AS doc_id, c.cluster_id, s.cluster_size,
           (c.id = c.cluster_id) AS is_survivor
    FROM scomp c JOIN ssized s USING (cluster_id)
    """
    if body.count("FROM documents") != 1:
        raise RuntimeError(
            "_streaming_substrpipe_oracle: expected exactly one table "
            f"reference, found {body.count('FROM documents')}"
        )
    body = body.replace("FROM documents", "FROM docs2s")
    cte = documents_v2_substr_sql("docs2s")
    return body.replace("WITH RECURSIVE ", f"WITH RECURSIVE {cte},\n    ", 1)


@register(
    "streaming_substring_pipeline",
    _streaming_substrpipe_oracle(),
    doc="COMPOSED maintained SUBSTRING pipeline (third instance of the "
    "composition seam): one document stream drives the winnowing "
    "fingerprint index AND the components label index through a single "
    "apply_batch — fingerprint-state MERGE, then the screen reads the "
    "batch's fingerprints BACK from the fps manifest the apply just "
    "wrote (never re-winnowed) and probes only those fingerprints' "
    "buckets; shared-fingerprint hits relabel the touched components. "
    "The served clusters group documents sharing a >= W+K-1-char "
    "verbatim substring — license/boilerplate/quotation families, the "
    "grouping a curation pass reads to pick one canonical carrier per "
    "family. No text store needed: fingerprint equality IS the match. "
    "The update batch replaces corrected documents' edge sets "
    "wholesale. Hash-checked against the batch winnowing chain + "
    "recursive closure over the planted shared-block corpus.",
)
def q_streaming_substring_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.sources.synth_corpus import documents_v2_substr
    from worker_spark.streaming.dedup_pipeline import StreamingSubstringPipeline

    docs = documents_v2_substr(spark, sf_dir).select("doc_id", "text")
    stale = F.col("doc_id") % 7 == 0
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    b2 = docs.filter(stale & (F.col("doc_id") % 2 == 0))
    # shared with streaming_substring_index (same recipe — see there)
    feed = staged_dir(
        sf_dir,
        "docsv2substr_s7",
        lambda d: _stage_feed((b0, b1.unionByName(b2)), d),
    )
    with _maintained(
        spark,
        "streaming_substring_pipeline",
        feed,
        lambda state: StreamingSubstringPipeline(spark, state),
    ) as pipe:
        return pipe.cluster_assignments().localCheckpoint(eager=True)


def _streaming_contamination_oracle() -> str:
    # The post-stream screen state is EXACTLY the batch contamination
    # scan over (pinned eval split ∪ live corpus): the pinned eval set
    # is documents id%5==0, the feed converges the corpus side to
    # documents id%5<>0, and the maintained df/hot tracking reproduces
    # the batch operator's corpus-global stop-shingle cap — so the
    # batch contamination oracle serves unchanged (one oracle, two
    # rows; the family's pattern, ninth instance).
    from worker_spark.queries.textops import _contamination_oracle

    return _contamination_oracle()


@register(
    "streaming_contamination",
    _streaming_contamination_oracle(),
    doc="Benchmark-decontamination screen as MAINTAINED state (VERDICT "
    "r12 item 3 — the last batch-only LLM-pipeline gate): the eval "
    "set's n-gram table pins in the state root at creation (static by "
    "definition — the curation-LM pin precedent), document batches "
    "arrive as files (maxFilesPerTrigger=1, availableNow) including a "
    "stale-draft-then-correction update, and each batch is screened "
    "FROM STATE — postings/manifest delete-then-insert, df recomputed "
    "for the batch's own shingles only, stop-shingle cap crossings "
    "re-deriving exactly the bounded set of documents they touch. "
    "Decisions served from maintained state alone; hash-checked "
    "against the batch benchmark_contamination oracle.",
)
def q_streaming_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.contamination_index import (
        IncrementalContaminationScreen,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    # Feed shape: batch 0 carries the even corpus docs but a stale
    # 40-char draft for doc_id%7==0 (different n-grams -> different
    # posting rows in different shingle buckets); batch 1 the odd
    # corpus docs plus the corrected full rows. Final state == the
    # canonical corpus iff the manifest-driven delete-then-insert moves
    # posting rows between buckets correctly, which the batch oracle
    # checks per pair.
    stale = F.col("doc_id") % 7 == 0
    b0 = corpus.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = corpus.filter(F.col("doc_id") % 2 == 1)
    b2 = corpus.filter(stale & (F.col("doc_id") % 2 == 0))
    feed = staged_dir(
        sf_dir,
        "docs_ctm_s7",
        lambda d: _stage_feed((b0, b1.unionByName(b2)), d),
    )
    with _maintained(
        spark,
        "streaming_contamination",
        feed,
        lambda state: IncrementalContaminationScreen(spark, state, eval_docs=ev),
    ) as screen:
        return screen.decisions().localCheckpoint(eager=True)


def _streaming_quantile_oracle() -> str:
    # Bottom-k is associative (bottom_k(bottom_k(A) ∪ B) =
    # bottom_k(A ∪ B)), so the sample maintained across micro-batches —
    # including an at-least-once re-delivered overlap slice, which the
    # key anti-join reduces to a no-op — IS the batch sketch's sample
    # over the full events table, and the estimate block of the batch
    # quantile oracle serves verbatim (one oracle, two rows — the
    # family's pattern, tenth instance). The audit pass is the one part
    # that cannot serve from O(k·groups) state (exact ranks need a
    # corpus scan), so the maintained row registers the estimate block
    # alone.
    from worker_spark.queries.sketchq import quantile_sketch_est_oracle

    return quantile_sketch_est_oracle(
        "events", "event_type", "event_id", "value"
    )


@register(
    "streaming_quantile_index",
    _streaming_quantile_oracle(),
    doc="Incrementally-maintained MERGEABLE QUANTILE summary (VERDICT "
    "r12 item 4 — the sketch family's last batch-only member): a "
    "per-group bottom-k (hash, value) rank sample kept as O(k·groups) "
    "bucketed state, folded per micro-batch through one bounded window "
    "over the touched groups, serving p50/p90/p99 estimates with NO "
    "corpus scan. The feed is append-only immutable events (the "
    "contract that makes eviction sound) delivered as files "
    "(maxFilesPerTrigger=1, availableNow) with an at-least-once "
    "re-delivered overlap slice that the key anti-join must reduce to "
    "a no-op. Hash-checked against the batch quantile oracle's "
    "estimate block verbatim: associativity of bottom-k makes the "
    "streamed sample equal the batch sample exactly.",
)
def q_streaming_quantile_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.quantile_index import IncrementalQuantileIndex

    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"),
        F.col("event_id").alias("kid"),
        F.col("value").alias("v"),
    )
    # Two-file feed: batch 0 the even event_ids, batch 1 the odd ones
    # PLUS a re-delivered slice of batch 0 (id%10==0 — at-least-once
    # delivery, the append-only feed's realistic failure mode; the
    # maintained sample must not double-count it).
    b0 = e.filter(F.col("kid") % 2 == 0)
    b1 = e.filter((F.col("kid") % 2 == 1) | (F.col("kid") % 10 == 0))
    feed = staged_dir(
        sf_dir, "events_quant", lambda d: _stage_feed((b0, b1), d)
    )
    with _maintained(
        spark,
        "streaming_quantile_index",
        feed,
        lambda state: IncrementalQuantileIndex(spark, state),
    ) as idx:
        return (
            idx.estimates()
            .select(
                F.col("g").alias("event_type"),
                "m",
                "p50_est",
                "p90_est",
                "p99_est",
            )
            .localCheckpoint(eager=True)
        )


def _streaming_curation_retrain_oracle() -> str:
    # After the retrain, the fresh root's LM is trained on the state's
    # retained texts == the canonical corpus — exactly the corpus the
    # batch curation query trains on inline — and the thresholds are
    # the same pinned constants, so the batch curation oracle serves
    # VERBATIM for the POST-retrain decisions (the recluster rows'
    # argument applied to the curation lifecycle; one-oracle-for-both
    # #11). The pre-retrain decisions (drifted LM) are deliberately NOT
    # oracle-visible: they are the drift the lifecycle exists to fix.
    from worker_spark.queries.textops import _curation_v2_oracle

    return _curation_v2_oracle()


@register(
    "streaming_curation_retrain",
    _streaming_curation_retrain_oracle(),
    doc="The curation index's RETRAIN lifecycle (VERDICT r12 item 5 — "
    "the IVF recluster discipline applied to the pinned LM/threshold "
    "regime): an index created with an out-of-support LM ingests the "
    "corpus through the maintenance stream, retrain_advice() flags the "
    "LM-attributable reject drift, and retrain() blue/greens into a "
    "fresh root — LM re-trained FROM the state's own retained texts, "
    "every decision re-derived in one bulk MERGE, non-empty target "
    "refused. Hash-checked against the batch curation oracle verbatim: "
    "the post-retrain decisions must equal the batch decision table "
    "whose LM trains inline on the same corpus.",
)
def q_streaming_curation_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.queries.textops import (
        _GOPHER_MIN_WORDS,
        _GOPHER_SW,
        CURATION2_MAX_TBR,
        CURATION2_MIN_LOGP,
        CURATION2_MIN_QUALITY,
        CURATION2_MIN_TTR,
        CURATION2_TARGET,
    )
    from worker_spark.operators.text import GOPHER_MIN_STOPWORD_HITS
    from worker_spark.sources.synth_corpus import documents_v2_lang
    from worker_spark.streaming.curation_index import (
        CurationConfig,
        IncrementalCurationIndex,
    )

    d = documents_v2_lang(spark, sf_dir)
    docs = d.select("doc_id", "text")
    # the drifted creation-time LM: support disjoint from the corpus
    junk = spark.createDataFrame(
        [(900_000 + i, "æø " * 40) for i in range(5)],
        "doc_id long, text string",
    )
    feed = staged_dir(
        sf_dir,
        "docsv2lang_evenodd",
        lambda d: _stage_feed(
            (
                docs.filter(F.col("doc_id") % 2 == 0),
                docs.filter(F.col("doc_id") % 2 == 1),
            ),
            d,
        ),
    )
    with _maintained(
        spark,
        "streaming_curation_retrain",
        feed,
        lambda state: IncrementalCurationIndex(
            spark,
            state,
            lm_train_docs=junk,
            config=CurationConfig(
                target_lang=CURATION2_TARGET,
                min_quality=CURATION2_MIN_QUALITY,
                min_ttr=CURATION2_MIN_TTR,
                max_tbr=CURATION2_MAX_TBR,
                min_logp=CURATION2_MIN_LOGP,
                gopher_min_words=_GOPHER_MIN_WORDS,
                gopher_stopwords=_GOPHER_SW,
                gopher_min_sw_hits=GOPHER_MIN_STOPWORD_HITS,
            ),
        ),
    ) as idx:
        advice = idx.retrain_advice()
        if not advice["needs_retrain"]:
            raise AssertionError(
                "streaming_curation_retrain: the drifted-LM root must "
                f"flag retrain; got {advice}"
            )
        # retrain refuses a non-empty target: a fresh dir beside the root
        fresh = idx.retrain(os.path.join(os.path.dirname(idx.root), "fresh"))
        return (
            fresh.decisions()
            .join(d.select("doc_id", "true_lang"), "doc_id")
            .select(
                "doc_id",
                "true_lang",
                "pred_lang",
                "quality_score",
                "type_token_ratio",
                "top_bigram_ratio",
                "avg_logp",
                "passes_gopher",
                "keep",
                "reject_reason",
            )
            .localCheckpoint(eager=True)
        )


def _ingest_gate_oracle() -> str:
    # The composed admission table replays as ONE SQL composition of
    # two already-oracled chains over the same corpus: the five v1
    # signal layers gated in the monolingual (v2-reason) order — the
    # maintained curation index's ONE decision chain — with the
    # decontamination verdict composed in LAST (a curation reject keeps
    # its first-failing-gate reason; 'contaminated' fires only for
    # documents that passed every quality gate), restricted to the
    # corpus side of the id%5 eval split. Both halves are the exact
    # oracle bodies their standalone rows hash against (twelfth
    # one-oracle-for-both instance, composed rather than verbatim).
    from worker_spark.queries import _REGISTRY
    from worker_spark.queries.textops import (
        _QUALITY_SCORED_SQL,
        _contamination_oracle,
        CURATION_MAX_TBR,
        CURATION_MIN_LOGP,
        CURATION_MIN_QUALITY,
        CURATION_MIN_TTR,
    )

    lang_sql = _REGISTRY["doc_lang_id"].oracle
    rep_sql = _REGISTRY["doc_repetition_scores"].oracle
    lm_sql = _REGISTRY["doc_lm_score"].oracle
    gopher_sql = _REGISTRY["doc_gopher_rules"].oracle
    ctm_sql = _contamination_oracle()
    reason = f"""CASE
        WHEN l.pred_lang <> 'en' THEN 'non_target_lang'
        WHEN q.quality_score < {CURATION_MIN_QUALITY} THEN 'low_quality'
        WHEN r.type_token_ratio < {CURATION_MIN_TTR}
             OR r.top_bigram_ratio > {CURATION_MAX_TBR} THEN 'repetitive'
        WHEN m.avg_logp IS NULL THEN 'no_lm_support'
        WHEN m.avg_logp < {CURATION_MIN_LOGP} THEN 'lm_outlier'
        WHEN NOT g.passes_gopher THEN 'gopher_fail'
        WHEN p.doc_id IS NOT NULL THEN 'contaminated'
        ELSE 'kept' END"""
    return f"""
    SELECT d.doc_id, l.pred_lang, q.quality_score,
           r.type_token_ratio, r.top_bigram_ratio, m.avg_logp,
           g.passes_gopher,
           ({reason}) = 'kept' AS keep,
           {reason} AS reject_reason
    FROM documents d
    JOIN ({lang_sql}) l USING (doc_id)
    JOIN ({_QUALITY_SCORED_SQL}) q USING (doc_id)
    JOIN ({rep_sql}) r USING (doc_id)
    LEFT JOIN ({lm_sql}) m USING (doc_id)
    JOIN ({gopher_sql}) g USING (doc_id)
    LEFT JOIN (
        SELECT DISTINCT corpus_id AS doc_id FROM ({ctm_sql})
    ) p USING (doc_id)
    WHERE d.doc_id % 5 <> 0
    """


@register(
    "streaming_ingest_gate",
    _ingest_gate_oracle(),
    doc="Composed maintained INGEST GATE (fourth composition-seam "
    "instance): the curation index and the benchmark-decontamination "
    "screen behind ONE apply_batch — document batches arrive as files "
    "(maxFilesPerTrigger=1, availableNow) including a stale-then-"
    "corrected update, each batch drives both structures' MERGEs, and "
    "the ADMISSION table (keep iff every curation gate passes AND no "
    "live eval-set n-gram overlap; decontamination composed LAST so a "
    "curation reject keeps its first-failing-gate reason) is derived "
    "at serve time from the two maintained states. Hash-checked "
    "against the SQL composition of the two standalone oracles "
    "restricted to the corpus side of the eval split.",
)
def q_streaming_ingest_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.operators.text import GOPHER_MIN_STOPWORD_HITS
    from worker_spark.queries.textops import (
        _GOPHER_MIN_WORDS,
        _GOPHER_SW,
        CURATION_MAX_TBR,
        CURATION_MIN_LOGP,
        CURATION_MIN_QUALITY,
        CURATION_MIN_TTR,
    )
    from worker_spark.streaming.curation_index import CurationConfig
    from worker_spark.streaming.ingest_gate import StreamingIngestGate

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    co = docs.filter(F.col("doc_id") % 5 != 0)
    # Two-file feed: batch 0 the even corpus ids with a stale 40-char
    # draft for doc_id%10==6 (flips quality/Gopher/contamination);
    # batch 1 the odd ids plus the corrected drafts.
    stale = F.col("doc_id") % 10 == 6
    b0 = co.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    b1 = co.filter((F.col("doc_id") % 2 == 1) | stale)
    feed = staged_dir(
        sf_dir, "docs_gate_s10m6", lambda d: _stage_feed((b0, b1), d)
    )
    with _maintained(
        spark,
        "streaming_ingest_gate",
        feed,
        lambda state: StreamingIngestGate(
            spark,
            state,
            eval_docs=ev,
            lm_train_docs=docs,  # the offline LM corpus (eval ∪ corpus,
            # matching the batch oracle's inline training set)
            config=CurationConfig(
                target_lang="en",
                min_quality=CURATION_MIN_QUALITY,
                min_ttr=CURATION_MIN_TTR,
                max_tbr=CURATION_MAX_TBR,
                min_logp=CURATION_MIN_LOGP,
                gopher_min_words=_GOPHER_MIN_WORDS,
                gopher_stopwords=_GOPHER_SW,
                gopher_min_sw_hits=GOPHER_MIN_STOPWORD_HITS,
            ),
        ),
    ) as gate:
        return gate.admissions().localCheckpoint(eager=True)


def _streaming_theta_oracle() -> str:
    # A theta sketch is the bottom-k of the group's DISTINCT member
    # hashes — associative under inserts — so the sketch maintained
    # across micro-batches (including a re-delivered membership slice,
    # which dedups against state by hash) IS the batch sketch, and the
    # batch theta oracle's estimate block serves verbatim (one oracle,
    # two rows — the family's pattern, thirteenth instance). The exact
    # audit pass is the one part that cannot serve from O(k·groups)
    # state (it self-joins the raw corpus), so the maintained row
    # registers the estimate block alone — the batch row keeps the
    # audited surface.
    from worker_spark.queries.sketchq import theta_overlap_est_oracle

    return theta_overlap_est_oracle(
        "SELECT event_type AS g, user_id AS v FROM events "
        "WHERE user_id IS NOT NULL"
    )


@register(
    "streaming_theta_overlap",
    _streaming_theta_oracle(),
    doc="Incrementally-maintained THETA-SKETCH overlap summary (the "
    "sketch family's last batch-only member, closing it: windowed HLL/"
    "CMS, maintained quantiles, now maintained set-overlap): per-group "
    "bottom-k distinct member hashes kept as O(k·groups) bucketed "
    "state, folded per micro-batch through one bounded window over the "
    "touched groups, serving pairwise audience intersection / union / "
    "difference / Jaccard estimates with NO corpus scan and NO stored "
    "member ids. The feed is insert-only membership (the theta-sketch "
    "theoretic limit) delivered as files (maxFilesPerTrigger=1, "
    "availableNow) with a re-delivered overlap slice that hash-dedup "
    "must reduce to a no-op. Hash-checked against the batch theta "
    "oracle's estimate block verbatim.",
)
def q_streaming_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.theta_index import IncrementalThetaIndex

    e = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("g"), F.col("user_id").alias("v")
    )
    # Two-file feed: batch 0 the even event rows (by user), batch 1 the
    # odd ones PLUS a re-delivered slice of batch 0 (user%10==0 —
    # at-least-once delivery; the sketch must not double-count).
    b0 = e.filter(F.col("v") % 2 == 0)
    b1 = e.filter((F.col("v") % 2 == 1) | (F.col("v") % 10 == 0))
    feed = staged_dir(
        sf_dir, "events_theta", lambda d: _stage_feed((b0, b1), d)
    )
    with _maintained(
        spark,
        "streaming_theta_overlap",
        feed,
        lambda state: IncrementalThetaIndex(spark, state),
    ) as idx:
        return idx.overlaps().localCheckpoint(eager=True)


def _streaming_mixture_oracle() -> str:
    # The post-stream ledger is EXACTLY the batch mixture audit over
    # the live corpus: the rates pin at creation (they decide every
    # membership row's kept bit), the kept decision is the same
    # deterministic md5-bucket predicate, and the feed below converges
    # the live set to the documents table exactly (the draft doc is
    # deleted, the stale stratum corrected) — so the batch mixture
    # oracle serves VERBATIM (one oracle, two rows — fourteenth
    # instance).
    from worker_spark.queries import _REGISTRY

    return _REGISTRY["doc_mixture_report"].oracle


@register(
    "streaming_mixture_ledger",
    _streaming_mixture_oracle(),
    doc="Incrementally-maintained MIXTURE LEDGER (the sampling family's "
    "state form, and a NEW maintenance pattern for the roster: a "
    "maintained AGGREGATE, exactly-once via a journaled per-batch delta "
    "+ a single-bucket applied-batch watermark fence — aggregate deltas "
    "are not naturally idempotent, so the delta is journaled BEFORE any "
    "swap and a replay whose recomputation would be wrong uses the "
    "journaled truth). Document batches arrive as files "
    "(maxFilesPerTrigger=1, availableNow) including a stale-stratum "
    "draft that the correction batch re-files under its true stratum "
    "AND a draft document the second batch deletes; the per-stratum "
    "audit (total vs sampled rows, target vs achieved rate) is served "
    "from the ledger alone — an O(strata) read, no corpus scan. "
    "Hash-checked against the batch mixture oracle verbatim.",
)
def q_streaming_mixture_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.queries.sampleq import _DEFAULT, _RATES
    from worker_spark.streaming.mixture_ledger import IncrementalMixtureLedger

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("stratum"), "text"
    )
    stale = F.col("doc_id") % 10 == 2
    b0 = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(stale, F.lit("xx")).otherwise(F.col("stratum")).alias(
            "stratum"
        ),
        "text",
    ).unionByName(
        spark.createDataFrame(
            [(900_001, "en", "draft body to be deleted")],
            "doc_id long, stratum string, text string",
        )
    )
    b1 = (
        docs.filter((F.col("doc_id") % 2 == 1) | stale)
        .unionByName(
            spark.createDataFrame(
                [(900_001, "en", "  ")],
                "doc_id long, stratum string, text string",
            )
        )
    )
    feed = staged_dir(
        sf_dir, "docs_mixture", lambda d: _stage_feed((b0, b1), d)
    )
    with _maintained(
        spark,
        "streaming_mixture_ledger",
        feed,
        lambda state: IncrementalMixtureLedger(
            spark, state, rates=_RATES, default_rate=_DEFAULT
        ),
    ) as led:
        return led.report().localCheckpoint(eager=True)


# the registered 2-D box (user_id x epoch seconds): one January week,
# a mid-range user slice — selects a stable ~0.8% of events at any SF
_ZBOX = (40, 90, 1_704_672_000, 1_705_276_799)


def _streaming_zorder_oracle() -> str:
    # Serving is EXACT regardless of the layout (the residual predicate
    # re-applies the full box), so the oracle is the plain relational
    # box select — the maintained structure's whole value is WHERE the
    # rows were read from (bucket-pruned to the box's grid cells, the
    # tests' inputFiles assertion), not WHAT comes back. epoch idiom:
    # floor() before the BIGINT cast (DuckDB epoch() is fractional and
    # a bare cast rounds half-even while Spark unix_timestamp floors —
    # the events_zorder_layout lesson).
    u_lo, u_hi, t_lo, t_hi = _ZBOX
    return f"""
    SELECT event_id,
           CAST(user_id AS BIGINT) AS user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           event_type, value
    FROM events
    WHERE user_id BETWEEN {u_lo} AND {u_hi}
      AND CAST(floor(epoch(ts)) AS BIGINT) BETWEEN {t_lo} AND {t_hi}
    """


@register(
    "streaming_zorder_index",
    _streaming_zorder_oracle(),
    doc="Incrementally-maintained Z-ORDER LAYOUT index (Delta/Iceberg "
    "OPTIMIZE ZORDER as maintained bucketed state — the batch z-order "
    "family proves the clustering wins; this structure OWNS a layout): "
    "normalization bounds pin at creation (measured offline — the "
    "centroid-pin discipline; out-of-bounds arrivals clamp to edge "
    "cells and the relayout lifecycle handles drift), event batches "
    "arrive as files (maxFilesPerTrigger=1, availableNow) with an "
    "at-least-once re-delivered slice, each row lands in the bucket of "
    "its (user x time) grid cell, and a 2-D box query is served "
    "bucket-pruned to the cells the box intersects with an exact "
    "residual predicate. Hash-checked against the plain relational box "
    "select: the layout changes WHERE rows are read, never WHAT comes "
    "back.",
)
def q_streaming_zorder_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.streaming.zorder_index import IncrementalZOrderIndex

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").cast("long").alias("v1"),
        F.unix_timestamp("ts").alias("v2"),
        "event_type",
        "value",
    )
    # offline bounds measurement (the pin's provenance)
    b = e.agg(
        F.min("v1"), F.max("v1"), F.min("v2"), F.max("v2")
    ).collect()[0]
    bounds = (int(b[0]), int(b[1]), int(b[2]), int(b[3]))
    b0 = e.filter(F.col("event_id") % 2 == 0)
    b1 = e.filter(
        (F.col("event_id") % 2 == 1) | (F.col("event_id") % 10 == 0)
    )
    feed = staged_dir(
        sf_dir, "events_zorder", lambda d: _stage_feed((b0, b1), d)
    )
    with _maintained(
        spark,
        "streaming_zorder_index",
        feed,
        lambda state: IncrementalZOrderIndex(
            spark, state, bounds=bounds, n_buckets=64
        ),
    ) as idx:
        return (
            idx.box_query(*_ZBOX)
            .select(
                "event_id",
                F.col("v1").alias("user_id"),
                F.col("v2").alias("epoch_s"),
                "event_type",
                "value",
            )
            .localCheckpoint(eager=True)
        )
