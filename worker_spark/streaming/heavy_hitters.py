"""Incrementally-maintained Misra-Gries heavy-hitter summary: the
DETERMINISTIC mergeable frequency companion to the probabilistic CMS
sketch family (operators/sketches.py) — the eighth maintained structure
on the shared state store, and like the reservoir, one whose streaming
form is the original algorithm (Misra & Gries 1982).

Merge rule (Agarwal, Cormode, Huang, Phillips, Wei, Yi — "Mergeable
Summaries", PODS 2012, public): combine two summaries by summing
counts per key, then subtract the (k+1)-th LARGEST combined count from
every key and drop the non-positive remainder. At most k keys can
exceed the (k+1)-th largest value, so the state is bounded by k rows
after every batch; the subtracted offsets accumulate into the standard
MG error bound:

    est(x) <= true(x) <= est(x) + total_offset        for stored x
    true(x) <= total_offset                           for dropped x

so every token with true count above the accumulated offset is
GUARANTEED present — the deterministic coverage CMS cannot give
(test-pinned against exact counts).

Scale shape: each batch costs one bounded groupBy (batch vocabulary),
a merge with <= k state rows, one (k+1)-th-value lookup (a k-row
TakeOrdered — the offset scalar is the only driver value), and an O(k)
state write (the reservoir's full-replace argument verbatim: the table
IS O(k), so whole-table replace is the touched-bucket optimum). The
corpus never accumulates anywhere.

Determinism (what lets one SQL oracle replay the maintained state):
counts are exact integers, and the (k+1)-th value is taken under the
total order (cnt DESC, token ASC) — both engines agree bit-for-bit, so
the registered row's oracle replays the same per-batch fold as three
chained CTE stages. Deletions/updates are NOT supported — an MG
summary is append-only by construction (subtracting a replaced
document's counts would need the evicted history); re-deciding a
corrected corpus is a rebuild, documented rather than faked.

Exactly-once under replays: counts are ADDITIVE, so unlike the rest of
the family a re-applied batch is NOT naturally a no-op. The whole
summary therefore lives in ONE single-bucket table — counter rows plus
a SENTINEL meta row (token = "", unreachable: real tokens are filtered
non-empty) carrying the accumulated offset and the batch_id
watermark — so one bucket swap (the store's atomic unit — tmp/old
rename discipline, healed by recovery) commits counters, offset and
watermark TOGETHER, and the scalars survive even a merge that drops
EVERY counter (ties at the (k+1)-th value can empty the summary; the
review caught the denormalized-onto-counters version silently erasing
both scalars there). A crash mid-apply replays into either the full
old state (re-apply) or the full new state (skip) — never a double
count. Single-bucket is also simply the right layout: the state is
O(k) rows by construction.

Fencing is per CHECKPOINT LINEAGE: within one checkpoint, foreachBatch
ids are monotone and only the LAST batch can be re-delivered, so a
batch_id EQUAL to the watermark is a replay (skipped) while a batch_id
BELOW it can only mean a fresh checkpoint was wired to an existing
summary root — batch ids restarted, and silently skipping would lose
every batch until the counter caught up. That case raises instead:
rebuild into a fresh root or keep the original checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.streaming.feed import DOC_FEED_SCHEMA

# counter rows (token non-empty) + ONE sentinel meta row (token = "")
# carrying the scalars — a single-table, single-swap atomic commit of
# counters + offset + watermark that survives an all-counters-dropped
# merge
MG_SCHEMA = T.StructType(
    [
        T.StructField("token", T.StringType(), False),
        T.StructField("est_cnt", T.LongType(), False),
        T.StructField("total_offset", T.LongType(), False),
        T.StructField("batch_id", T.LongType(), False),
    ]
)
_SENTINEL = ""  # impossible token: batch_token_counts filters length > 0

MG_K = 32


def batch_token_counts(docs: DataFrame) -> DataFrame:
    """(token, cnt): exact lowercased whitespace-token counts of one
    batch — the same tokenization as the CMS heavy-hitter row so the
    two summaries are comparable over one corpus."""
    from worker_spark.operators.text import tokens

    return (
        docs.select(
            F.explode(tokens(F.lower(F.col("text")))).alias("token")
        )
        .filter(F.length("token") > 0)
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("est_cnt"))
    )


class StreamingHeavyHitters:
    """Misra-Gries summary maintained per micro-batch: bounded k-row
    state, deterministic estimates with the accumulated-offset bound."""

    FEED_SCHEMA = DOC_FEED_SCHEMA

    TABLE = "summary"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        k: int = MG_K,
    ):
        self.spark = spark
        self.k = k
        # ONE bucket: the state is O(k) rows, and the single-bucket swap
        # is what makes each apply an atomic commit (module docstring)
        self.store = BucketedParquetStateStore(spark, root, n_buckets=1)

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        """The foreachBatch body: exact batch counts (a batch is itself
        an error-free summary), merge with the stored counters by
        summing, subtract the (k+1)-th largest combined count, drop the
        non-positive rest, commit counters + sentinel (offset,
        watermark) in ONE single-bucket swap. ONE table read per
        trigger serves the guard, the merge and the offset; a batch_id
        equal to the watermark is a replay (skipped), below it is a
        checkpoint-lineage mismatch (raised — silently skipping would
        lose batches until the fresh checkpoint's counter caught up);
        a direct call (batch_id None) applies and keeps the watermark
        where it was (never regresses it)."""
        # lazy (r15 job-count discipline): materialized by the sentinel
        # collect just below, before the one swap
        summary = self._summary().localCheckpoint(eager=False)
        meta = summary.filter(F.col("token") == _SENTINEL).collect()
        watermark = int(meta[0]["batch_id"]) if meta else -1
        prev_total = int(meta[0]["total_offset"]) if meta else 0
        if batch_id is not None:
            if batch_id == watermark:
                return  # re-delivery of the committed batch
            if batch_id < watermark:
                raise ValueError(
                    f"{self.store.root}: batch_id {batch_id} is below "
                    f"the committed watermark {watermark} — a fresh "
                    "checkpoint was wired to an existing summary root "
                    "(foreachBatch ids restarted); MG state is fenced "
                    "per checkpoint lineage — rebuild into a fresh "
                    "root or keep the original checkpoint"
                )
        counters = summary.filter(F.col("token") != _SENTINEL).select(
            "token", "est_cnt"
        )
        counts = batch_token_counts(docs)
        merged = (
            counters.unionByName(counts)
            .groupBy("token")
            .agg(F.sum("est_cnt").alias("est_cnt"))
            # lazy: materialized by the kth collect just below
            .localCheckpoint(eager=False)
        )
        kth = (
            merged.orderBy(F.desc("est_cnt"), F.asc("token"))
            .offset(self.k)
            .limit(1)
            .collect()
        )
        offset = kth[0]["est_cnt"] if kth else 0
        total = prev_total + int(offset)
        bid = watermark if batch_id is None else int(batch_id)
        new_counters = merged.select(
            "token", (F.col("est_cnt") - F.lit(offset)).alias("est_cnt")
        ).filter(F.col("est_cnt") > 0)
        sentinel = self.spark.createDataFrame(
            [(_SENTINEL, 0, total, bid)], MG_SCHEMA
        )
        new_state = new_counters.select(
            "token",
            "est_cnt",
            F.lit(total).cast("long").alias("total_offset"),
            F.lit(bid).cast("long").alias("batch_id"),
        ).unionByName(sentinel)
        self.store.write(self.TABLE, new_state, keys=["token"])

    def _summary(self) -> DataFrame:
        return self.store.read(self.TABLE, MG_SCHEMA)

    def counters(self) -> DataFrame:
        return (
            self._summary()
            .filter(F.col("token") != _SENTINEL)
            .select("token", "est_cnt")
        )

    def _meta(self, col: str, default: int) -> int:
        rows = (
            self._summary()
            .filter(F.col("token") == _SENTINEL)
            .select(col)
            .collect()
        )
        return int(rows[0][col]) if rows else default

    def total_offset(self) -> int:
        """The accumulated subtraction — the summary's error radius:
        any token's true count exceeds its estimate by at most this,
        and any token NOT stored has true count at most this. Read
        from the sentinel row, so it survives a merge that drops every
        counter."""
        return self._meta("total_offset", 0)

    def last_batch_id(self) -> int:
        """The replay watermark: the highest batch_id committed into
        the summary (-1 before the first batch; direct calls keep it
        unchanged)."""
        return self._meta("batch_id", -1)
