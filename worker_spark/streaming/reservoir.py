"""Incrementally-maintained weighted RESERVOIR: continuous ppswor
sampling of a document stream with O(k) state — the seventh maintained
structure on the shared state store, and the one whose streaming form
is the ORIGINAL algorithm: A-ES (Efraimidis & Spirakis, IPL 2006) was
published as a one-pass reservoir; the batch operator in
operators/sampling.py is its distributed TakeOrdered reformulation.
This module closes the loop — the reservoir maintained across
micro-batches equals the batch top-k over the union corpus exactly,
because the A-ES key is a PURE per-row expression (integer micros from
the md5-prefix integer: no RNG state, no pass order), and top-k is
associative: top_k(state ∪ batch) == top_k(corpus).

State: ONE table of at most k rows. Maintenance rewrites it whole each
batch — deliberately: the state is O(k) by construction, so a full
rewrite IS the touched-bucket optimum (bucket-scoped MERGE machinery
would add jobs to save bytes that don't exist). That bound is the
entire point of reservoir sampling at 100 TB: the corpus never
accumulates anywhere, each trigger costs O(batch) scoring (map-only
expressions) + a k-row TakeOrdered + an O(k) write.

Update/delete semantics (the MERGE contract the other indexes set):
* a re-arriving doc_id REPLACES its reservoir entry (its weight — and
  so its rank — may have changed);
* an empty-text re-arrival is a delete: weight 0 fails the w > 0
  precondition and the old entry is dropped.
Bounded-state honesty: a reservoir cannot resurrect an item it already
evicted, so a delete or a weight-SHRINKING update can leave fewer than
k rows until new arrivals refill (fundamental to O(k) sampling state,
not a defect — documented and test-pinned). Weight-GROWING corrections
(the registered feed's stale-draft shape: a truncated draft's
length-weight is <= the canonical one) are monotone promotions and
provably converge to the batch sample: if the draft out-ranked an item
so does the correction, and replacement on re-arrival handles the
draft's own slot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.operators.sampling import WEIGHTED_SAMPLE_K, aes_scored
from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.streaming.feed import DOC_FEED_SCHEMA

RESERVOIR_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("weight", T.LongType(), False),
        T.StructField("aes_key_micros", T.LongType(), False),
    ]
)


class StreamingReservoir:
    """A-ES weighted reservoir maintained per micro-batch: bounded O(k)
    state, exact ppswor sample of everything ever streamed through."""

    FEED_SCHEMA = DOC_FEED_SCHEMA

    TABLE = "reservoir"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        k: int = WEIGHTED_SAMPLE_K,
        n_buckets: int = 4,
    ):
        self.spark = spark
        self.k = k
        self.store = BucketedParquetStateStore(spark, root, n_buckets)

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        """The foreachBatch body: score the batch with the exact shared
        A-ES key, merge with the current reservoir (a re-arriving key's
        old entry is dropped first — last write wins across batches,
        feed.last_wins within one), keep the global top-k. A replayed
        batch re-derives identical keys, so replays are no-ops."""
        from worker_spark.streaming.feed import batch_doc_ids, last_wins

        batch = last_wins(
            docs.select(
                F.col("doc_id").cast("long").alias("doc_id"), "text"
            ),
            ["doc_id"],
        )
        # lazy (r15 job-count discipline): both are materialized by
        # the write's touched-bucket collect, before the one swap
        scored = aes_scored(batch).localCheckpoint(eager=False)
        batch_ids = batch_doc_ids(docs)
        state = self.reservoir().join(batch_ids, "doc_id", "left_anti")
        merged = state.withColumn(
            "_r",
            F.col("aes_key_micros").cast("double")
            / F.col("weight").cast("double"),
        ).unionByName(scored)
        top = (
            merged.orderBy(F.desc("_r"), F.asc("doc_id"))
            .limit(self.k)
            .select("doc_id", "weight", "aes_key_micros")
        )
        # full replace: the table is O(k) rows by construction, so the
        # whole-table write IS the touched-bucket optimum (module doc)
        self.store.write(self.TABLE, top, keys=["doc_id"])

    def reservoir(self) -> DataFrame:
        return self.store.read(self.TABLE, RESERVOIR_SCHEMA)


STRAT_RESERVOIR_SCHEMA = T.StructType(
    [
        T.StructField("stratum", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("weight", T.LongType(), False),
        T.StructField("aes_key_micros", T.LongType(), False),
    ]
)


class StreamingStratifiedReservoir:
    """Per-stratum A-ES reservoir: continuous ppswor sampling with an
    independent k-row reservoir PER STRATUM (the per-source caps a
    mixture pipeline maintains) — O(k x strata) state on the flat
    reservoir's core and convergence argument (the key is a pure
    per-row expression; per-stratum top-k is associative per stratum).

    Scale note: the per-group top-k deliberately avoids a
    Window.partitionBy(stratum) over the raw batch — a mega-stratum
    would funnel into one task (the hot-key hazard quota_sample's
    docstring warns about). sampling.grouped_topk runs the reduction in
    two balanced stages (salted local top-k, then top-k over the
    <= salts*k survivors), exact by construction."""

    # column order is part of the replay contract (feed.last_wins)
    FEED_SCHEMA = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("stratum", T.StringType(), True),
        ]
    )

    TABLE = "strat_reservoir"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        k: int = 20,
        n_buckets: int = 4,
    ):
        self.spark = spark
        self.k = k
        self.store = BucketedParquetStateStore(spark, root, n_buckets)

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        """Score the batch with the exact shared A-ES key, carry each
        row's stratum through, merge with the current reservoirs
        (re-arriving ids drop their old entry first — a document that
        CHANGES stratum moves reservoirs) and keep k per stratum.
        Replays are no-ops (the flat reservoir's argument per
        stratum)."""
        from worker_spark.operators.sampling import grouped_topk
        from worker_spark.streaming.feed import batch_doc_ids, last_wins

        batch = last_wins(
            docs.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                "text",
                F.col("stratum").cast("string").alias("stratum"),
            ),
            ["doc_id"],
        )
        # lazy (r15 job-count discipline): both are materialized by
        # the write's touched-bucket collect, before the one swap
        scored = (
            aes_scored(batch.select("doc_id", "text"))
            .join(batch.select("doc_id", "stratum"), "doc_id")
            .localCheckpoint(eager=False)
        )
        batch_ids = batch_doc_ids(docs)
        state = self.reservoirs().join(batch_ids, "doc_id", "left_anti")
        merged = state.withColumn(
            "_r",
            F.col("aes_key_micros").cast("double")
            / F.col("weight").cast("double"),
        ).unionByName(scored.select("stratum", "doc_id", "weight",
                                    "aes_key_micros", "_r"))
        top = grouped_topk(
            merged,
            "stratum",
            [F.desc("_r"), F.asc("doc_id")],
            self.k,
        ).select("stratum", "doc_id", "weight", "aes_key_micros")
        # full replace: state is O(k x strata) rows by construction
        self.store.write(self.TABLE, top, keys=["doc_id"])

    def reservoirs(self) -> DataFrame:
        return self.store.read(self.TABLE, STRAT_RESERVOIR_SCHEMA)
