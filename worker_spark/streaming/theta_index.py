"""Incrementally-maintained THETA-SKETCH overlap summary: the
fourteenth maintained structure on the shared bucketed-state MERGE core
(NOTES r13 roadmap — the overlap twin of the quantile index, closing
the sketch family: HLL and CMS have streaming window forms, quantiles
got maintained state in r13, set-overlap was the last batch-only
member). The reference keeps per-dictionary article-id sets and diffs
them pairwise in memory (src/sync_service.rs overlap accounting); at
100 TB per-segment audiences cannot be materialized as sets, and
re-sketching the corpus per run is what this structure amortizes.

Why this maintains EXACTLY: a theta sketch is the bottom-k of the
group's DISTINCT member hashes — a pure function of the member SET —
and distinct-bottom-k is associative: bottom_k(distinct(bottom_k(A) ∪
B)) = bottom_k(distinct(A ∪ B)). Folding each batch into the stored
rows reproduces the batch sketch bit-for-bit, so pair estimates served
from state replay the batch theta oracle's estimate block verbatim
(one oracle, two rows — the family's pattern). The estimator is
LITERALLY the batch operator's: serving rebuilds the (g, arr, theta)
frame from stored rows and prices it through
sketches.theta_pair_estimates.

Feed contract — INSERT-ONLY membership (the sketch-theoretic limit,
not an implementation shortcut: a theta sketch cannot un-see a member,
exactly as in the DataSketches library). Re-observing a member is a
natural no-op (same hash, distinct state); deletes would need the
full member sets this structure exists to avoid.

State tables (root, n_buckets):

* ``ths``   (g, hv) — bucketed by G: the per-group bottom-k distinct
  member hashes, ≤ k rows per group ALWAYS (O(k·groups) total,
  regardless of member cardinality). hv is the md5-prefix-32 of the
  member — the member itself is never stored (the privacy-friendly
  property real audience systems rely on).
* ``config`` one-row pin (k) — k decides which hashes are in state;
  reopening with a different k is refused loudly.

Maintenance is one bounded window over the touched groups (≤ k state
rows + batch distinct hashes per partition). Serving is O(k·groups)
read + a broadcast pair join over G sketch rows — segment-scale G
(event types, languages, sources), never key-scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.operators.sketches import (
    KMV_K,
    md5_prefix32,
    theta_of,
    theta_pair_estimates,
)
from worker_spark.plans.bucketed_state import BucketedParquetStateStore

THS_SCHEMA = T.StructType(
    [
        T.StructField("g", T.StringType(), False),
        T.StructField("hv", T.LongType(), False),
    ]
)
CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("config_id", T.LongType(), False),
        T.StructField("k", T.LongType(), False),
    ]
)


class IncrementalThetaIndex:
    """Materialized per-group theta sketches with per-batch
    bucket-scoped MERGE maintenance; pair overlap estimates served
    from state equal the batch theta_set_ops estimates exactly."""

    # v's type is part of the contract: the member hash is md5 of the
    # value as fed
    FEED_SCHEMA = T.StructType(
        [
            T.StructField("g", T.StringType(), True),
            T.StructField("v", T.LongType(), True),
        ]
    )

    THS = "ths"
    CONFIG = "config"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        k: int = KMV_K,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.root = root
        self.store = BucketedParquetStateStore(spark, root, n_buckets)
        if self.store.has_schema_witness(self.CONFIG):
            row = self.store.read(self.CONFIG, CONFIG_SCHEMA).collect()[0]
            if row["k"] != k:
                raise ValueError(
                    f"{root}: sketch state was built with k={row['k']}, "
                    f"reopened with k={k} — k decides which hashes are "
                    "in state (hashes beyond the old k were evicted and "
                    "are unrecoverable); rebuild into a fresh root to "
                    "resize"
                )
        else:
            self.store.write(
                self.CONFIG,
                self.spark.createDataFrame([(0, int(k))], CONFIG_SCHEMA),
                keys=["config_id"],
            )
        self.k = int(k)

    # --- maintenance ----------------------------------------------------

    def apply_batch(
        self,
        rows: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        """The foreachBatch body: fold the batch's distinct member
        hashes into each touched group's bottom-k. Same hash + NULL
        filter as the batch operator; re-observed members dedup against
        state naturally (same hash), so at-least-once re-delivery and
        replay converge. Single table — torn batches are trivially
        replay-safe."""
        batch = (
            rows.select(
                F.col("g").cast("string").alias("g"),
                md5_prefix32(F.col("v")).alias("hv"),
            )
            .filter(F.col("hv").isNotNull())
            .dropDuplicates(["g", "hv"])
            # lazy (r15 job-count discipline): batch and groups are both
            # materialized by the gb collect, before the one swap
            .localCheckpoint(eager=False)
        )
        groups = batch.select("g").distinct().localCheckpoint(eager=False)
        gb = self.store.touched_buckets(groups, "g")
        if not gb:
            return
        state = self.store.read(self.THS, THS_SCHEMA, buckets=gb).join(
            groups, "g", "left_semi"
        )
        merged = state.unionByName(batch).dropDuplicates(["g", "hv"])
        # bounded window: ≤ k state rows + batch distinct hashes
        w = Window.partitionBy("g").orderBy("hv")
        kept = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.k)
            .drop("_rn")
        )
        self.store.delete_then_insert(
            self.THS,
            delete_keys=groups,
            inserts=kept,
            schema=THS_SCHEMA,
            bucket_col="g",
            delete_on="g",
            touched=gb,
        )

    # --- read side --------------------------------------------------------

    def sample(self) -> DataFrame:
        return self.store.read(self.THS, THS_SCHEMA)

    def sketches(self) -> DataFrame:
        """(g, arr, theta) — the batch theta_sketches frame rebuilt
        from maintained state alone (arr is distinct-sorted by
        construction; theta via the shared theta_of rule)."""
        return (
            self.sample()
            .groupBy("g")
            .agg(F.array_sort(F.collect_list("hv")).alias("arr"))
            .select("g", "arr", theta_of(self.k))
        )

    def overlaps(self) -> DataFrame:
        """(group_a, group_b, inter/union/diff/jaccard estimates) for
        every group pair, priced through the batch operator's
        theta_pair_estimates expression — no corpus scan, no exact
        join."""
        return theta_pair_estimates(self.sketches())

    def fsck(self) -> dict[str, int]:
        """Layout for both tables, then the bounded-state invariant:
        no group may hold more than k hashes, and (g, hv) must be
        unique. Raises on violation; returns checked counts."""
        counts = {
            t: self.store.verify_layout(t)
            for t in (self.THS, self.CONFIG)
        }
        bad = (
            self.sample()
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct("hv").alias("n_hashes"),
            )
            .filter(
                (F.col("n_rows") > self.k)
                | (F.col("n_rows") != F.col("n_hashes"))
            )
            .limit(1)
            .collect()
        )
        if bad:
            r = bad[0]
            raise RuntimeError(
                f"{self.root}: group {r['g']!r} violates the bounded-"
                f"sketch invariant (rows={r['n_rows']}, distinct="
                f"{r['n_hashes']}, k={self.k}) — reseed or replay"
            )
        return counts
