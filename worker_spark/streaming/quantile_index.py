"""Incrementally-maintained MERGEABLE QUANTILE summary: the thirteenth
maintained structure on the shared bucketed-state MERGE core (VERDICT
r12 item 4 — the sketch family had streaming HLL and CMS but quantiles
were batch-only: operators/sketches.quantile_sketch re-sampled the
whole corpus per run). The reference's add-or-replace index sink
discipline (src/indexing.rs:61-115) applied to a per-group bottom-k
rank sample.

Why this maintains EXACTLY (not approximately-on-top-of-approximate):
the batch sketch is a pure function of the row SET — per group, the k
rows with the smallest (md5-prefix-32(key), value) pairs — and bottom-k
is associative: bottom_k(bottom_k(A) ∪ B) = bottom_k(A ∪ B). So
keeping the current bottom-k rows as state and folding each batch in
reproduces the batch sketch over the union bit-for-bit, which is what
lets the registered streaming row reuse the batch quantile oracle's
estimate block verbatim (one oracle, two rows — the family's pattern).
Classical KLL compaction could NOT be maintained this way: its
compaction decisions depend on merge order, so streamed state would
diverge (validly, but unverifiably) from any single-threaded oracle.

Feed contract — APPEND-ONLY, IMMUTABLE rows (events, not documents):
a key is never re-delivered with a different value (re-delivery of the
identical row is fine — at-least-once delivery dedups on the key).
This is what makes eviction sound: a row dropped from the bottom-k can
never need to come back, because the k-th smallest (hash, value) pair
only ever decreases as rows accumulate. Updates/deletes would break
that (evicted rows beyond k are unrecoverable) — a mutable-value feed
needs the full-value state of the other indexes, not a sketch.

State tables (root, n_buckets):

* ``smp``    (g, kid, hv, v) — bucketed by G: the per-group bottom-k
  sample, ≤ k rows per group ALWAYS (the bounded-state pin: O(k·groups)
  total, regardless of corpus size). kid is kept so at-least-once
  re-delivery anti-joins to a no-op and replay converges.
* ``config`` one-row pin (k) — k decides which rows are IN state;
  reopening with a different k is refused loudly (the curation-index
  convention).

Maintenance is one window over the touched groups only: state rows for
the batch's groups (bucket-pruned read) ∪ the batch rows, ranked by
(hv, v, kid) and cut at k — each partition holds ≤ k + batch rows, so
the window is bounded no matter how large the group's history. Ties at
the cut share identical (hv, v), so the kid tiebreak changes which ROW
survives but never which VALUE multiset is kept — estimates are
tiebreak-invariant, which is why serving still matches the batch
operator (whose slice cuts ties arbitrarily).

Serving reuses the batch operator's rank_estimates expression on the
stored sample — O(k·groups) read, never a corpus scan. Groups with
n ≤ k are exact; sampled groups carry the O(sqrt(ln(1/d)/k)) rank
error documented on the batch operator.

Scale shape at 100 TB: per batch O(batch) hash+filter, one bounded
window over ≤ (k + batch) rows per touched group, O(touched buckets)
rewrite. Serving never touches the corpus. No cartesian, no driver
collect beyond bounded bucket-id lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.operators.sketches import (
    QSK_K,
    md5_prefix32,
    rank_estimates,
)
from worker_spark.plans.bucketed_state import BucketedParquetStateStore

SMP_SCHEMA = T.StructType(
    [
        T.StructField("g", T.StringType(), False),
        T.StructField("kid", T.StringType(), False),
        T.StructField("hv", T.LongType(), False),
        T.StructField("v", T.DoubleType(), False),
    ]
)
CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("config_id", T.LongType(), False),
        T.StructField("k", T.LongType(), False),
    ]
)


class IncrementalQuantileIndex:
    """Materialized per-group bottom-k quantile sample with per-batch
    bucket-scoped MERGE maintenance; estimates served from state equal
    the batch sketch over the full streamed history exactly."""

    # kid's type is part of the contract: the sample hash is md5 of
    # the key as fed
    FEED_SCHEMA = T.StructType(
        [
            T.StructField("g", T.StringType(), True),
            T.StructField("kid", T.LongType(), True),
            T.StructField("v", T.DoubleType(), True),
        ]
    )

    SMP = "smp"
    CONFIG = "config"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        k: int = QSK_K,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.root = root
        self.store = BucketedParquetStateStore(spark, root, n_buckets)
        if self.store.has_schema_witness(self.CONFIG):
            row = self.store.read(self.CONFIG, CONFIG_SCHEMA).collect()[0]
            if row["k"] != k:
                raise ValueError(
                    f"{root}: sample state was built with k={row['k']}, "
                    f"reopened with k={k} — k decides which rows are in "
                    "state (rows beyond the old k were evicted and are "
                    "unrecoverable); rebuild into a fresh root to resize"
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
        """The foreachBatch body: fold the batch into each touched
        group's bottom-k. Same row filters as the batch operator (NULL/
        NaN values and NULL keys excluded — md5(NULL) would bias the
        sample, see quantile_sketch); at-least-once re-delivery of an
        identical row anti-joins to a no-op, so replay converges. The
        single ``smp`` table makes torn batches trivially replay-safe:
        delete-then-insert per group bucket, derived from pre-swap state
        ∖ batch keys ∪ batch rows."""
        batch = (
            rows.filter(
                F.col("v").isNotNull() & ~F.isnan(F.col("v").cast("double"))
            )
            .select(
                F.col("g").cast("string").alias("g"),
                F.col("kid").cast("string").alias("kid"),
                md5_prefix32(F.col("kid")).alias("hv"),
                F.col("v").cast("double").alias("v"),
            )
            .filter(F.col("hv").isNotNull())
            # within-batch re-delivery dedup (rows are immutable, so
            # every copy is identical and any winner is THE row)
            .dropDuplicates(["g", "kid"])
            # lazy (r15 job-count discipline): batch and groups are both
            # materialized by the gb collect, before the one swap
            .localCheckpoint(eager=False)
        )
        groups = batch.select("g").distinct().localCheckpoint(eager=False)
        gb = self.store.touched_buckets(groups, "g")
        if not gb:
            return
        state = self.store.read(self.SMP, SMP_SCHEMA, buckets=gb).join(
            groups, "g", "left_semi"
        )
        merged = state.join(
            batch.select("g", "kid"), ["g", "kid"], "left_anti"
        ).unionByName(batch)
        # bounded window: ≤ k state rows + batch rows per partition
        w = Window.partitionBy("g").orderBy("hv", "v", "kid")
        kept = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= self.k)
            .drop("_rn")
        )
        self.store.delete_then_insert(
            self.SMP,
            delete_keys=groups,
            inserts=kept,
            schema=SMP_SCHEMA,
            bucket_col="g",
            delete_on="g",
            touched=gb,
        )

    # --- read side --------------------------------------------------------

    def sample(self) -> DataFrame:
        return self.store.read(self.SMP, SMP_SCHEMA)

    def estimates(
        self,
        quantiles: tuple[tuple[int, int, str], ...] = (
            (1, 2, "p50"),
            (9, 10, "p90"),
            (99, 100, "p99"),
        ),
    ) -> DataFrame:
        """(g, m, <label>_est...) from maintained state alone — the
        batch quantile_sketch over the full streamed history, priced
        through the SAME rank_estimates expression. O(k·groups), no
        corpus scan."""
        sampled = self.sample().groupBy("g").agg(
            F.count(F.lit(1)).alias("m"),
            F.array_sort(F.collect_list("v")).alias("_vs"),
        )
        return rank_estimates(sampled, ["g"], quantiles)

    def fsck(self) -> dict[str, int]:
        """Layout for both tables, then the bounded-state invariant:
        no group may hold more than k sample rows, and (g, kid) must be
        unique. Raises on violation; returns checked counts."""
        counts = {
            t: self.store.verify_layout(t)
            for t in (self.SMP, self.CONFIG)
        }
        bad = (
            self.sample()
            .groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct("kid").alias("n_keys"),
            )
            .filter(
                (F.col("n_rows") > self.k)
                | (F.col("n_rows") != F.col("n_keys"))
            )
            .limit(1)
            .collect()
        )
        if bad:
            r = bad[0]
            raise RuntimeError(
                f"{self.root}: group {r['g']!r} violates the bounded-"
                f"sample invariant (rows={r['n_rows']}, distinct keys="
                f"{r['n_keys']}, k={self.k}) — reseed or replay"
            )
        return counts
