"""Composed maintained INGEST GATE: the fourth composition-seam
instance — the curation index and the benchmark-decontamination screen
behind one apply_batch, serving the ADMISSION table a training-data
pipeline actually gates ingestion on: keep iff every curation gate
passes AND the document shares no eval-set n-grams.

This closes the admission story the two structures tell separately:
curation answers "is this document worth training on", the screen
answers "would training on it leak the benchmark" — production
pipelines (FineWeb/RefinedWeb-shaped) apply BOTH before a document
reaches the mix, decontamination last (a rejected document's
contamination is moot; the curation chain's first-failing-gate reason
is preserved and 'contaminated' fires only for documents that passed
every quality gate).

Composition shape (the dedup-pipeline seam, applied to admission):

* one batch drives both structures' MERGEs — the curation side
  re-decides exactly the batch under its pinned LM/thresholds, the
  screen side replaces the batch's postings and tracks df-cap
  crossings; each sub-structure keeps its own crash-order and journal
  discipline, so a torn composed batch replays component-wise to
  convergence (both apply_batch bodies are idempotent per batch_id);
* the admission verdict is DERIVED AT SERVE TIME from the two
  maintained tables (decisions × distinct contaminated ids) — nothing
  is double-stored, so a df-cap crossing that re-prices a stored pair
  (or a retrain that re-derives decisions) flows into admissions()
  with no third table to invalidate.

Both sub-structures inherit their own lifecycles: the curation side's
retrain_advice/retrain (blue/green LM refresh from retained texts) and
the screen's pre-ingest screen_batch remain callable on the composed
root's sub-indexes.

Scale shape at 100 TB: per batch O(batch) gate compute + O(batch
shingles) screen work + O(touched buckets) rewrite on both sides;
serving is one distinct + one per-doc equi-join over maintained state.
No cartesian, no corpus re-scan, no driver collect beyond the stores'
bounded bucket-id lists.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from worker_spark.streaming.contamination_index import (
    IncrementalContaminationScreen,
)
from worker_spark.streaming.curation_index import (
    CurationConfig,
    IncrementalCurationIndex,
)
from worker_spark.streaming.feed import DOC_FEED_SCHEMA


class StreamingIngestGate:
    """Curation + decontamination composed behind one apply_batch; the
    admission table served from the two maintained states."""

    FEED_SCHEMA = DOC_FEED_SCHEMA

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        eval_docs: DataFrame | None = None,
        lm_train_docs: DataFrame | None = None,
        config: CurationConfig | None = None,
        n: int = 5,
        min_shared: int = 2,
        df_cap: int = 1000,
        n_buckets: int = 16,
    ):
        self.spark = spark
        # the two sub-structures are INDEPENDENT (separate state roots,
        # separate pins), so their creation jobs — the curation side's
        # LM training, the screen side's eval-set shingling — overlap
        # on the scheduler instead of serializing (the Spark guide's
        # overlap-independent-jobs discipline): wall time = the slower
        # creation, not the sum. Each root keeps its own crash story —
        # a crash mid-create replays whichever side's witness is absent.
        # each side's jobs keep the caller's job group and description;
        # every wrap takes its own copy of the local properties, which
        # two threads must not share
        with ThreadPoolExecutor(max_workers=2) as pool:
            fc = pool.submit(
                inheritable_thread_target(spark)(IncrementalCurationIndex),
                spark,
                os.path.join(root, "curation"),
                lm_train_docs=lm_train_docs,
                config=config,
                n_buckets=n_buckets,
            )
            fs = pool.submit(
                inheritable_thread_target(spark)(IncrementalContaminationScreen),
                spark,
                os.path.join(root, "screen"),
                eval_docs=eval_docs,
                n=n,
                min_shared=min_shared,
                df_cap=df_cap,
                n_buckets=n_buckets,
            )
            self.curation = fc.result()
            self.screen = fs.result()

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        from worker_spark.streaming.feed import last_wins

        # one winner per key BEFORE either side sees the batch (both
        # apply the same reduction internally — this just avoids paying
        # the feed scan twice for the dedup)
        batch = last_wins(
            docs.select(
                F.col("doc_id").cast("long").alias("doc_id"), "text"
            ),
            ["doc_id"],
        ).localCheckpoint(eager=True)
        # the two MERGEs touch disjoint state roots and read only the
        # checkpointed batch, so they overlap (the creation-path
        # argument above, per batch): wall = the slower side. Each
        # side's INTERNAL crash order is untouched — it runs unchanged
        # inside its own thread — and the composed replay contract is
        # the same as sequential: whichever side tore, replaying the
        # batch_id re-applies both idempotently.
        with ThreadPoolExecutor(max_workers=2) as pool:
            fc = pool.submit(
                inheritable_thread_target(self.spark)(self.curation.apply_batch),
                batch,
                batch_id=batch_id,
            )
            fs = pool.submit(
                inheritable_thread_target(self.spark)(self.screen.apply_batch),
                batch,
                batch_id=batch_id,
            )
            fc.result()
            fs.result()

    # --- read side --------------------------------------------------------

    def contaminated_ids(self) -> DataFrame:
        """(doc_id): corpus documents currently holding >= min_shared
        live shared n-grams with the pinned eval set."""
        return (
            self.screen.pairs()
            .select(F.col("corpus_id").alias("doc_id"))
            .distinct()
        )

    def admissions(self) -> DataFrame:
        """The admission table from maintained state alone: the
        curation decision columns with the decontamination verdict
        composed in LAST — a curation reject keeps its first-failing-
        gate reason, a curation keep with a live contamination pair
        becomes (keep=false, 'contaminated')."""
        d = self.curation.decisions()
        ctm = self.contaminated_ids().withColumn("_ctm", F.lit(True))
        reason = (
            F.when(F.col("reject_reason") != "kept", F.col("reject_reason"))
            .when(F.col("_ctm"), F.lit("contaminated"))
            .otherwise(F.lit("kept"))
        )
        return d.join(ctm, "doc_id", "left").select(
            "doc_id",
            "pred_lang",
            "quality_score",
            "type_token_ratio",
            "top_bigram_ratio",
            "avg_logp",
            "passes_gopher",
            (reason == "kept").alias("keep"),
            reason.alias("reject_reason"),
        )

    def admitted_ids(self) -> DataFrame:
        """(doc_id): the current training-set membership under BOTH
        gates — the table a downstream mixture/packing stage consumes."""
        return self.admissions().filter(F.col("keep")).select("doc_id")

    def dashboard(self) -> DataFrame:
        """(reject_reason, n_docs): the full admission funnel —
        curation reasons plus the 'contaminated' tail — with no corpus
        scan."""
        return self.admissions().groupBy("reject_reason").agg(
            F.count(F.lit(1)).alias("n_docs")
        )

    def fsck(self) -> dict[str, int]:
        counts = {
            f"curation.{k}": v for k, v in self.curation.fsck().items()
        }
        counts.update(
            {f"screen.{k}": v for k, v in self.screen.fsck().items()}
        )
        return counts
