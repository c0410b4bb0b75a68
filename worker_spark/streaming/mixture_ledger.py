"""Incrementally-maintained MIXTURE LEDGER: the fifteenth maintained
structure — the sampling family's state form. A training-data pipeline
mixes strata (languages, sources) under pinned per-stratum rates; the
mixture AUDIT (total vs sampled rows, target vs achieved rate per
stratum) is re-scanned from the corpus per run by the batch operator
(operators/sampling.mixture_report). This structure keeps that audit
current per ingest batch and serves it as an O(strata) read — the
dashboard a mixing stage consults before admitting the next tranche.

This is a NEW maintenance pattern for the roster: every prior structure
stores per-key ROWS and replays by keyed delete-then-insert; the ledger
maintains an AGGREGATE, and aggregate deltas are NOT naturally
idempotent — re-applying a torn batch's delta double-counts. Two
devices make it exactly-once, both inherited from the family:

* the per-batch DELTA IS JOURNALED before any swap (the
  components/contamination scope-journal device applied to values):
  the delta is a function of (batch, PRE-batch membership), so a
  replay that recomputed it against the already-swapped membership
  would read zero — the journaled copy is the truth for that batch_id;
* the ledger row-set carries an APPLIED-BATCH WATERMARK and lives in a
  SINGLE bucket (strata are segment-scale, and the journal tables'
  constant-key idiom makes the whole-ledger swap one atomic rename —
  the Misra-Gries exactly-once fence): a replay whose batch_id is
  already at-or-below the watermark skips the ledger apply entirely.

Declared order: one transaction swaps journal (atomic single-bucket) →
mem (keyed delete-then-insert — idempotent); the ledger (atomic
single-bucket, fenced) is its own write after it. Every tear point
replays to convergence: crash-after-journal / crash-after-mem → replay
uses the JOURNALED delta (recomputation is wrong exactly when mem
already swapped) and the fence admits the apply once;
crash-after-ledger → fence skips.

State tables (root, n_buckets):

* ``mem``  (doc_id, stratum, kept) — bucketed by DOC_ID: the per-doc
  assignment manifest. ``kept`` is the SAME deterministic decision the
  batch sampler makes (md5-bucket < stratum threshold); an updated
  document's old stratum is recoverable only from here, which is what
  lets the delta subtract it.
* ``led``  (lkey, stratum, total_rows, sampled_rows, applied_batch) —
  constant-key single bucket: the aggregate, one row per ever-seen
  stratum (empty strata keep explicit zero rows internally; the report
  filters them, matching the batch operator's group-by semantics).
* ``journal`` (jkey, batch_id, stratum, d_total, d_sampled) —
  constant-key single bucket, replaced per batch.
* ``config``  (stratum, rate) rows + a default-rate row — pinned at
  creation: the rates decide ``kept`` for every membership row, so
  reopening with different rates is refused loudly (re-rate into a
  fresh root — the curation-threshold discipline).

Convergence contract (pinned by tests): streaming the corpus through
apply_batch — including stale-then-corrected stratum flips and deletes
— yields a ``report()`` EXACTLY equal to
operators/sampling.mixture_report over the live corpus, which is what
lets the registered streaming row reuse the batch mixture oracle
verbatim (one oracle, two rows — the family's pattern).

Scale shape at 100 TB: per batch O(batch) decision compute + O(touched
doc buckets) mem rewrite + two single-file swaps; serving reads one
tiny file. No corpus scan anywhere after creation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.operators.sampling import (
    _threshold_col,
    strat_bucket,
)
from worker_spark.plans.bucketed_state import (
    BucketedParquetStateStore,
    local_frame,
)

MEM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("stratum", T.StringType(), False),
        T.StructField("kept", T.BooleanType(), False),
    ]
)
LED_SCHEMA = T.StructType(
    [
        T.StructField("lkey", T.LongType(), False),
        T.StructField("stratum", T.StringType(), False),
        T.StructField("total_rows", T.LongType(), False),
        T.StructField("sampled_rows", T.LongType(), False),
        T.StructField("applied_batch", T.LongType(), True),
    ]
)
JOURNAL_SCHEMA = T.StructType(
    [
        T.StructField("jkey", T.LongType(), False),
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("stratum", T.StringType(), False),
        T.StructField("d_total", T.LongType(), False),
        T.StructField("d_sampled", T.LongType(), False),
    ]
)
CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("stratum", T.StringType(), True),  # NULL = default
        T.StructField("rate", T.DoubleType(), False),
    ]
)


class IncrementalMixtureLedger:
    """Materialized per-stratum mixture audit with journaled-delta,
    watermark-fenced exactly-once maintenance."""

    # column order is part of the replay contract (feed.last_wins)
    FEED_SCHEMA = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), True),
            T.StructField("stratum", T.StringType(), True),
            T.StructField("text", T.StringType(), True),
        ]
    )

    MEM = "mem"
    LED = "led"
    JOURNAL = "journal"
    CONFIG = "config"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        rates: dict[str, float] | None = None,
        default_rate: float = 1.0,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.root = root
        self.store = BucketedParquetStateStore(spark, root, n_buckets)
        if self.store.has_schema_witness(self.CONFIG):
            rows = self.store.read(self.CONFIG, CONFIG_SCHEMA).collect()
            pinned = {
                r["stratum"]: r["rate"] for r in rows if r["stratum"] is not None
            }
            pinned_default = next(
                r["rate"] for r in rows if r["stratum"] is None
            )
            if rates is not None and (
                {k: float(v) for k, v in rates.items()} != pinned
                or float(default_rate) != pinned_default
            ):
                raise ValueError(
                    f"{root}: ledger state was built under rates="
                    f"{pinned} default={pinned_default}, reopened with "
                    f"{rates} default={default_rate} — the rates decide "
                    "every membership row's kept bit; re-rate into a "
                    "fresh root"
                )
            self.rates, self.default_rate = pinned, pinned_default
        else:
            if rates is None:
                raise ValueError(
                    f"{root}: a new mixture ledger needs its rates "
                    "(the pinned per-stratum sampling policy)"
                )
            cfg = [(k, float(v)) for k, v in sorted(rates.items())] + [
                (None, float(default_rate))
            ]
            self.store.write(
                self.CONFIG,
                self.spark.createDataFrame(cfg, CONFIG_SCHEMA),
                keys=["stratum"],
            )
            self.rates = {k: float(v) for k, v in rates.items()}
            self.default_rate = float(default_rate)

    # --- maintenance ----------------------------------------------------

    def _decide(self, live: DataFrame) -> DataFrame:
        """(doc_id, stratum, kept) for live batch rows — the SAME
        deterministic decision as the batch sampler (one helper, two
        call sites)."""
        thr = _threshold_col(
            F.col("stratum"), self.rates, self.default_rate
        )
        return live.select(
            "doc_id",
            "stratum",
            (strat_bucket(F.col("doc_id")) < thr).alias("kept"),
        )

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        """The foreachBatch body. An empty/whitespace ``text`` is the
        delete marker (family convention); an update that moves a doc
        between strata subtracts from the old stratum and adds to the
        new via the mem diff. Without a batch_id (direct calls) the
        delta applies unfenced — stream wiring always passes one."""
        from worker_spark.streaming.feed import has_text, last_wins

        store = self.store
        batch = last_wins(
            docs.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                F.col("stratum").cast("string").alias("stratum"),
                "text",
            ),
            ["doc_id"],
        ).localCheckpoint(eager=False)
        # lazy checkpoints (r15 job-count discipline): batch and
        # batch_ids are materialized by the doc_buckets collect; new_mem
        # and old_mem by the delta computation (or, on a journaled
        # replay, new_mem by the MEM staging job — its lineage reads no
        # state files, and old_mem is then never consumed at all, which
        # the eager checkpoint used to pay a job for anyway)
        batch_ids = batch.select("doc_id").distinct().localCheckpoint(
            eager=False
        )
        live = batch.filter(has_text())
        new_mem = self._decide(live).localCheckpoint(eager=False)

        doc_buckets = store.touched_buckets(batch_ids, "doc_id")
        old_mem = (
            store.read(self.MEM, MEM_SCHEMA, buckets=doc_buckets)
            .join(batch_ids, "doc_id", "left_semi")
            .localCheckpoint(eager=False)
            if doc_buckets
            else local_frame(self.spark, [], MEM_SCHEMA)
        )

        # --- the delta: journaled truth for this batch_id -----------------
        fenced = batch_id is not None
        journaled = None
        prior = store.journaled(self.JOURNAL, JOURNAL_SCHEMA, batch_id)
        if prior is not None:
            if prior.limit(1).count():
                # a torn attempt already journaled this batch: its delta
                # was computed against the TRUE pre-batch mem (which the
                # tear may since have swapped) — recomputing would be
                # wrong exactly then, so the journal wins
                # lazy: the journal staging write materializes it from
                # the pre-swap journal files (staging runs before the
                # swap by construction)
                journaled = prior.select(
                    "stratum", "d_total", "d_sampled"
                ).localCheckpoint(eager=False)
        if journaled is None:
            plus = new_mem.groupBy("stratum").agg(
                F.count(F.lit(1)).alias("t"),
                F.sum(F.col("kept").cast("long")).alias("s"),
            )
            minus = old_mem.groupBy("stratum").agg(
                (-F.count(F.lit(1))).alias("t"),
                (-F.sum(F.col("kept").cast("long"))).alias("s"),
            )
            journaled = (
                plus.unionByName(minus)
                .groupBy("stratum")
                .agg(
                    F.sum("t").cast("long").alias("d_total"),
                    F.sum("s").cast("long").alias("d_sampled"),
                )
                .filter(
                    (F.col("d_total") != 0) | (F.col("d_sampled") != 0)
                )
                # fenced: lazy — the journal staging write materializes
                # it before the MEM swap its old_mem lineage reads.
                # UNFENCED there is no journal write, and the next
                # consumer (the ledger merge) only runs after the MEM
                # swap — so the delta must be forced NOW, while the
                # pre-swap mem files are still live
                .localCheckpoint(eager=not fenced)
            )
        # --- one transaction: journal → mem (idempotent keyed replace) ----
        with store.transaction() as tx:
            if fenced:
                tx.journal(self.JOURNAL, batch_id, journaled)
            tx.delete_then_insert(
                self.MEM,
                delete_keys=batch_ids,
                inserts=new_mem,
                schema=MEM_SCHEMA,
                bucket_col="doc_id",
            )

        # --- ledger: atomic single-bucket swap behind the fence -------------
        led = self._led_rows()
        applied = led.agg(F.max("applied_batch")).collect()[0][0]
        if fenced and applied is not None and applied >= int(batch_id):
            return  # replay of an already-applied batch
        merged = (
            led.select("stratum", "total_rows", "sampled_rows")
            .unionByName(
                journaled.select(
                    "stratum",
                    F.col("d_total").alias("total_rows"),
                    F.col("d_sampled").alias("sampled_rows"),
                )
            )
            .groupBy("stratum")
            .agg(
                F.sum("total_rows").cast("long").alias("total_rows"),
                F.sum("sampled_rows").cast("long").alias("sampled_rows"),
            )
        )
        # the watermark is MONOTONE: an unfenced (direct) apply carries
        # the prior high-water mark forward rather than resetting it —
        # otherwise a fenced replay of an already-applied batch_id that
        # arrived AFTER a direct call would pass the fence and
        # double-apply (review finding)
        if fenced:
            mark = max(int(batch_id), applied if applied is not None else -1)
        else:
            mark = applied
        new_led = merged.select(
            F.lit(0).cast("long").alias("lkey"),
            "stratum",
            "total_rows",
            "sampled_rows",
            F.lit(mark).cast("long").alias("applied_batch"),
        )
        self.store.write(
            self.LED,
            new_led,
            keys=["lkey"],
            # constant key => constant bucket, host-side (r14)
            touched=[self.store.bucket_of_long(0)],
        )

    # --- read side --------------------------------------------------------

    def _led_rows(self) -> DataFrame:
        if not self.store.has_schema_witness(self.LED):
            return local_frame(self.spark, [], LED_SCHEMA)
        return self.store.read(self.LED, LED_SCHEMA)

    def membership(self) -> DataFrame:
        return self.store.read(self.MEM, MEM_SCHEMA)

    def report(self) -> DataFrame:
        """(stratum, total_rows, sampled_rows, target_rate,
        achieved_rate) from the ledger alone — the batch mixture_report
        over the live corpus exactly, as an O(strata) read (empty
        strata omitted, matching the batch group-by)."""
        rate = F.lit(float(self.default_rate))
        for key, r in sorted(self.rates.items()):
            rate = F.when(F.col("stratum") == key, F.lit(float(r))).otherwise(
                rate
            )
        return (
            self._led_rows()
            .filter(F.col("total_rows") > 0)
            .select(
                "stratum",
                "total_rows",
                "sampled_rows",
                F.round(rate, 6).alias("target_rate"),
                F.round(
                    F.col("sampled_rows").cast("double")
                    / F.col("total_rows").cast("double"),
                    6,
                ).alias("achieved_rate"),
            )
        )

    def fsck(self) -> dict[str, int]:
        """Layout for every table, then derivation: the ledger must
        equal the aggregate of the membership manifest exactly (the
        invariant the journaled-delta/fence machinery exists to
        preserve). Raises on violation; returns checked counts."""
        counts = {
            t: self.store.verify_layout(t)
            for t in (self.MEM, self.LED, self.CONFIG)
        }
        want = (
            self.membership()
            .groupBy("stratum")
            .agg(
                F.count(F.lit(1)).alias("total_rows"),
                F.sum(F.col("kept").cast("long")).alias("sampled_rows"),
            )
        )
        got = self._led_rows().filter(F.col("total_rows") != 0).select(
            "stratum", "total_rows", "sampled_rows"
        )
        drift = got.exceptAll(want).count() + want.exceptAll(got).count()
        if drift:
            raise RuntimeError(
                f"{self.root}: ledger drifted from the membership "
                f"aggregate by {drift} stratum rows — reseed or replay"
            )
        return counts
