"""Incrementally-maintained SimHash dedup index: the dedup family's
end-to-end incremental path, completing the streaming-index trio
(inverted index — retrieval_index.py; IVF vector index —
vector_index.py; banded fingerprint index — here), all on the same
bucketed-state MERGE machinery.

operators/dedup.simhash_incremental_pairs documents the production
shape — "the historical side's banded fingerprints live in a parquet
index table; each batch equi-joins that index" — but recomputes both
sides per call. This module MAINTAINS that index: document batches
arrive as a stream, and a ``foreachBatch`` MERGE keeps two state
tables current —

* ``bands``  (bk, band, byte, doc_id, simhash) — one row per (document,
  band), hash-bucketed by the composed band key ``bk = band<<12 | byte``
  so a screening batch reads ONLY the buckets containing ITS OWN band
  keys (the postings-by-term trick applied to LSH bands);
* ``fps``    (doc_id, simhash) — per-document fingerprints, bucketed by
  DOC_ID. This table IS the manifest: an updated document's old band
  rows live at band keys derived from its OLD simhash — absent from the
  new batch by definition — and those keys are pure column math over
  the stored fingerprint, so no separate bucket list is materialized
  (simpler than the inverted index's term_buckets array).

Both tables are written by ``BucketedParquetStateStore.reindex``:
bands (derived) before fps (manifest), the crash order its module
docstring argues.

Screening a new ingest batch against the maintained index is then the
scale shape the operator docstring promises: fingerprint the batch
(map-only), read only its band keys' buckets, one equi-join, hamming
filter — the corpus text is never re-read and the corpus fingerprints
are never recomputed. The streamed state provably equals the batch
banded build, so ``screen_batch`` equals
``dedup.simhash_incremental_pairs`` over the union corpus EXACTLY —
which is what lets the registered streaming query reuse the batch
incremental-dedup oracle (one oracle, two rows).

Delete semantics: a batch document whose text yields no shingles
(empty/too short) has no fingerprint — its old band and fps rows are
deleted and nothing is re-inserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.operators.dedup import (
    SIMHASH_BAND_BITS,
    SIMHASH_BAND_MASK,
    simhash,
)
from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.streaming.feed import DOC_FEED_SCHEMA

N_BANDS = 4

BANDS_SCHEMA = T.StructType(
    [
        T.StructField("bk", T.LongType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("byte", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("simhash", T.LongType(), False),
    ]
)
FPS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("simhash", T.LongType(), False),
    ]
)


def _band_rows(fps: DataFrame) -> DataFrame:
    """(bk, band, byte, doc_id, simhash) — the banded expansion of a
    fingerprint table; ONE definition shared by maintenance, screening
    and the convergence tests (band arithmetic identical to
    operators/dedup's banded joins)."""
    entries = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("band"),
                F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * k)
                .bitwiseAND(F.lit(SIMHASH_BAND_MASK))
                .cast("long")
                .alias("byte"),
            )
            for k in range(N_BANDS)
        ]
    )
    return fps.select(
        "doc_id", "simhash", F.explode(entries).alias("e")
    ).select(
        (
            F.shiftleft(F.col("e.band").cast("long"), SIMHASH_BAND_BITS)
            + F.col("e.byte")
        ).alias("bk"),
        F.col("e.band").alias("band"),
        F.col("e.byte").alias("byte"),
        "doc_id",
        "simhash",
    )


class IncrementalDedupIndex:
    """Banded SimHash fingerprint state with per-batch bucket-scoped
    MERGE maintenance and an ingest-screening read side."""

    FEED_SCHEMA = DOC_FEED_SCHEMA

    BANDS = "bands"
    FPS = "fps"

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.store = BucketedParquetStateStore(spark, root, n_buckets)

    # --- maintenance ----------------------------------------------------

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        """The foreachBatch body: delete-then-insert the batch documents'
        band rows (an updated document's fingerprint changes, so its
        band rows MOVE to new band keys; a replayed batch rewrites
        identical rows) and refresh the fingerprint manifest. Touched
        bands buckets = old-fingerprint band keys ∪ new-fingerprint band
        keys — exact and bounded, both derived by column math.

        A batch carrying several versions of one doc_id (a trigger
        merging a draft file and its correction) is reduced to one row
        per key FIRST — last-wins (feed.last_wins); without it
        ``simhash`` silently merged both versions' shingles into one
        fingerprint that matches neither (round-9 advice)."""
        from worker_spark.streaming.feed import batch_doc_ids, last_wins

        store = self.store
        # lazy (r15 job-count discipline): reindex's bucket collect
        # materializes it before either table's swap
        new_fps = (
            simhash(last_wins(docs, ["doc_id"]))
            .select(F.col("id").cast("long").alias("doc_id"), "simhash")
            .localCheckpoint(eager=False)
        )
        store.reindex(
            batch_doc_ids(docs),
            self.FPS,
            FPS_SCHEMA,
            new_fps,
            self.BANDS,
            BANDS_SCHEMA,
            _band_rows(new_fps),
            "bk",
            lambda old: _band_rows(old).select(store.bucket_of("bk")),
        )

    def fsck(self) -> dict[str, int]:
        """Index-level consistency check (after surgery/migration):
        placement for both tables, then derivation — the bands table
        must equal the banded expansion of the stored fingerprints
        EXACTLY (band rows are pure column math over fps, so any
        difference is corruption: an orphan band row screens against a
        document that no longer exists; a missing one hides a real
        near-dup). Raises on violation; returns checked row counts."""
        counts = {
            self.BANDS: self.store.verify_layout(self.BANDS),
            self.FPS: self.store.verify_layout(self.FPS),
        }
        want = _band_rows(self.fps())
        got = self.bands()
        drift = got.exceptAll(want).count() + want.exceptAll(got).count()
        if drift:
            raise RuntimeError(
                f"{self.store.root}: bands drifted from the stored "
                f"fingerprints by {drift} rows — reseed or replay"
            )
        return counts

    def clone_rebucketed(
        self, new_root: str, n_buckets: int
    ) -> "IncrementalDedupIndex":
        """Resize into a fresh root (blue/green re-shard). No manifest
        transform needed: this index's manifest is pure column math
        over the stored fingerprints (fps), never stored bucket ids —
        so the generic clone is already correct under a new modulus."""
        self.store.clone_rebucketed(new_root, n_buckets)
        return IncrementalDedupIndex(self.spark, new_root)

    # --- read side --------------------------------------------------------

    def bands(self, buckets: list[int] | None = None) -> DataFrame:
        return self.store.read(self.BANDS, BANDS_SCHEMA, buckets)

    def fps(self) -> DataFrame:
        return self.store.read(self.FPS, FPS_SCHEMA)

    def screen_batch(
        self,
        docs: DataFrame,
        max_hamming: int = 3,
    ) -> DataFrame:
        """Screen an ingest batch against the MAINTAINED index: map-only
        batch fingerprints, band equi-join reading ONLY the batch's band
        keys' bucket files, hamming filter — the production per-ingest
        shape simhash_incremental_pairs documents, with the corpus side
        never recomputed. Output (new_id, corpus_id, hamming), identical
        to the batch operator over the union corpus."""
        store = self.store
        qfps = simhash(docs).select(
            F.col("id").cast("long").alias("doc_id"), "simhash"
        )
        # lazy: materialized by the probe collect just below
        qbands = _band_rows(qfps).localCheckpoint(eager=False)
        probe_buckets = store.touched_buckets(qbands, "bk")
        idx = self.bands(buckets=probe_buckets)
        return (
            qbands.alias("a")
            .join(idx.alias("b"), F.col("a.bk") == F.col("b.bk"))
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("new_id"),
                F.col("b.doc_id").alias("corpus_id"),
                F.col("a.simhash").alias("sh_a"),
                F.col("b.simhash").alias("sh_b"),
            )
            .distinct()
            .select(
                "new_id",
                "corpus_id",
                F.bit_count(
                    F.col("sh_a").bitwiseXOR(F.col("sh_b"))
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .select(
                "new_id", "corpus_id", F.col("hamming").cast("int").alias("hamming")
            )
        )
