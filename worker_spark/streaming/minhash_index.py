"""Incrementally-maintained MinHash-LSH dedup index: the banded-
SIGNATURE twin of the SimHash index (streaming/dedup_index.py), on the
same bucketed-state MERGE core — completing streaming maintenance for
the PRIMARY corpus-scale dedup method (MinHash+LSH is the one used on
web-scale corpora; SimHash is its cheaper fixed-width sibling).

The reference keeps link tables current with delete-then-insert
replaces (src/storage.rs:150-167, S8) and rebuilds its search index in
batches (src/indexing.rs:61-115); operators/dedup.minhash_lsh_dedup_
pairs documents the batch shape. This module MAINTAINS the banded
signature state: document batches arrive as a stream, and a
``foreachBatch`` MERGE keeps two state tables current —

* ``bands`` (bk, band, bucket, doc_id) — one row per (document, band),
  hash-bucketed by the composed band key ``bk = band ':' bucket`` (the
  bucket being the '-'-joined signature slice, exactly
  operators/dedup.lsh_candidate_pairs' banding) so a screening batch
  reads ONLY the store buckets containing ITS OWN band keys;
* ``sigs``  (doc_id, sig) — per-document MinHash signatures, bucketed
  by DOC_ID. This table IS the manifest: an updated document's old
  band rows live at band keys derived from its OLD signature — absent
  from the new batch by definition — and those keys are pure column
  math over the stored signature array (the fps-table trick of the
  SimHash index, applied to signatures).

Both tables are written by ``Transaction.reindex``, declared bands
(derived) → sigs (manifest), the crash order the
``plans/bucketed_state.py`` module docstring argues. ``add_batch``
declares them on a caller's transaction (the near-dup pipeline commits
its text table with them).

Verification is where MinHash differs from SimHash: SimHash verifies
by Hamming distance over the STORED fingerprints, but MinHash-LSH's
verify stage is exact Jaccard over shingles, which the index does not
(and should not) store. The read side therefore splits the classic
candidate/verify economics: candidates come from the MAINTAINED band
state with the corpus never re-fingerprinted, and the exact-Jaccard
verify re-shingles ONLY the candidate documents — at production scale
the candidate set is orders of magnitude smaller than the corpus, so
the text fetch is a semi-joined point-read, not a corpus scan.

The streamed state provably equals the batch signature build
(tests/test_minhash_index.py), so ``dedup_pairs`` over the maintained
state equals ``dedup.minhash_lsh_dedup_pairs`` over the union corpus
EXACTLY — which is what lets the registered streaming query reuse the
batch MinHash oracle (one oracle, two rows; the fourth instance of the
pattern).

Delete semantics: a batch document whose text yields no shingles
(empty / shorter than the shingle width) has no signature — its old
band and sigs rows are deleted and nothing is re-inserted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.operators.dedup import (
    N_BANDS,
    N_PERM,
    ROWS_PER_BAND,
    _jaccard_verify,
    minhash_signatures,
    word_shingles,
)
from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.streaming.feed import DOC_FEED_SCHEMA

BANDS_SCHEMA = T.StructType(
    [
        T.StructField("bk", T.StringType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("bucket", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
    ]
)
SIGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("sig", T.ArrayType(T.LongType()), False),
    ]
)


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(bk, band, bucket, doc_id) — the banded expansion of a signature
    table; ONE definition shared by maintenance, screening and the
    convergence tests. Banding arithmetic identical to
    operators/dedup.lsh_candidate_pairs: bucket = the '-'-joined
    signature slice of ROWS_PER_BAND components."""
    entries = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.get(
                            F.col("sig"), b * ROWS_PER_BAND + r
                        ).cast("string")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("bucket"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(entries).alias("e")).select(
        F.concat_ws(":", F.col("e.band"), F.col("e.bucket")).alias("bk"),
        F.col("e.band").alias("band"),
        F.col("e.bucket").alias("bucket"),
        "doc_id",
    )


class IncrementalMinHashIndex:
    """Banded MinHash signature state with per-batch bucket-scoped
    MERGE maintenance, and candidate/verify read sides that never
    re-fingerprint the corpus."""

    FEED_SCHEMA = DOC_FEED_SCHEMA

    BANDS = "bands"
    SIGS = "sigs"

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.store = BucketedParquetStateStore(spark, root, n_buckets)

    # --- maintenance ----------------------------------------------------

    def _signatures(self, docs: DataFrame) -> DataFrame:
        """(doc_id, sig): the batch's MinHash signatures as one array
        column — exactly operators/dedup.minhash_signatures' values,
        packed for storage (documents without shingles are absent)."""
        sigs = minhash_signatures(docs)
        return sigs.select(
            F.col("id").cast("long").alias("doc_id"),
            F.array(*[F.col(f"mh_{i}") for i in range(N_PERM)]).alias("sig"),
        )

    def apply_batch(self, docs: DataFrame, batch_id: int | None = None) -> None:
        """The foreachBatch body: ``add_batch`` in a transaction of its own."""
        with self.store.transaction() as tx:
            self.add_batch(tx, docs)

    def add_batch(
        self,
        tx,
        docs: DataFrame,
        batch_ids: DataFrame | None = None,
        doc_buckets: list[int] | None = None,
    ) -> None:
        """Declare a batch's ops on ``tx``, bound to this index's store
        (a composed pipeline commits them with its own tables): delete-
        then-insert the batch documents' band rows (an updated
        document's signature changes, so its band rows MOVE to new band
        keys; a replayed batch rewrites identical rows) and refresh the
        signature manifest, declared bands → sigs. Touched bands buckets
        = old-signature band keys ∪ new-signature band keys — exact and
        bounded, both derived by column math. A batch carrying several
        versions of one doc_id is reduced to one row per key first —
        last-wins (feed.last_wins).

        A handed-over ``batch_ids`` says the caller already ran
        last_wins on ``docs`` and derived their id frame (the composed
        pipelines do, before screening) — the reduction is idempotent,
        so skipping the second pass changes nothing but the job count.
        ``doc_buckets`` likewise hands over the ids' bucket ids
        (same-modulus stores only)."""
        from worker_spark.streaming.feed import batch_doc_ids, last_wins

        store = self.store
        if batch_ids is None:
            batch_ids = batch_doc_ids(docs)
            docs = last_wins(docs, ["doc_id"])
        # lazy: materialized by the transaction's bucket collect, which
        # runs before any swap
        new_sigs = self._signatures(docs).localCheckpoint(eager=False)
        tx.on(store).reindex(
            batch_ids,
            self.SIGS,
            SIGS_SCHEMA,
            new_sigs,
            self.BANDS,
            BANDS_SCHEMA,
            _band_rows(new_sigs),
            "bk",
            lambda old: _band_rows(old).select(store.bucket_of("bk")),
            id_buckets=doc_buckets,
        )

    def fsck(self) -> dict[str, int]:
        """Index-level consistency check (after surgery/migration):
        placement for both tables, then derivation — the bands table
        must equal the banded expansion of the stored signatures
        EXACTLY (band rows are pure column math over sigs; any
        difference is corruption that silently skews candidate
        generation). Raises on violation; returns checked row counts."""
        counts = {
            self.BANDS: self.store.verify_layout(self.BANDS),
            self.SIGS: self.store.verify_layout(self.SIGS),
        }
        want = _band_rows(self.sigs())
        got = self.bands()
        drift = got.exceptAll(want).count() + want.exceptAll(got).count()
        if drift:
            raise RuntimeError(
                f"{self.store.root}: bands drifted from the stored "
                f"signatures by {drift} rows — reseed or replay"
            )
        return counts

    def clone_rebucketed(
        self, new_root: str, n_buckets: int
    ) -> "IncrementalMinHashIndex":
        """Resize into a fresh root (blue/green re-shard). No manifest
        transform needed: this index's manifest is pure column math
        over the stored signatures (sigs), never stored bucket ids —
        so the generic clone is already correct under a new modulus."""
        self.store.clone_rebucketed(new_root, n_buckets)
        return IncrementalMinHashIndex(self.spark, new_root)

    # --- read side --------------------------------------------------------

    def bands(self, buckets: list[int] | None = None) -> DataFrame:
        return self.store.read(self.BANDS, BANDS_SCHEMA, buckets)

    def sigs(self) -> DataFrame:
        return self.store.read(self.SIGS, SIGS_SCHEMA)

    def _verify(
        self,
        cands: DataFrame,
        shingles: DataFrame,
        threshold: float,
    ) -> DataFrame:
        """Exact-Jaccard verify of (id_a, id_b) candidates over a
        shingle relation covering every candidate id — the shared
        dedup._jaccard_verify core, so the maintained index can never
        disagree with the batch operator on a score."""
        sh = shingles.cache()
        sh.count()  # one materialization for the 3 verify scans
        out = (
            _jaccard_verify(sh, threshold, candidates=cands)
            .select("id_a", "id_b", "jaccard")
            # Eagerly cut the lineage so the cache can be released NOW:
            # without this, repeated dedup_pairs/screen_batch calls in a
            # long-lived session each leave a cached shingle relation
            # pinned until GC (round-10 advice) — matching the
            # localCheckpoint discipline used elsewhere in the module.
            .localCheckpoint(eager=True)
        )
        sh.unpersist()
        return out

    def dedup_pairs(
        self,
        docs: DataFrame,
        threshold: float = 0.5,
    ) -> DataFrame:
        """All verified near-dup pairs from the MAINTAINED band state:
        candidates via one equi-self-join of stored band rows (the
        corpus is never re-shingled, re-hashed or re-signed — the whole
        signature pipeline is amortized into maintenance), then exact
        Jaccard re-shingling ONLY candidate documents (``docs`` is the
        text lookup side, semi-joined down to candidate ids before any
        shingling). Output == dedup.minhash_lsh_dedup_pairs over the
        same corpus, exactly — the registered streaming row's oracle
        contract."""
        banded = self.bands()
        a = banded.alias("a")
        b = banded.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.bk") == F.col("b.bk"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .distinct()
            # feeds the id semi-join AND the verify join; without the
            # checkpoint the band self-join runs twice. Lazy: the verify
            # chain's shingle-count job materializes it (read side, no
            # swaps in flight)
            .localCheckpoint(eager=False)
        )
        cand_ids = (
            cands.select(F.col("id_a").alias("doc_id"))
            .unionByName(cands.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        sh = word_shingles(docs.join(cand_ids, "doc_id", "left_semi"))
        return self._verify(cands, sh, threshold)

    def screen_candidates(self, new_docs: DataFrame) -> DataFrame:
        """(id_a=new, id_b=corpus) candidate pairs of an ingest batch
        against the maintained bands — map-only batch signatures, one
        band-key equi-join reading ONLY the batch's band keys' bucket
        files. Lazy (screen_batch checkpoints it); exposed so the
        file-pruning property is assertable on the exact serving
        plan."""
        qsigs = self._signatures(new_docs)
        # lazy: materialized by the probe collect just below
        qbands = _band_rows(qsigs).localCheckpoint(eager=False)
        probe_buckets = self.store.touched_buckets(qbands, "bk")
        idx = self.bands(buckets=probe_buckets)
        return (
            qbands.alias("a")
            .join(idx.alias("b"), F.col("a.bk") == F.col("b.bk"))
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .distinct()
        )

    def screen_batch(
        self,
        new_docs: DataFrame,
        corpus_docs: DataFrame,
        threshold: float = 0.5,
    ) -> DataFrame:
        """Screen an ingest batch against the MAINTAINED index — the
        per-ingest production shape: map-only batch signatures, band
        equi-join reading ONLY the batch's band keys' bucket files
        (inputFiles-asserted in tests), then exact-Jaccard verify
        re-shingling the batch plus ONLY its candidate partners from
        ``corpus_docs`` (the corpus side's signatures are never
        recomputed; its text is read for the few candidate partners
        alone). Output (new_id, corpus_id, jaccard) — identical scores
        to the batch operator over the union corpus.

        If a batch id is ALREADY indexed (screening after apply, or an
        update), its candidate partners come from the index's stored
        bands as usual, but the verify side must hold ONE text version
        per id — the batch's version wins (partners also present in
        the batch are dropped from the corpus text fetch), so the
        shingle sizes can never double-count an id."""
        # feeds the partner semi-join AND the verify join; without the
        # checkpoint the probe join runs twice. Lazy: the verify chain's
        # shingle-count job materializes it (read side, no swaps in flight)
        cands = self.screen_candidates(new_docs).localCheckpoint(eager=False)
        partner_ids = (
            cands.select(F.col("id_b").alias("doc_id"))
            .distinct()
            .join(new_docs.select("doc_id"), "doc_id", "left_anti")
        )
        sh = word_shingles(new_docs).unionByName(
            word_shingles(corpus_docs.join(partner_ids, "doc_id", "left_semi"))
        )
        return self._verify(cands, sh, threshold).select(
            F.col("id_a").alias("new_id"),
            F.col("id_b").alias("corpus_id"),
            "jaccard",
        )
