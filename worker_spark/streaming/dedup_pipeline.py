"""Composed maintained-dedup pipeline: the exact content-hash index
FEEDS the connected-components label index, per batch — the composition
the maintained-structure family exists for (VERDICT r11 item 5's
premise: "with five maintained pair-screening indexes now feeding
candidate pairs per batch, maintain the label table incrementally").

Per ingest batch:

1. ``IncrementalExactIndex.apply_batch`` keeps the content-hash state
   current (O(batch + touched hash buckets));
2. ``screen_batch`` looks the batch up against the POST-batch state —
   reading only the batch hashes' bucket files — which yields every
   (batch doc, corpus doc) exact-duplicate pair, within-batch pairs
   included (both sides are in state by then, and self-matches are
   filtered);
3. the screen hits become the components feed: every batch doc
   announced (edge-less if it matched nothing — which is also the
   delete form), each hit an edge row. ``IncrementalComponentsIndex.
   apply_batch`` then relabels ONLY the touched components.

End-to-end cost per batch: O(batch + touched buckets + touched
components) — at no point is the corpus re-hashed, re-screened or
re-clustered. The served ``cluster_assignments()`` equals the batch
exact-dedup clustering of the LIVE corpus restricted to multi-member
groups: exact equality is transitive, so the duplicate-pair graph of a
hash group is a clique and its min-label component id IS the group's
min doc id — the same (doc_id, cluster_id, cluster_size, is_survivor)
the batch components operator emits over the exact pair list.

Any other screening index (SimHash / MinHash / substring) plugs into
the same seam: swap step 2's screen for theirs and the label
maintenance is unchanged — this module pins the composition contract
with the cheapest screen.

The near-dup pipeline commits its text table and the MinHash index's
tables in one write transaction across the two roots, declared docs →
bands → sigs.

Reference parity anchor: the reference's sync pipeline composes its
add-or-replace index sink with link-table replacement in one batch
(src/indexing.rs:61-115 feeding src/storage.rs link swaps); this is
that discipline across two maintained derived structures.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.streaming.components_index import IncrementalComponentsIndex
from worker_spark.streaming.exact_index import IncrementalExactIndex
from worker_spark.streaming.feed import DOC_FEED_SCHEMA


def _require_one_modulus(*stores: BucketedParquetStateStore) -> None:
    """A pipeline hands one batch's bucket ids to every store it
    maintains, which is only exact when they share one modulus. A store
    keeps the modulus pinned at its creation, so a root whose stores
    were created with different ``n_buckets`` fails here."""
    moduli = sorted({s.n_buckets for s in stores})
    if len(moduli) > 1:
        raise ValueError(
            f"pipeline stores have bucket moduli {moduli}; they must "
            "share one modulus to reuse bucket ids"
        )


class StreamingDedupPipeline:
    """Two maintained structures composed behind one apply_batch."""

    FEED_SCHEMA = DOC_FEED_SCHEMA

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.exact = IncrementalExactIndex(
            spark, os.path.join(root, "exact"), n_buckets=n_buckets
        )
        self.components = IncrementalComponentsIndex(
            spark, os.path.join(root, "components"), n_buckets=n_buckets
        )

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        from worker_spark.streaming.feed import batch_doc_ids, last_wins

        # one winner per key BEFORE screening: screening a superseded
        # draft would emit the loser version's edges. The batch, its id
        # frame and their bucket ids are derived ONCE here and handed to
        # every sub-structure (r15 job-count discipline: the exact index
        # no longer re-reduces / re-derives them, and the components
        # index reuses the same bucket set — all stores share one
        # modulus, checked below). Checkpoints are lazy; the one
        # doc_buckets collect materializes both.
        batch = last_wins(docs, ["doc_id"]).localCheckpoint(eager=False)
        batch_ids = batch_doc_ids(batch)
        _require_one_modulus(self.exact.store, self.components.store)
        doc_buckets = self.exact.store.touched_buckets(batch_ids, "doc_id")
        self.exact.apply_batch(
            batch,
            batch_id=batch_id,
            batch_ids=batch_ids,
            doc_buckets=doc_buckets,
        )
        hits = self.exact.screen_batch(batch)
        announcements = batch_ids.select(
            "doc_id", F.lit(None).cast("long").alias("nbr")
        )
        edges = hits.select(
            F.col("new_id").alias("doc_id"), F.col("corpus_id").alias("nbr")
        )
        self.components.apply_batch(
            announcements.unionByName(edges),
            batch_id=batch_id,
            batch_ids=batch_ids,
            batch_buckets=doc_buckets,
        )

    def fsck(self) -> dict[str, int]:
        counts = self.exact.fsck()
        counts.update(self.components.fsck())
        return counts

    # --- read side ------------------------------------------------------

    def cluster_assignments(self) -> DataFrame:
        return self.components.cluster_assignments()

    def dedup_clusters(self) -> DataFrame:
        return self.exact.dedup_clusters()


DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)

# The near-dup pipeline's Jaccard threshold decides WHICH edges exist in
# state, so it pins at creation like the curation index's thresholds —
# reopening with a different value would silently mix edge sets verified
# under different contracts (single-bucket table, loud refusal).
NDP_CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("ckey", T.LongType(), False),
        T.StructField("threshold", T.DoubleType(), False),
    ]
)


class StreamingNearDupPipeline:
    """The NEAR-dup composition on the same seam: the MinHash-LSH index
    screens each batch, verified pairs feed the components index. One
    extra maintained piece the exact pipeline doesn't need: a doc-text
    store (doc_id-bucketed), because the exact-Jaccard verify of a
    (batch doc, corpus doc) candidate needs the PARTNER's text — at
    100 TB the corpus rows live in a table and the verify fetches only
    the few candidate partners, which the bucket-pruned read below
    reproduces (partner ids -> their buckets -> semi-join).

    Per batch: one transaction declared docs → bands → sigs (texts
    first, then the MinHash index's own derived-first order) ->
    band-bucket-pruned candidate screen -> exact-Jaccard verify re-shingling the batch +
    partner docs only -> verified pairs relabel the touched components.
    Convergence: a corrected document's announcement re-screens it
    against the whole maintained band state and REPLACES its edge set,
    so draft-era pairs (verified against superseded text) are torn out
    with the update — the served labels equal the batch
    cluster_assignments(minhash_lsh_dedup_pairs(live corpus)) exactly.
    """

    FEED_SCHEMA = DOC_FEED_SCHEMA

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = 16,
        threshold: float = 0.5,
    ):
        from worker_spark.streaming.minhash_index import (
            IncrementalMinHashIndex,
        )

        self.spark = spark
        self.threshold = float(threshold)
        self.docstore = BucketedParquetStateStore(
            spark, os.path.join(root, "docs"), n_buckets
        )
        self.minhash = IncrementalMinHashIndex(
            spark, os.path.join(root, "minhash"), n_buckets=n_buckets
        )
        self.components = IncrementalComponentsIndex(
            spark, os.path.join(root, "components"), n_buckets=n_buckets
        )
        self._root = root
        # verify the edge contract (module constant NDP_CONFIG_SCHEMA
        # doc) — READ-ONLY here: the pin itself is deferred to the first
        # apply_batch so instantiating a read-side handle never mutates
        # the root (ADVICE r12 — a constructor write would also race the
        # single-writer assumption if a reader opens mid-swap)
        if self.docstore.has_schema_witness(self.CONFIG):
            self._check_threshold_pin()

    DOCS = "docs"
    CONFIG = "ndp_config"

    def _check_threshold_pin(self) -> None:
        stored = float(
            self.docstore.read(self.CONFIG, NDP_CONFIG_SCHEMA)
            .collect()[0]["threshold"]
        )
        if abs(stored - self.threshold) > 1e-12:
            raise ValueError(
                f"{self._root}: near-dup state was built with threshold "
                f"{stored}, reopened with {self.threshold} — the edge "
                "set is contract-bound; rebuild into a fresh root to "
                "change it"
            )

    def _ensure_threshold_pinned(self) -> None:
        """Write-path half of the config pin: called at the top of
        apply_batch (the single writer), so the pin lands with the first
        batch instead of as a constructor side effect."""
        if self.docstore.has_schema_witness(self.CONFIG):
            self._check_threshold_pin()
        else:
            self.docstore.write(
                self.CONFIG,
                self.spark.createDataFrame(
                    [(0, self.threshold)], NDP_CONFIG_SCHEMA
                ),
                keys=["ckey"],
            )

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        from worker_spark.operators.dedup import word_shingles
        from worker_spark.streaming.feed import has_text, last_wins

        self._ensure_threshold_pinned()
        # the batch, its id frame and their bucket ids are derived ONCE
        # and handed to every sub-structure (r15 job-count discipline);
        # checkpoints are lazy, materialized by the one doc_buckets
        # collect below — before any swap
        batch = last_wins(docs, ["doc_id"]).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        ).localCheckpoint(eager=False)
        batch_ids = batch.select("doc_id").distinct().localCheckpoint(
            eager=False
        )
        _require_one_modulus(
            self.docstore, self.minhash.store, self.components.store
        )
        doc_buckets = self.docstore.touched_buckets(batch_ids, "doc_id")
        live = batch.filter(has_text())
        # one transaction over both roots, declared docs → bands → sigs:
        # a torn batch never leaves a signature whose text is missing
        # for a doc the batch adds or updates, and the replay re-applies
        # every table idempotently
        with self.docstore.transaction() as tx:
            tx.delete_then_insert(
                self.DOCS,
                delete_keys=batch_ids,
                inserts=live,
                schema=DOCS_SCHEMA,
                bucket_col="doc_id",
                touched=doc_buckets,
            )
            self.minhash.add_batch(
                tx,
                batch,
                batch_ids=batch_ids,
                doc_buckets=doc_buckets,
            )
        # screen AFTER apply: the batch's own bands are in state, so
        # within-batch pairs fall out of the same band equi-join. The
        # batch's signatures are read BACK from the sigs state the
        # apply just wrote (bucket-pruned by the batch ids — the same
        # bucket set as doc_buckets, same store) instead of re-running
        # the shingle+minhash pass screen_candidates would pay — the one
        # compute stage worth sharing between the two structures a
        # composed batch drives (measured ~25% of the per-batch wall at
        # demo scale).
        from worker_spark.streaming.minhash_index import (
            SIGS_SCHEMA,
            _band_rows,
        )

        mstore = self.minhash.store
        qsigs = mstore.read(
            self.minhash.SIGS, SIGS_SCHEMA, buckets=doc_buckets
        ).join(batch_ids, "doc_id", "left_semi")
        # lazy: materialized by the probe_buckets collect
        qbands = _band_rows(qsigs).localCheckpoint(eager=False)
        probe_buckets = mstore.touched_buckets(qbands, "bk")
        idx = self.minhash.bands(buckets=probe_buckets)
        # lazy: cands and partner_ids are both materialized by the
        # pbuckets collect, before the verify re-reads them
        cands = (
            qbands.alias("a")
            .join(idx.alias("b"), F.col("a.bk") == F.col("b.bk"))
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        partner_ids = (
            cands.select(F.col("id_b").alias("doc_id"))
            .distinct()
            .join(batch_ids, "doc_id", "left_anti")
            .localCheckpoint(eager=False)
        )
        pbuckets = self.docstore.touched_buckets(partner_ids, "doc_id")
        partners = self.docstore.read(
            self.DOCS, DOCS_SCHEMA, buckets=pbuckets
        ).join(partner_ids, "doc_id", "left_semi")
        sh = word_shingles(live).unionByName(word_shingles(partners))
        verified = self.minhash._verify(cands, sh, self.threshold)
        announcements = batch_ids.select(
            "doc_id", F.lit(None).cast("long").alias("nbr")
        )
        edges = verified.select(
            F.col("id_a").alias("doc_id"), F.col("id_b").alias("nbr")
        )
        self.components.apply_batch(
            announcements.unionByName(edges),
            batch_id=batch_id,
            batch_ids=batch_ids,
            batch_buckets=doc_buckets,
        )

    def fsck(self) -> dict[str, int]:
        """Each sub-structure's check, then the cross-root one: every
        signature has its text. Both MERGEs skip blank texts, so every
        committed state holds sigs ⊆ docs; a batch torn after its docs
        swap leaves a deleted doc's stale signature without its text,
        which the partner verify would never find."""
        counts = {self.DOCS: self.docstore.verify_layout(self.DOCS)}
        counts.update(self.minhash.fsck())
        counts.update(self.components.fsck())
        textless = (
            self.minhash.sigs()
            .select("doc_id")
            .join(self.docstore.read(self.DOCS, DOCS_SCHEMA), "doc_id", "left_anti")
            .count()
        )
        if textless:
            raise RuntimeError(
                f"{self._root}: {textless} signed docs have no text row "
                "— a torn batch; replay it"
            )
        return counts

    # --- read side ------------------------------------------------------

    def cluster_assignments(self) -> DataFrame:
        return self.components.cluster_assignments()


class StreamingSubstringPipeline:
    """The SUBSTRING composition on the same seam (third instance): the
    winnowing-fingerprint index screens each batch, shared-fingerprint
    hits feed the components index — live clusters of documents sharing
    a >= W+K-1-char verbatim substring (license/boilerplate/quotation
    families), the grouping a curation pass reads to pick one canonical
    carrier per boilerplate family.

    No text store needed (unlike the near-dup pipeline): fingerprint
    equality IS the match — no verify stage wants the partner's text.
    The screen reads the batch's fingerprints BACK from the fps
    manifest the apply just wrote (the near-dup pipeline's
    signature-reuse discipline — the batch is never re-winnowed), then
    probes only those fingerprints' fprows buckets.
    """

    FEED_SCHEMA = DOC_FEED_SCHEMA

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        from worker_spark.streaming.substring_index import (
            IncrementalSubstringIndex,
        )

        self.spark = spark
        self.substring = IncrementalSubstringIndex(
            spark, os.path.join(root, "substring"), n_buckets=n_buckets
        )
        self.components = IncrementalComponentsIndex(
            spark, os.path.join(root, "components"), n_buckets=n_buckets
        )

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        from worker_spark.streaming.feed import last_wins
        from worker_spark.streaming.substring_index import FPS_SCHEMA

        # shared-frame threading + lazy checkpoints (r15 job-count
        # discipline): one doc_buckets collect materializes batch and
        # batch_ids, and its bucket set serves the substring apply, the
        # manifest read-back AND the components relabel (one modulus
        # across the pipeline's stores, checked below)
        batch = last_wins(docs, ["doc_id"]).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        ).localCheckpoint(eager=False)
        batch_ids = batch.select("doc_id").distinct().localCheckpoint(
            eager=False
        )
        st = self.substring.store
        _require_one_modulus(st, self.components.store)
        fbuckets = st.touched_buckets(batch_ids, "doc_id")
        self.substring.apply_batch(
            batch,
            batch_id=batch_id,
            batch_ids=batch_ids,
            doc_buckets=fbuckets,
        )
        # screen AFTER apply, from state: the batch's fingerprints come
        # back from the fps manifest (bucket-pruned by the batch ids),
        # within-batch pairs fall out of the same fhash equi-join
        qfp = st.read(
            self.substring.FPS, FPS_SCHEMA, buckets=fbuckets
        ).join(batch_ids, "doc_id", "left_semi").localCheckpoint(eager=False)
        probe_buckets = st.touched_buckets(qfp, "fhash")
        idx = self.substring.fprows(buckets=probe_buckets)
        hits = (
            qfp.alias("a")
            .join(idx.alias("b"), F.col("a.fhash") == F.col("b.fhash"))
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_id"),
                F.col("b.doc_id").alias("nbr"),
            )
            .distinct()
        )
        announcements = batch_ids.select(
            "doc_id", F.lit(None).cast("long").alias("nbr")
        )
        self.components.apply_batch(
            announcements.unionByName(hits),
            batch_id=batch_id,
            batch_ids=batch_ids,
            batch_buckets=fbuckets,
        )

    def fsck(self) -> dict[str, int]:
        counts = self.substring.fsck()
        counts.update(self.components.fsck())
        return counts

    # --- read side ------------------------------------------------------

    def cluster_assignments(self) -> DataFrame:
        return self.components.cluster_assignments()
