"""Incrementally-maintained SUBSTRING dedup index (winnowing
fingerprints): the tenth maintained structure on the shared
bucketed-state MERGE core, closing the last dedup family that was still
recomputed per run (VERDICT r11 item 4 — operators/substrings.py built
the full fingerprint table on every call; exact/SimHash/MinHash all had
maintained paths since r10/r11). The reference's add-or-replace index
sink discipline (src/indexing.rs:61-115) applied to the winnowing
fingerprint table.

Three state tables, same layout contract as the exact index
(streaming/exact_index.py — this module is that pattern with a
multi-row-per-document fingerprint set):

* ``fprows`` (fhash, doc_id, pos) — bucketed by FHASH: the corpus
  fingerprint table. Screening a batch reads only the buckets the
  batch's own fingerprints land in; the duplicated-hash groupBy key IS
  the bucket key, so partials never cross buckets.
* ``fps``    (doc_id, fhash, pos) — bucketed by DOC_ID; the manifest:
  an updated document's old fingerprint rows live in the buckets of
  its OLD hashes, recoverable only from stored state (winnowing a
  changed text selects different hashes at different positions).
* ``doclen`` (doc_id, doc_len) — bucketed by DOC_ID: the per-document
  length the coverage report needs for its zero-filled rows and
  dup_frac denominator (a document shorter than the K-gram width has
  NO fingerprints but still owns a report row).

A batch is one transaction, declared fprows (derived) → fps
(manifest) → doclen: ``Transaction.reindex`` declares the pair derived
first, the crash order the ``plans/bucketed_state.py`` module docstring
argues; doclen swaps last and is idempotent under replay.

Delete semantics: a batch document with empty/whitespace-only text is a
removal — its fingerprint rows, manifest rows, and length row all go,
and the document disappears from the report (matching the other
indexes' non-resurrection contract).

The payoff read side:

* ``dedup_report()`` == operators/substrings.substring_dedup_report
  over the corpus EXACTLY, served from maintained state with the
  corpus text never re-read and never re-winnowed — the expensive part
  of the batch operator is the per-position K-gram pass (O(total
  chars)), which the maintained path pays only once per document
  version. One oracle, two rows (the family's pattern, sixth
  instance).
* ``dup_spans()`` — the maximal duplicated-span table, same serving
  argument.
* ``screen_batch(docs)`` — per-ingest shared-substring lookup: winnow
  the BATCH only (O(batch chars)), read only the batch fingerprints'
  bucket files, one equi-join on fhash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.operators import substrings as SUB
from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.streaming.feed import DOC_FEED_SCHEMA, has_text

FPROWS_SCHEMA = T.StructType(
    [
        T.StructField("fhash", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("pos", T.LongType(), False),
    ]
)
FPS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("fhash", T.LongType(), False),
        T.StructField("pos", T.LongType(), False),
    ]
)
DOCLEN_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("doc_len", T.LongType(), False),
    ]
)


def _live_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text, doc_len) for the batch's LIVE documents (empty /
    whitespace-only text is the delete marker, matching the exact
    index's contentless-doc semantics)."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        F.length(F.col("text")).cast("long").alias("doc_len"),
    ).filter(has_text())


class IncrementalSubstringIndex:
    """Winnowing-fingerprint state with per-batch bucket-scoped MERGE
    maintenance and span/report/screening read sides served without
    corpus text."""

    FEED_SCHEMA = DOC_FEED_SCHEMA

    FPROWS = "fprows"
    FPS = "fps"
    DOCLEN = "doclen"

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.store = BucketedParquetStateStore(spark, root, n_buckets)

    # --- maintenance ----------------------------------------------------

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
        batch_ids: DataFrame | None = None,
        doc_buckets: list[int] | None = None,
    ) -> None:
        """The foreachBatch body: winnow ONLY the batch documents
        (O(batch chars) — the corpus is never re-fingerprinted), then
        delete-then-insert their fingerprint rows. Touched fprows
        buckets = old-hash buckets (from the stored manifest) ∪
        new-hash buckets — exact and bounded by the batch.

        A batch carrying several versions of one doc_id reduces to one
        row per key FIRST (last-wins); without it a document would keep
        both versions' fingerprints and dup-match against itself.

        ``batch_ids`` / ``doc_buckets``: the composed substring pipeline
        hands over its id frame and bucket ids (same-modulus stores
        only) instead of paying the derivations twice; a handed-over
        ``batch_ids`` says ``docs`` is already reduced — last-wins is
        idempotent, so the values are unchanged. Checkpoints are LAZY
        (r15 job-count discipline), each materialized by the first
        count/collect that consumes it, before any bucket swap."""
        from worker_spark.streaming.feed import batch_doc_ids, last_wins

        store = self.store
        if batch_ids is None:
            batch_ids = batch_doc_ids(docs)
            docs = last_wins(docs, ["doc_id"])
        live = _live_docs(docs).localCheckpoint(eager=False)
        new_fp = SUB.winnow_fingerprints(live).localCheckpoint(eager=False)
        if doc_buckets is None:
            doc_buckets = store.touched_buckets(batch_ids, "doc_id")
        # a batch that only deletes docs the index never saw must be a
        # clean no-op; a doc shorter than the K-gram width has NO
        # fingerprints but DOES own a doclen row, so the no-op check
        # consults the doclen table, not the (possibly empty) manifest.
        # has_live probes first: a normal batch has live docs, which
        # short-circuits the doclen probe job entirely (r15 job trim —
        # only delete-only batches pay both probes)
        has_live = live.limit(1).count() > 0
        write_doclen = has_live or (
            store.read(self.DOCLEN, DOCLEN_SCHEMA, buckets=doc_buckets)
            .join(batch_ids, "doc_id", "left_semi")
            .limit(1)
            .count()
            > 0
        )
        with store.transaction() as tx:
            tx.reindex(
                batch_ids,
                self.FPS,
                FPS_SCHEMA,
                new_fp.select("doc_id", "fhash", "pos"),
                self.FPROWS,
                FPROWS_SCHEMA,
                new_fp.select("fhash", "doc_id", "pos"),
                "fhash",
                lambda old: old.select(store.bucket_of("fhash")),
                id_buckets=doc_buckets,
            )
            # doclen LAST: a short-but-live document (len < K) has no
            # fingerprints yet still owns a zero-filled report row, so
            # its length row must land even when no hash bucket was
            # touched — but an unknown-delete-only batch touches nothing
            if write_doclen:
                tx.delete_then_insert(
                    self.DOCLEN,
                    delete_keys=batch_ids,
                    inserts=live.select("doc_id", "doc_len"),
                    schema=DOCLEN_SCHEMA,
                    bucket_col="doc_id",
                    touched=doc_buckets,
                )

    def fsck(self) -> dict[str, int]:
        """Index-level consistency check: placement for all three
        tables, then derivation — fprows must equal the column-swapped
        manifest EXACTLY, and every fingerprint-bearing doc_id must own
        a doclen row (an orphan fingerprint reports a document that no
        longer exists; a missing length row breaks the report's
        denominator). Raises on violation; returns checked counts."""
        counts = {
            self.FPROWS: self.store.verify_layout(self.FPROWS),
            self.FPS: self.store.verify_layout(self.FPS),
            self.DOCLEN: self.store.verify_layout(self.DOCLEN),
        }
        want = self.fps().select("fhash", "doc_id", "pos")
        got = self.fprows()
        drift = got.exceptAll(want).count() + want.exceptAll(got).count()
        if drift:
            raise RuntimeError(
                f"{self.store.root}: fprows drifted from the stored "
                f"manifest by {drift} rows — reseed or replay"
            )
        orphans = (
            self.fps()
            .select("doc_id")
            .distinct()
            .join(self.doclens(), "doc_id", "left_anti")
            .count()
        )
        if orphans:
            raise RuntimeError(
                f"{self.store.root}: {orphans} fingerprint-bearing docs "
                "lack a doclen row — reseed or replay"
            )
        return counts

    def clone_rebucketed(
        self, new_root: str, n_buckets: int
    ) -> "IncrementalSubstringIndex":
        """Resize into a fresh root (blue/green re-shard). No manifest
        transform needed: no table stores bucket ids in row data."""
        self.store.clone_rebucketed(new_root, n_buckets)
        return IncrementalSubstringIndex(self.spark, new_root)

    # --- read side --------------------------------------------------------

    def fprows(self, buckets: list[int] | None = None) -> DataFrame:
        return self.store.read(self.FPROWS, FPROWS_SCHEMA, buckets)

    def fps(self) -> DataFrame:
        return self.store.read(self.FPS, FPS_SCHEMA)

    def doclens(self) -> DataFrame:
        return self.store.read(self.DOCLEN, DOCLEN_SCHEMA)

    def dup_spans(self) -> DataFrame:
        """Maximal duplicated-substring spans from the MAINTAINED state
        alone — (doc_id, span_start, span_end, n_fp), the island merge
        of operators/substrings.substring_dup_spans replayed over
        stored fingerprints (text never re-read). The duplicated-hash
        groupBy key is the bucket key — map-side partials never cross
        buckets."""
        fps = self.fprows()
        dup_hashes = (
            fps.groupBy("fhash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .select("fhash")
        )
        hits = fps.join(dup_hashes, "fhash").select("doc_id", "pos")
        w_ord = Window.partitionBy("doc_id").orderBy("pos")
        islands = hits.withColumn(
            "_brk",
            F.when(
                F.coalesce(
                    F.col("pos") - F.lag("pos").over(w_ord),
                    F.lit(SUB.WIN_GAP + 1),
                )
                > SUB.WIN_GAP,
                F.lit(1),
            ).otherwise(F.lit(0)),
        ).withColumn(
            "_grp",
            F.sum("_brk").over(
                w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        return islands.groupBy("doc_id", "_grp").agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + SUB.WIN_K - 1).alias("span_end"),
            F.count(F.lit(1)).alias("n_fp"),
        ).select("doc_id", "span_start", "span_end", "n_fp")

    def dedup_report(self) -> DataFrame:
        """Corpus-wide duplicated-substring coverage from the MAINTAINED
        state — equal to substring_dedup_report over the live corpus,
        zero-filled from the doclen table instead of a corpus scan."""
        spans = self.dup_spans()
        per_doc = spans.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("n_dup_spans"),
            F.sum(F.col("span_end") - F.col("span_start") + 1).alias(
                "dup_chars"
            ),
        )
        return (
            self.doclens()
            .join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_dup_spans", F.lit(0).cast("long")).alias(
                    "n_dup_spans"
                ),
                F.coalesce("dup_chars", F.lit(0).cast("long")).alias(
                    "dup_chars"
                ),
                F.round(
                    F.coalesce("dup_chars", F.lit(0))
                    / F.greatest(F.col("doc_len"), F.lit(1)),
                    6,
                ).alias("dup_frac"),
            )
        )

    def screen_batch(self, docs: DataFrame) -> DataFrame:
        """Screen an ingest batch against the MAINTAINED index: winnow
        the batch only, read ONLY the batch fingerprints' bucket files,
        one equi-join on fhash. Output (new_id, new_pos, corpus_id,
        corpus_pos, fhash) — every stored fingerprint a batch document
        shares, i.e. every >= W+K-1-char verbatim overlap with the
        corpus surfaces here before ingest."""
        store = self.store
        qfp = SUB.winnow_fingerprints(
            _live_docs(docs)
        ).localCheckpoint(eager=True)
        probe_buckets = store.touched_buckets(qfp, "fhash")
        idx = self.fprows(buckets=probe_buckets)
        return (
            qfp.alias("a")
            .join(idx.alias("b"), F.col("a.fhash") == F.col("b.fhash"))
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("new_id"),
                F.col("a.pos").alias("new_pos"),
                F.col("b.doc_id").alias("corpus_id"),
                F.col("b.pos").alias("corpus_pos"),
                F.col("a.fhash").alias("fhash"),
            )
        )
