"""Incrementally-maintained IVF vector index: the ANN family's
end-to-end incremental path, the exact streaming sibling of the
inverted-index maintenance in streaming/retrieval_index.py.

The reference maintains its search index incrementally from a change
feed (S8 delete-then-insert link replace, src/storage.rs:205-237; S9
batch index sink, src/indexing.rs:61-115); production vector search has
the same shape — centroids are trained offline, and the serving index
is kept current by assigning ARRIVING vectors to cells, never by
rebuilding. This module composes that dataflow from the same parts the
inverted index uses:

* ``cells``   (vec_id, cell_id, embedding) — the IVF lists, one row per
  indexed vector, hash-bucketed by CELL_ID so a query reads only its
  probed cells' bucket files (the postings-by-term trick applied to
  vectors);
* ``vecmap``  (vec_id, cell_bucket) — per-vector manifest of the CELLS
  bucket its row lives in, hash-bucketed by VEC_ID (the batch's natural
  key for replace/delete).

Why the manifest: an UPDATED vector can move to a different cell, so
its old row lives in a bucket that is — by definition — absent from the
new assignment's bucket set; touched = old-manifest ∪ new-assignment
buckets is exact and bounded (the identical argument to the dropped-term
manifest in retrieval_index.py). Both tables are written by
``BucketedParquetStateStore.reindex``: cells (derived) before vecmap
(manifest), the crash order its module docstring argues.

Centroids are PINNED at index creation (stored in the state root):
incremental maintenance can only converge to the batch build if every
batch assigns against the same centroid set — exactly how production
IVF deployments behave (codebooks retrain offline; assignment is
online). With the pinned medoid rule the streamed state provably equals
``similarity.ivf_assign`` over the union corpus, and ``ann_topk``
equals ``similarity.ivf_ann_neighbors`` bit-for-bit (same 6dp cosine
rounding, same tie-breaks) — which is what lets the registered
streaming query reuse the batch IVF oracle.

Scale shape: a micro-batch rewrites O(batch + touched buckets), never
the full index; a query reads ~nprobe/K of the corpus AND only the
probed cells' bucket FILES (inputFiles-level pruning, plan-asserted in
tests). Deletes: a batch row with an empty embedding removes the vector
(its old cell row and manifest row are deleted, nothing re-inserted).

ADC serving (adc_topk): when the index is created with pinned
``codebook_vectors`` (the same offline-train/online-assign split as the
centroids), apply_batch additionally maintains each vector's PQ code in
the cells rows, and queries can be served by ASYMMETRIC DISTANCE over
the stored codes — scoring identical to similarity.pq_adc_topk (pinned:
probing every cell reproduces it bit-for-bit), with the candidate scan
projecting (vec_id, cell_id, code) only, so parquet column pruning
keeps the embedding bytes off the wire (the FAISS IVFADC memory story
as an IO property of the columnar layout; plan-asserted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.operators.similarity import (
    _dot,
    _norm,
    _pq_subspaces,
    _sub_l2,
    ivf_assign,
)
from worker_spark.plans.bucketed_state import BucketedParquetStateStore

CELLS_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
        # PQ code (one codeword id per subspace) — populated when the
        # index was created with pinned codebook vectors, null otherwise.
        # adc_topk reads ONLY (vec_id, cell_id, code): parquet column
        # pruning means compressed-candidate scoring never pays the
        # embedding bytes (the FAISS IVFADC memory story, for free from
        # the columnar layout)
        T.StructField("code", T.ArrayType(T.LongType()), True),
    ]
)
VECMAP_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        # manifest: the cells bucket this vector's row occupies
        T.StructField("cell_bucket", T.IntegerType(), False),
    ]
)
CENTROIDS_SCHEMA = T.StructType(
    [
        T.StructField("cent_id", T.LongType(), False),
        T.StructField("embedding", T.ArrayType(T.FloatType()), False),
    ]
)


class IncrementalVectorIndex:
    """IVF cell lists + per-vector manifest with per-batch bucket-scoped
    MERGE maintenance, and an ANN scorer over the maintained state."""

    # column order is part of the replay contract (feed.last_wins)
    FEED_SCHEMA = T.StructType(
        [
            T.StructField("vec_id", T.LongType(), True),
            T.StructField("embedding", T.ArrayType(T.FloatType()), True),
        ]
    )

    CELLS = "cells"
    VECMAP = "vecmap"
    CENTROIDS = "centroids"
    CODEBOOK = "cbvecs"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        centroids: DataFrame | None = None,
        codebook_vectors: DataFrame | None = None,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.store = BucketedParquetStateStore(spark, root, n_buckets)
        self._pin_table(
            self.CENTROIDS,
            centroids,
            required=True,
            what="centroid set (train offline / pick medoids, then pin here)",
        )
        # optional: pin PQ codebook source rows to maintain per-vector
        # codes for ADC serving (adc_topk); same offline-train/online-
        # assign split and the same one-pinned-set convergence argument
        # as the centroids
        self._pin_table(
            self.CODEBOOK, codebook_vectors, required=False, what="codebook"
        )

    def _pin_table(
        self, table: str, df: DataFrame | None, required: bool, what: str
    ) -> None:
        """Pin a write-once table (centroids / codebook). Two loud-
        failure guards (round-9 advice): a TORN first pin — bucket dirs
        present but the post-commit schema witness absent, i.e. a crash
        mid-swap left PARTIAL data with no replay path to heal it — is
        wiped and re-pinned when the caller supplies the frame, and
        refused with a reseed error when it does not (silently serving
        partial centroids would diverge every assignment from the batch
        oracle); and an EMPTY pinned frame is rejected up front —
        zero centroids assign nothing and an empty codebook's encode
        join drops every row, so every later apply_batch would silently
        index nothing while exists() reports the index as created."""
        if self.store.exists(table):
            if not self.store.has_schema_witness(table):
                if df is None:
                    raise ValueError(
                        f"{self.store.root}: {table} has bucket data but "
                        "no post-commit schema witness — a torn first "
                        f"pin; reopen the index with the {what} frame to "
                        "reseed it"
                    )
                self.store.drop(table)  # partial data from a torn pin
            else:
                if df is not None:
                    raise ValueError(
                        f"{self.store.root}: {table} is already pinned for "
                        "this index root — incremental assignment only "
                        "converges against ONE pinned set; build a fresh "
                        "root to retrain"
                    )
                return
        if df is None:
            if required:
                raise ValueError(
                    f"{self.store.root}: a new index needs its {what}"
                )
            return
        pinned = df.select(
            F.col("vec_id").cast("long").alias("cent_id"),
            "embedding",
        )
        if pinned.isEmpty():
            raise ValueError(
                f"{self.store.root}: refusing to pin an EMPTY {what} — "
                "the index would silently drop every insert"
            )
        self.store.write(table, pinned, keys=["cent_id"])

    # --- maintenance ----------------------------------------------------

    def centroids(self) -> DataFrame:
        return self.store.read(self.CENTROIDS, CENTROIDS_SCHEMA)

    def has_codebook(self) -> bool:
        return self.store.exists(self.CODEBOOK)

    def codebook_vectors(self) -> DataFrame:
        return self.store.read(self.CODEBOOK, CENTROIDS_SCHEMA)

    def _encode(self, live: DataFrame) -> DataFrame:
        """(vec_id, code): each vector's PQ code — per subspace, the id
        of its nearest pinned codebook entry (argmin over the broadcast
        codebook sub-distance table via a map-side-combining min_by, the
        exact encoding of similarity.pq_adc_topk restricted to the batch
        rows), packed into a subspace-ordered array."""
        vsub = _pq_subspaces(live, "vid", "vec_id", "embedding")
        csub = _pq_subspaces(
            self.codebook_vectors(), "cent_id", "cent_id", "embedding"
        )
        sd = (
            vsub.alias("vsub")
            .join(F.broadcast(csub.alias("csub")), "s")
            .select(
                "vid",
                "s",
                "cent_id",
                _sub_l2(F.col("vsub.v"), F.col("csub.v")).alias("d"),
            )
        )
        per_sub = sd.groupBy("vid", "s").agg(
            F.min_by("cent_id", F.struct("d", "cent_id")).alias("c")
        )
        return (
            per_sub.groupBy(F.col("vid").alias("vec_id"))
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("s", "c"))
                ).alias("_sc")
            )
            .select(
                "vec_id",
                F.transform(F.col("_sc"), lambda e: e["c"]).alias("code"),
            )
        )

    def apply_batch(self, vectors: DataFrame, batch_id: int | None = None) -> None:
        """The foreachBatch body: delete-then-insert the batch vectors'
        cell rows (an updated vector replaces its assignment, possibly
        in a different cell; a replayed batch rewrites identical rows —
        replays are no-ops) and refresh the manifest. An empty-embedding
        row is a delete. A batch carrying several versions of one
        vec_id (a trigger merging a draft file and its correction) is
        reduced to one row per key FIRST — last-wins (feed.last_wins);
        without it the cells join re-expanded to one row per duplicate
        and ann_topk returned the same candidate twice. Only the
        buckets named by the batch's manifest are read or rewritten."""
        from worker_spark.streaming.feed import last_wins

        store = self.store
        raw = vectors.select(
            F.col("vec_id").cast("long").alias("vec_id"),
            "embedding",
        )
        batch = last_wins(raw, ["vec_id"])
        live = batch.filter(F.size("embedding") > 0)
        cents = self.centroids().select(
            F.col("cent_id").alias("vec_id"), "embedding"
        )
        assign = ivf_assign(live, cents).join(live, "vec_id")
        if self.has_codebook():
            assign = assign.join(self._encode(live), "vec_id")
        else:
            assign = assign.withColumn(
                "code", F.lit(None).cast(T.ArrayType(T.LongType()))
            )
        # lazy checkpoints (r15 job-count discipline): reindex's two
        # bucket collects materialize batch_ids and assign before
        # either table's swap
        assign = assign.select(
            "vec_id", "cell_id", "embedding", "code"
        ).localCheckpoint(eager=False)
        # batch_ids from the RAW batch: the key set is identical before
        # and after last_wins, and deriving it from the deduped frame
        # would run the dedup agg a second time
        batch_ids = (
            raw.select("vec_id").distinct().localCheckpoint(eager=False)
        )

        store.reindex(
            batch_ids,
            self.VECMAP,
            VECMAP_SCHEMA,
            assign.select(
                "vec_id",
                store.bucket_of("cell_id").alias("cell_bucket"),
            ),
            self.CELLS,
            CELLS_SCHEMA,
            assign,
            "cell_id",
            lambda old: old.select("cell_bucket"),
        )

    def clone_rebucketed(
        self, new_root: str, n_buckets: int
    ) -> "IncrementalVectorIndex":
        """Resize the index into a fresh root (the blue/green re-shard
        of BucketedParquetStateStore.clone_rebucketed): O(state) once,
        old root stays live, pinned centroids/codebook carry over.
        vecmap stores each vector's CELLS-bucket id — modulus-dependent
        data — so it is recomputed from the cells under the NEW
        modulus; cloned verbatim, a later update would consult stale
        bucket ids and strand the vector's old cell row (the manifest
        failure mode, regression-tested on the retrieval twin)."""

        def _remanifest(vecmap: DataFrame, new_store) -> DataFrame:
            return self.cells().select(
                "vec_id",
                new_store.bucket_of(F.col("cell_id"))
                .cast("int")
                .alias("cell_bucket"),
            )

        self.store.clone_rebucketed(
            new_root, n_buckets, transforms={self.VECMAP: _remanifest}
        )
        return IncrementalVectorIndex(self.spark, new_root)

    def recluster(
        self,
        new_root: str,
        new_centroids: DataFrame | None = None,
        n_buckets: int | None = None,
    ) -> "IncrementalVectorIndex":
        """Centroid refresh (retrain) as a blue/green migration — the
        lifecycle step production IVF deployments hit when the corpus
        outgrows its codebook: cell lists skew and the probed fraction
        nprobe/K stops shrinking, so you retrain with more cells and
        migrate (the reference's swap-the-index-then-cut-over sink
        discipline, src/indexing.rs:61-115, applied to the quantizer).

        The maintained index cannot swap centroids IN PLACE: every
        stored assignment derives from the pinned set (the convergence
        contract — that pin is what makes streamed state equal the
        batch build), so a retrain is a FRESH ROOT: pin the new
        centroid set, re-assign the CURRENT state's vectors in one bulk
        MERGE, and recompute the manifest under the new assignment.
        The corpus is never re-read from source — the state's own
        embedding column is the input — and the old root stays live for
        serving until the caller cuts the maintenance stream over
        (blue/green, the clone_rebucketed discipline). Reusing
        apply_batch for the bulk load makes equality to a batch build
        against the new centroids hold by construction (same
        assignment, same encode, same manifest math); O(state) once per
        retrain, the same cost class as a capacity re-shard.

        ``new_centroids`` defaults to retraining FROM THE MAINTAINED
        STATE via the family's medoid rule: every
        auto_centroid_stride(N)-th vec_id, N the indexed-vector count —
        the K ~ sqrt(N) sizing that keeps assignment O(N^1.5)
        (similarity.auto_centroid_stride). Stored PQ codes are
        centroid-independent (they quantize the vector, not the cell),
        so a pinned codebook carries over and re-encoding reproduces
        the identical codes — ADC serving survives the retrain."""
        from worker_spark.operators.similarity import auto_centroid_stride

        import os

        # side-effect-free tables() probe: constructing a store here
        # would create the root and pin n_buckets even when refusing
        leftovers = (
            sorted(
                n
                for n in os.listdir(new_root)
                if os.path.isdir(os.path.join(new_root, n))
            )
            if os.path.isdir(new_root)
            else []
        )
        if leftovers:
            raise ValueError(
                f"{new_root}: target root already holds tables "
                f"{leftovers} — an aborted recluster's bulk load can be "
                "torn (cells swapped, manifest not yet), and converging "
                "over it is not replay-safe; discard the root and rerun "
                "(the clone_rebucketed discipline)"
            )
        vectors = self.cells().select("vec_id", "embedding")
        if new_centroids is None:
            stride = auto_centroid_stride(vectors.count())
            new_centroids = vectors.filter(
                F.col("vec_id") % stride == 0
            )
        want_buckets = n_buckets or self.store.n_buckets
        new_index = IncrementalVectorIndex(
            self.spark,
            new_root,
            centroids=new_centroids,
            codebook_vectors=(
                self.codebook_vectors().select(
                    F.col("cent_id").alias("vec_id"),
                    "embedding",
                )
                if self.has_codebook()
                else None
            ),
            n_buckets=want_buckets,
        )
        if new_index.store.n_buckets != want_buckets:
            # a crashed earlier attempt can leave ONLY the store's
            # n_buckets meta pin (no table dirs — invisible to the
            # leftovers probe above); the stored layout wins in the
            # store constructor, so refuse rather than silently
            # discard the caller's modulus (review finding)
            raise ValueError(
                f"{new_root}: an aborted attempt pinned n_buckets="
                f"{new_index.store.n_buckets} (requested "
                f"{want_buckets}); discard the root and rerun"
            )
        new_index.apply_batch(vectors)
        return new_index

    def cell_stats(self) -> DataFrame:
        """(cell_id, n_vectors): the IVF list-length profile from
        maintained state — one bounded agg on the bucket key (K rows),
        no corpus scan. The monitoring table behind recluster_advice
        and the input a cell-balance dashboard would chart."""
        return self.cells().groupBy("cell_id").agg(
            F.count(F.lit(1)).alias("n_vectors")
        )

    def recluster_advice(self, drift_ratio: float = 4.0) -> dict:
        """The drift monitor production IVF serving polls to decide
        WHEN to retrain (recluster is the how): compares the pinned
        centroid count K against the family's K ~ sqrt(N) sizing rule
        at the CURRENT corpus size. An index created when the corpus
        was small keeps its pinned K while N grows — probed fraction
        nprobe/K stops shrinking and per-cell scan cost grows linearly
        — until K drifts a factor of ``drift_ratio`` from the rule (in
        either direction: over-clustering starves cells below the
        min-cell floor) and a retrain is advised. Cell-size skew
        (max/mean list length) is reported alongside as the secondary
        signal. Cost: one pass over cells (the K-row profile also
        yields N as its sum) + a centroid count — cheap enough to run
        per maintenance tick."""
        from worker_spark.operators.similarity import auto_centroid_stride

        sizes = [r["n_vectors"] for r in self.cell_stats().collect()]
        n = sum(sizes)  # ONE pass over cells serves both n and the profile
        k = max(1, self.centroids().count())
        want_k = max(1, round(n / auto_centroid_stride(n))) if n else 1
        drift = max(want_k / k, k / want_k)
        mean_cell = (sum(sizes) / len(sizes)) if sizes else 0.0
        max_cell = max(sizes) if sizes else 0
        return {
            "n_vectors": n,
            "k": k,
            "want_k": want_k,
            "k_drift": round(drift, 3),
            "max_cell": max_cell,
            "mean_cell": round(mean_cell, 3),
            "cell_skew": round(max_cell / mean_cell, 3) if mean_cell else 0.0,
            "needs_recluster": drift >= drift_ratio,
        }

    def fsck(self) -> dict[str, int]:
        """Index-level consistency check (after surgery/migration):
        placement for every table including the pinned sets, then the
        manifest — each vecmap row's stored cell_bucket must equal the
        bucket of the vector's actual cells row, one row per vec_id on
        both sides (a drifted manifest makes later updates miss the old
        cell's bucket and strand the row). Raises on violation; returns
        checked row counts."""
        counts = {
            t: self.store.verify_layout(t)
            for t in ([self.CELLS, self.VECMAP, self.CENTROIDS]
                      + ([self.CODEBOOK] if self.has_codebook() else []))
        }
        derived = self.cells().select(
            "vec_id",
            self.store.bucket_of(F.col("cell_id"))
            .cast("int")
            .alias("_cb"),
        )
        vm = self.store.read(self.VECMAP, VECMAP_SCHEMA)
        bad = (
            vm.join(derived, "vec_id", "full_outer")
            .filter(
                F.col("cell_bucket").isNull()
                | F.col("_cb").isNull()
                | (F.col("cell_bucket") != F.col("_cb"))
            )
            .count()
        )
        if bad:
            raise RuntimeError(
                f"{self.store.root}: {bad} vectors have a manifest "
                "drifted from their cells row — later updates would "
                "strand stale cell rows; reseed or replay"
            )
        return counts

    # --- read side --------------------------------------------------------

    def cells(self, buckets: list[int] | None = None) -> DataFrame:
        return self.store.read(self.CELLS, CELLS_SCHEMA, buckets)

    def semdedup_prune(self, vectors: DataFrame, tau: float | None = None):
        """SemDeDup semantic pruning served from the MAINTAINED cell
        assignment (r12): the N*K coarse-assignment stage — the half of
        batch semantic_dedup whose cost grows with the corpus times the
        codebook — is amortized into index maintenance; serving joins
        the stored cells to the corpus vectors and pays only the
        within-cell pair verdicts (~N^2/K). ``vectors`` must be the
        corpus this index maintains (the cells cover exactly its ids);
        the maintained assignment provably equals the batch ivf_assign
        against the same pinned centroids, so the batch semdedup oracle
        serves the output unchanged."""
        from worker_spark.operators import similarity as S

        if tau is None:
            tau = S.SEMDEDUP_TAU
        cells = self.cells().select("vec_id", "cell_id")
        return S.semantic_dedup(vectors, tau=tau, cells=cells)

    def _query_side(self, queries: DataFrame) -> DataFrame:
        return queries.select(
            F.col("vec_id").cast("long").alias("q_id"),
            F.col("embedding").alias("q_vec"),
            _norm(F.col("embedding")).alias("q_norm"),
        )

    def _probes(self, q: DataFrame, nprobe: int) -> DataFrame:
        """(q_id, cell_id): each query's nprobe max-cosine pinned
        centroids — ONE definition shared by the exact and the ADC
        serving paths (same 6dp rounding / tie-breaks as
        similarity.ivf_ann_neighbors)."""
        from pyspark.sql import Window

        c = self.centroids().select(
            "cent_id",
            F.col("embedding").alias("cent_vec"),
            _norm(F.col("embedding")).alias("cent_norm"),
        )
        q_scored = q.crossJoin(F.broadcast(c)).select(
            "q_id",
            "cent_id",
            F.round(
                F.try_divide(
                    _dot(F.col("q_vec"), F.col("cent_vec")),
                    F.col("q_norm") * F.col("cent_norm"),
                ),
                6,
            ).alias("_sim"),
        )
        wp = Window.partitionBy("q_id").orderBy(
            F.desc_nulls_last("_sim"), F.asc("cent_id")
        )
        return (
            q_scored.withColumn("_rn", F.row_number().over(wp))
            .filter(F.col("_rn") <= nprobe)
            .select("q_id", F.col("cent_id").alias("cell_id"))
            # checkpoint once: touched_buckets collects over this plan
            # and the candidate join consumes it again — without the
            # checkpoint the q x K probe scoring runs twice (review
            # finding; screen_batch set the pattern). Lazy: the probe
            # collect materializes it (read side, no swaps in flight)
            .localCheckpoint(eager=False)
        )

    def ann_topk(
        self,
        queries: DataFrame,
        nprobe: int = 2,
        top_k: int = 5,
    ) -> DataFrame:
        """IVF ANN over the MAINTAINED state: probe each query's nprobe
        nearest pinned centroids, read ONLY the probed cells' bucket
        files, exact cosine inside them — bit-identical semantics to
        similarity.ivf_ann_neighbors against the same centroid set
        (same 6dp rounding, same tie-breaks), which is the equality the
        registered streaming query's oracle relies on."""
        from pyspark.sql import Window

        store = self.store
        q = self._query_side(queries)
        probes = self._probes(q, nprobe)
        probed_buckets = store.touched_buckets(probes, "cell_id")
        cand = (
            self.cells(buckets=probed_buckets)
            .join(probes, "cell_id")
            .filter(F.col("q_id") != F.col("vec_id"))
            .select(
                "q_id",
                F.col("vec_id").alias("c_id"),
                F.col("embedding").alias("c_vec"),
                _norm(F.col("embedding")).alias("c_norm"),
            )
        )
        sims = cand.join(F.broadcast(q), "q_id").select(
            "q_id",
            "c_id",
            F.round(
                F.try_divide(
                    _dot(F.col("q_vec"), F.col("c_vec")),
                    F.col("q_norm") * F.col("c_norm"),
                ),
                6,
            ).alias("cos_sim"),
        )
        wk = Window.partitionBy("q_id").orderBy(
            F.desc_nulls_last("cos_sim"), F.asc("c_id")
        )
        return (
            sims.withColumn("rnk", F.row_number().over(wk))
            .filter(F.col("rnk") <= top_k)
            .select(
                "q_id", "c_id", "cos_sim", F.col("rnk").cast("int").alias("rnk")
            )
        )

    def adc_topk(
        self,
        queries: DataFrame,
        nprobe: int = 2,
        top_k: int = 5,
    ) -> DataFrame:
        """IVFADC serving from MAINTAINED state: the same cell probe as
        ann_topk, but candidates are scored by ASYMMETRIC DISTANCE over
        their STORED PQ codes — one broadcast of the query-to-codebook
        sub-distance table, a (subspace, codeword) equi-join, a summed
        decimal distance (exactly similarity.pq_adc_topk's scoring,
        restricted to the probed cells). The candidate read projects
        (vec_id, cell_id, code) ONLY, so parquet column pruning keeps
        the embedding bytes off the wire — compressed-candidate scoring
        is an IO property of the layout here, not a separate table.
        Requires the index to have been created with pinned
        codebook_vectors."""
        from pyspark.sql import Window

        q = self._query_side(queries)
        probes = self._probes(q, nprobe)
        adc = self._adc_scores(q, probes)
        wk = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("c_id"))
        return (
            adc.withColumn("rnk", F.row_number().over(wk))
            .filter(F.col("rnk") <= top_k)
            .select(
                "q_id",
                "c_id",
                F.round(F.col("adc").cast("double"), 6).alias("adc_dist"),
                F.col("rnk").cast("int").alias("rnk"),
            )
        )

    def _adc_scores(
        self,
        q: DataFrame,
        probes: DataFrame,
        probed_buckets: list[int] | None = None,
    ) -> DataFrame:
        """(q_id, c_id, adc): asymmetric distances of every probed-cell
        candidate — the shared scoring of adc_topk and adc_refined_topk.
        ``probed_buckets`` lets a caller that also prunes by the probes
        (the refined path's exact re-rank) pay the probe collect once."""
        if not self.has_codebook():
            raise ValueError(
                f"{self.store.root}: ADC serving needs codebook_vectors "
                "pinned at index creation"
            )
        store = self.store
        if probed_buckets is None:
            probed_buckets = store.touched_buckets(probes, "cell_id")
        # query-to-codebook sub-distance lookup table (tiny: nq x M x K)
        qsub = _pq_subspaces(
            q.select(F.col("q_id").alias("vec_id"), F.col("q_vec").alias("embedding")),
            "q_id",
            "vec_id",
            "embedding",
        )
        csub = _pq_subspaces(
            self.codebook_vectors(), "cent_id", "cent_id", "embedding"
        )
        qd = (
            qsub.alias("qsub")
            .join(F.broadcast(csub.alias("csub")), "s")
            .select(
                "q_id",
                "s",
                "cent_id",
                _sub_l2(F.col("qsub.v"), F.col("csub.v")).alias("d"),
            )
        )
        cand_codes = (
            self.cells(buckets=probed_buckets)
            .select("vec_id", "cell_id", "code")  # embedding pruned away
            .join(probes, "cell_id")
            .filter(F.col("q_id") != F.col("vec_id"))
            .select(
                "q_id",
                F.col("vec_id").alias("c_id"),
                F.posexplode("code").alias("s", "codeword"),
            )
        )
        return (
            cand_codes.alias("cc")
            .join(
                F.broadcast(qd.alias("qd")),
                (F.col("cc.q_id") == F.col("qd.q_id"))
                & (F.col("cc.s") == F.col("qd.s"))
                & (F.col("cc.codeword") == F.col("qd.cent_id")),
            )
            .groupBy(F.col("cc.q_id").alias("q_id"), "c_id")
            .agg(F.sum("d").alias("adc"))
        )

    def adc_refined_topk(
        self,
        queries: DataFrame,
        nprobe: int = 2,
        top_k: int = 5,
        shortlist: int = 50,
    ) -> DataFrame:
        """IVFADC + exact refine from MAINTAINED state — the standard
        production serving ladder: coarse cell probe, ADC shortlist over
        stored codes (embedding bytes pruned), then exact squared-L2
        re-rank reading embeddings ONLY for the nq x shortlist
        survivors (similarity._exact_l2_rerank's rounding/tie-breaks, so
        probing every cell reproduces the batch pq_adc_refined_topk
        exactly — test-pinned)."""
        from pyspark.sql import Window

        from worker_spark.operators.similarity import _l2_rounded

        q = self._query_side(queries)
        probes = self._probes(q, nprobe)
        probed_buckets = self.store.touched_buckets(probes, "cell_id")
        adc = self._adc_scores(q, probes, probed_buckets=probed_buckets)
        wsl = Window.partitionBy("q_id").orderBy(F.asc("adc"), F.asc("c_id"))
        sl = (
            adc.withColumn("_rn", F.row_number().over(wsl))
            .filter(F.col("_rn") <= shortlist)
            .select("q_id", "c_id")
        )
        cvecs = self.cells(buckets=probed_buckets).select(
            F.col("vec_id").alias("c_id"), F.col("embedding").alias("cv")
        )
        wk = Window.partitionBy("q_id").orderBy(
            F.asc("l2_dist"), F.asc("c_id")
        )
        return (
            sl.join(
                F.broadcast(q.select("q_id", F.col("q_vec").alias("qv"))),
                "q_id",
            )
            .join(cvecs, "c_id")
            .select(
                "q_id",
                "c_id",
                _l2_rounded(F.col("qv"), F.col("cv")).alias("l2_dist"),
            )
            .withColumn("rnk", F.row_number().over(wk))
            .filter(F.col("rnk") <= top_k)
            .select(
                "q_id",
                "c_id",
                "l2_dist",
                F.col("rnk").cast("int").alias("rnk"),
            )
        )
