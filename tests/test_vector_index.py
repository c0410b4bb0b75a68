"""Incremental IVF vector index (streaming/vector_index.py): the
streamed, batch-at-a-time index must converge EXACTLY to the batch IVF
build against the pinned centroid set — assignments and ANN results are
deterministic (6dp cosine rounding, id tie-breaks), so equality is
exact. Plus the MERGE semantics: replays are no-ops, updated vectors
MOVE between cells via the manifest, empty embeddings delete; and the
bucket economics: a small batch rewrites only its touched buckets, a
query reads only its probed cells' bucket files."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.operators.similarity import ivf_ann_neighbors, ivf_assign
from worker_spark.sources import load_table
from worker_spark.streaming.vector_index import IncrementalVectorIndex


def _emb(spark):
    return load_table(spark, SF_ORACLE, "embeddings").select(
        "vec_id", "embedding"
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_duplicate_keys_in_one_batch_are_last_wins(spark, tmp_path):
    """Round-9 advice (medium): two versions of one vec_id inside a
    single batch must index ONLY the later-file version — exactly one
    cells/vecmap row per key (the join back to the batch used to
    re-expand to one row per duplicate, and ann_topk returned the same
    candidate twice)."""
    from tests.test_incremental_retrieval import _two_file_batch

    emb = _emb(spark).limit(200).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    victim = emb.filter(F.col("vec_id") == 7).collect()[0]
    flipped = [-x for x in victim["embedding"]]
    batch = _two_file_batch(
        spark,
        tmp_path,
        "vec_id long, embedding array<float>",
        [(7, list(victim["embedding"]))],
        [(7, flipped)],
    )
    idx = IncrementalVectorIndex(spark, str(tmp_path / "v"), centroids=cents)
    idx.apply_batch(emb.filter(F.col("vec_id") != 7))
    idx.apply_batch(batch)
    mine = idx.cells().filter(F.col("vec_id") == 7).collect()
    assert len(mine) == 1  # one row per key, not one per duplicate
    want_cell = ivf_assign(
        spark.createDataFrame(
            [(7, flipped)], "vec_id long, embedding array<float>"
        ),
        cents,
    ).collect()[0]["cell_id"]
    assert mine[0]["cell_id"] == want_cell  # the LATER version's cell
    # and serving returns no duplicate candidates
    res = idx.ann_topk(emb.filter(F.col("vec_id") == 100), top_k=200)
    pairs = [(r["q_id"], r["c_id"]) for r in res.collect()]
    assert len(pairs) == len(set(pairs))


def test_incremental_ivf_converges_to_batch_build(spark, tmp_path):
    emb = _emb(spark).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 100 == 0)
    idx = IncrementalVectorIndex(spark, str(tmp_path / "v"), centroids=cents)
    for residue in range(3):
        idx.apply_batch(emb.filter(F.col("vec_id") % 3 == residue))
    got = _rows(idx.cells().select("vec_id", "cell_id"))
    want = _rows(ivf_assign(emb, cents))
    assert got == want
    queries = emb.filter(F.col("vec_id") % 20 == 0)
    assert _rows(idx.ann_topk(queries, nprobe=2, top_k=5)) == _rows(
        ivf_ann_neighbors(queries, emb, centroid_every=100, nprobe=2, top_k=5)
    )


def test_update_moves_vector_between_cells_and_replays_are_noops(
    spark, tmp_path
):
    """The manifest path: an updated vector's old cell row lives in a
    bucket absent from the new assignment's bucket set; it must still be
    deleted. Then a replay of the same batch changes nothing."""
    emb = _emb(spark).limit(300).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    idx = IncrementalVectorIndex(spark, str(tmp_path / "v"), centroids=cents)
    idx.apply_batch(emb)
    before = {r["vec_id"]: r["cell_id"] for r in idx.cells().collect()}

    victim = 7
    assert victim in before
    flipped = emb.filter(F.col("vec_id") == victim).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(-x as float))").alias(
            "embedding"
        ),
    ).localCheckpoint(eager=True)
    idx.apply_batch(flipped)
    after = {r["vec_id"]: r["cell_id"] for r in idx.cells().collect()}
    assert set(after) == set(before)  # still one row per vector
    assert after[victim] != before[victim]  # negation flips the argmax
    untouched = {k: v for k, v in before.items() if k != victim}
    assert {k: v for k, v in after.items() if k != victim} == untouched

    # replay: identical batch -> identical state
    idx.apply_batch(flipped)
    assert {r["vec_id"]: r["cell_id"] for r in idx.cells().collect()} == after

    # delete: empty embedding removes the vector and its manifest row
    idx.apply_batch(
        spark.createDataFrame(
            [(victim, [])], "vec_id long, embedding array<float>"
        )
    )
    assert victim not in {r["vec_id"] for r in idx.cells().collect()}
    from worker_spark.streaming.vector_index import VECMAP_SCHEMA

    vm = idx.store.read("vecmap", VECMAP_SCHEMA)
    assert vm.filter(F.col("vec_id") == victim).count() == 0


def test_small_batch_rewrites_only_touched_buckets(spark, tmp_path):
    emb = _emb(spark).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    root = str(tmp_path / "v")
    idx = IncrementalVectorIndex(spark, root, centroids=cents)
    idx.apply_batch(emb)
    c_dir = os.path.join(root, "cells")
    m_dir = os.path.join(root, "vecmap")
    c_before, m_before = _bucket_snapshot(c_dir), _bucket_snapshot(m_dir)

    victim = 13
    upd = emb.filter(F.col("vec_id") == victim).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(-x as float))").alias(
            "embedding"
        ),
    )
    old_cell = (
        idx.cells().filter(F.col("vec_id") == victim).collect()[0]["cell_id"]
    )
    idx.apply_batch(upd)
    new_cell = (
        idx.cells().filter(F.col("vec_id") == victim).collect()[0]["cell_id"]
    )
    cells_changed = _changed(c_before, _bucket_snapshot(c_dir))
    map_changed = _changed(m_before, _bucket_snapshot(m_dir))
    exp_cells = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            spark.createDataFrame(
                [(old_cell,), (new_cell,)], "cell_id long"
            ),
            "cell_id",
        )
    }
    exp_map = {
        f"b{b:05d}"
        for b in idx.store.touched_buckets(
            spark.createDataFrame([(victim,)], "vec_id long"), "vec_id"
        )
    }
    assert cells_changed == exp_cells
    assert map_changed == exp_map


def test_ann_reads_only_probed_cell_buckets(spark, tmp_path):
    """The cell-bucketing payoff: the ANN scorer's cells FileScan lists
    ONLY the buckets containing the probed cells — file-level pruning a
    reader gets for free from the layout (the postings-by-term assertion
    applied to vectors)."""
    emb = _emb(spark).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 100 == 0)
    idx = IncrementalVectorIndex(spark, str(tmp_path / "v"), centroids=cents)
    idx.apply_batch(emb)
    queries = emb.filter(F.col("vec_id") == 20)
    df = idx.ann_topk(queries, nprobe=2, top_k=5)
    scanned = {
        m.group(1)
        for f in df.inputFiles()
        if (m := re.search(r"cells/(b\d{5})/", f))
    }
    assert scanned  # the cells table is being read at all
    assert len(scanned) <= 2  # nprobe=2 cells -> at most 2 buckets
    assert len(_bucket_snapshot(os.path.join(str(tmp_path / "v"), "cells"))) > 2


def test_centroids_pin_per_root(spark, tmp_path):
    emb = _emb(spark).limit(100).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 20 == 0)
    root = str(tmp_path / "v")
    IncrementalVectorIndex(spark, root, centroids=cents)
    # a later session reopens without re-supplying centroids
    again = IncrementalVectorIndex(spark, root)
    assert again.centroids().count() == cents.count()
    # re-pinning is refused: assignment only converges against ONE set
    with pytest.raises(ValueError, match="pinned"):
        IncrementalVectorIndex(spark, root, centroids=emb.limit(3))


def test_empty_pin_is_refused(spark, tmp_path):
    """Round-9 advice: an EMPTY centroid (or codebook) frame must fail
    the pin loudly — zero centroids assign nothing, so every later
    apply_batch would silently drop all inserts while exists() reports
    the index as created."""
    emb = _emb(spark).limit(100).localCheckpoint(eager=True)
    none = emb.filter(F.col("vec_id") < 0)  # empty, same schema
    with pytest.raises(ValueError, match="EMPTY"):
        IncrementalVectorIndex(spark, str(tmp_path / "v1"), centroids=none)
    cents = emb.filter(F.col("vec_id") % 20 == 0)
    with pytest.raises(ValueError, match="EMPTY"):
        IncrementalVectorIndex(
            spark,
            str(tmp_path / "v2"),
            centroids=cents,
            codebook_vectors=none,
        )
    # neither failed pin may leave an existence witness behind
    idx = IncrementalVectorIndex(spark, str(tmp_path / "v1"), centroids=cents)
    assert idx.centroids().count() == cents.count()


def test_torn_first_pin_is_detected_and_reseedable(spark, tmp_path):
    """Round-9 advice: bucket dirs WITHOUT the post-commit _schema
    witness are a TORN first pin (crash mid-swap; a write-once table
    has no replay to heal it). Reopening without the frame must refuse
    loudly — NOT serve the partial centroid set — and reopening with
    the frame must wipe the partial data and re-pin."""
    import os as _os

    emb = _emb(spark).limit(100).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 20 == 0)
    root = str(tmp_path / "v")
    IncrementalVectorIndex(spark, root, centroids=cents)
    cdir = _os.path.join(root, "centroids")
    # simulate the crash between the last bucket swap and _persist_meta
    _os.remove(_os.path.join(cdir, "_schema"))
    _os.remove(_os.path.join(cdir, "_bucket_keys"))
    with pytest.raises(ValueError, match="torn"):
        IncrementalVectorIndex(spark, root)
    # ...and the 'already pinned' refusal must NOT fire for a torn pin:
    # supplying the frame reseeds instead
    idx = IncrementalVectorIndex(spark, root, centroids=cents)
    assert idx.centroids().count() == cents.count()
    assert idx.store.has_schema_witness("centroids")
    idx.apply_batch(emb)
    assert idx.cells().count() == emb.count()


def test_ann_serving_plan_shape(spark, tmp_path):
    """Serving plan: centroids ride a broadcast (never a shuffle join
    for the K-row probe table), no cartesian product over data rows,
    and the final top-k is a rank-limited window with the map-side
    combine Spark 4 provides."""
    emb = _emb(spark).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 100 == 0)
    idx = IncrementalVectorIndex(spark, str(tmp_path / "v"), centroids=cents)
    idx.apply_batch(emb)
    df = idx.ann_topk(emb.filter(F.col("vec_id") % 20 == 0))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan
    assert "WindowGroupLimit" in plan


def test_vector_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Kill-and-resume symmetry with the inverted index: a second
    availableNow stream over the same checkpoint processes only files
    landed after the first drain, and the maintained index still equals
    the batch build exactly."""
    import glob
    import shutil

    from worker_spark.streaming.feed import file_feed_stream

    emb = _emb(spark).limit(240).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    feed = str(tmp_path / "feed")
    os.makedirs(feed)

    def land(batch, name):
        stage = str(tmp_path / f"_stage_{name}")
        batch.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        shutil.move(part, os.path.join(feed, f"{name}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)

    land(emb.filter(F.col("vec_id") % 2 == 0), "b0")
    idx = IncrementalVectorIndex(spark, str(tmp_path / "v"), centroids=cents)
    ckpt = str(tmp_path / "ckpt")
    q = file_feed_stream(spark, feed, idx, ckpt)
    assert q.awaitTermination(120)

    land(emb.filter(F.col("vec_id") % 2 == 1), "b1")
    q2 = file_feed_stream(spark, feed, idx, ckpt)
    assert q2.awaitTermination(120)
    assert _rows(idx.cells().select("vec_id", "cell_id")) == _rows(
        ivf_assign(emb, cents)
    )


def test_adc_serving_matches_batch_pq_and_prunes_embedding_bytes(
    spark, tmp_path
):
    """IVFADC from maintained state, three pins: (a) probing EVERY cell
    reproduces the established similarity.pq_adc_topk EXACTLY (same
    codebook rows, same decimal scoring — the new serving path scores
    like the oracle-checked batch operator); (b) an incrementally-built
    index (batches + an update) serves the same ADC results as a
    single-batch build (code maintenance merges correctly); (c) the
    candidate scan reads (vec_id, cell_id, code) ONLY — the embedding
    column is pruned, which is the compressed-candidate IO claim."""
    from worker_spark.operators.similarity import pq_adc_topk

    emb = _emb(spark).limit(400).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    cbvecs = emb.filter(F.col("vec_id") % 40 == 0)
    n_cents = cents.count()

    idx = IncrementalVectorIndex(
        spark, str(tmp_path / "a"), centroids=cents, codebook_vectors=cbvecs
    )
    for residue in range(3):
        idx.apply_batch(emb.filter(F.col("vec_id") % 3 == residue))
    # an update batch re-encodes: flip one vector, then restore it, so
    # the final state is the canonical corpus reached THROUGH updates
    victim = 9
    idx.apply_batch(
        emb.filter(F.col("vec_id") == victim).select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(-x as float))").alias(
                "embedding"
            ),
        )
    )
    idx.apply_batch(emb.filter(F.col("vec_id") == victim))

    queries = emb.filter(F.col("vec_id") % 100 == 0)

    # (a) probe all cells == the batch PQ/ADC operator on the same rows
    got = _rows(idx.adc_topk(queries, nprobe=n_cents, top_k=5))
    want = _rows(
        pq_adc_topk(
            emb, k=5, codebook_stride=40, query_stride=100
        )
    )
    assert got == want

    # (b) incremental build == single-batch build
    one = IncrementalVectorIndex(
        spark, str(tmp_path / "b"), centroids=cents, codebook_vectors=cbvecs
    )
    one.apply_batch(emb)
    assert _rows(one.adc_topk(queries, nprobe=2, top_k=5)) == _rows(
        idx.adc_topk(queries, nprobe=2, top_k=5)
    )

    # (c) the candidate scan's ReadSchema has code but NOT embedding
    df = idx.adc_topk(queries, nprobe=2, top_k=5)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    cell_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "code" in ln and "cell_id" in ln
    ]
    assert cell_scans and all("embedding" not in ln for ln in cell_scans)


def test_adc_refined_serving_matches_batch_refine(spark, tmp_path):
    """The full serving ladder (probe -> ADC shortlist -> exact L2
    refine) from maintained state: probing every cell reproduces the
    batch pq_adc_refined_topk exactly — same shortlist, same rounding,
    same tie-breaks."""
    from worker_spark.operators.similarity import pq_adc_refined_topk

    emb = _emb(spark).limit(400).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    cbvecs = emb.filter(F.col("vec_id") % 40 == 0)
    idx = IncrementalVectorIndex(
        spark, str(tmp_path / "r"), centroids=cents, codebook_vectors=cbvecs
    )
    for residue in range(2):
        idx.apply_batch(emb.filter(F.col("vec_id") % 2 == residue))
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = _rows(
        idx.adc_refined_topk(
            queries, nprobe=cents.count(), top_k=5, shortlist=40
        )
    )
    want = _rows(
        pq_adc_refined_topk(
            emb, k=5, shortlist=40, codebook_stride=40, query_stride=100
        )
    )
    assert got == want


def test_clone_rebucketed_remaps_the_vecmap_manifest(spark, tmp_path):
    """Resize regression (the retrieval twin caught the original bug):
    vecmap stores CELLS-bucket ids, which are modulus-dependent — the
    blue/green re-shard must recompute them, or a post-resize update
    consults stale bucket ids and strands the vector's old cell row."""
    emb = _emb(spark).limit(200).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    idx = IncrementalVectorIndex(
        spark, str(tmp_path / "old"), centroids=cents, n_buckets=8
    )
    idx.apply_batch(emb)
    before = _rows(idx.cells().select("vec_id", "cell_id"))

    idx2 = idx.clone_rebucketed(str(tmp_path / "new"), 32)
    assert idx2.store.n_buckets == 32
    assert _rows(idx2.cells().select("vec_id", "cell_id")) == before
    assert _rows(idx2.centroids()) == _rows(idx.centroids())  # pin carried

    # update on the NEW root: the flipped vector must MOVE cells, its
    # old row deleted via the re-mapped manifest — exactly one row
    victim = 7
    idx2.apply_batch(
        emb.filter(F.col("vec_id") == victim).select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(-x as float))").alias(
                "embedding"
            ),
        )
    )
    mine = idx2.cells().filter(F.col("vec_id") == victim).collect()
    assert len(mine) == 1
    old_cell = dict(before)[victim]
    assert mine[0]["cell_id"] != old_cell
    # old root untouched (blue/green)
    assert _rows(idx.cells().select("vec_id", "cell_id")) == before


def test_adc_serving_survives_clone_rebucketed(spark, tmp_path):
    """The resize must carry BOTH pinned tables (centroids + codebook)
    and the stored PQ codes: ADC serving from the resized root is
    bit-identical to serving from the original."""
    emb = _emb(spark).limit(300).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    cbvecs = emb.filter(F.col("vec_id") % 40 == 0)
    idx = IncrementalVectorIndex(
        spark,
        str(tmp_path / "a"),
        centroids=cents,
        codebook_vectors=cbvecs,
        n_buckets=8,
    )
    idx.apply_batch(emb)
    queries = emb.filter(F.col("vec_id") % 60 == 0)
    before = _rows(idx.adc_topk(queries, nprobe=2, top_k=5))

    idx2 = idx.clone_rebucketed(str(tmp_path / "b"), 32)
    assert idx2.has_codebook()
    assert _rows(idx2.adc_topk(queries, nprobe=2, top_k=5)) == before
    assert _rows(
        idx2.adc_refined_topk(queries, nprobe=2, top_k=5)
    ) == _rows(idx.adc_refined_topk(queries, nprobe=2, top_k=5))


def test_fsck_green_after_maintenance_and_loud_on_manifest_drift(
    spark, tmp_path
):
    emb = _emb(spark).limit(200).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    idx = IncrementalVectorIndex(spark, str(tmp_path / "v"), centroids=cents)
    idx.apply_batch(emb)
    counts = idx.fsck()
    assert counts["cells"] == 200 and counts["vecmap"] == 200

    # drift the manifest: point every vector at one bucket
    from worker_spark.streaming.vector_index import VECMAP_SCHEMA

    vm = idx.store.read("vecmap", VECMAP_SCHEMA).withColumn(
        "cell_bucket", F.lit(0).cast("int")
    )
    idx.store.write("vecmap", vm, keys=["vec_id"])
    with pytest.raises(RuntimeError, match="manifest drifted"):
        idx.fsck()


def test_recluster_equals_fresh_build_under_new_centroids(spark, tmp_path):
    """Centroid refresh: reclustering a maintained index (built through
    batches INCLUDING an update) into a fresh root under a finer
    centroid set must equal a from-scratch batch build against those
    centroids — cells, manifest math, and ANN serving all re-derived
    under the new quantizer, with the corpus read from STATE, not from
    source."""
    emb = _emb(spark).limit(600).localCheckpoint(eager=True)
    coarse = emb.filter(F.col("vec_id") % 100 == 0)
    idx = IncrementalVectorIndex(
        spark, str(tmp_path / "old"), centroids=coarse, n_buckets=8
    )
    # two inserts + an update that moves a vector between cells
    idx.apply_batch(emb.filter(F.col("vec_id") % 2 == 0))
    idx.apply_batch(emb.filter(F.col("vec_id") % 2 == 1))
    idx.apply_batch(
        emb.filter(F.col("vec_id") == 7).select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(-x as float))").alias(
                "embedding"
            ),
        )
    )
    canonical = emb.filter(F.col("vec_id") != 7).unionByName(
        emb.filter(F.col("vec_id") == 7).select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(-x as float))").alias(
                "embedding"
            ),
        )
    )
    fine = canonical.filter(F.col("vec_id") % 50 == 0)

    new_idx = idx.recluster(str(tmp_path / "new"), new_centroids=fine)
    assert _rows(new_idx.cells().select("vec_id", "cell_id")) == _rows(
        ivf_assign(canonical, fine)
    )
    queries = canonical.filter(F.col("vec_id") % 60 == 0)
    assert _rows(new_idx.ann_topk(queries, nprobe=2, top_k=5)) == _rows(
        ivf_ann_neighbors(
            queries, canonical, centroid_every=50, nprobe=2, top_k=5
        )
    )
    # old root untouched (blue/green): still assigned under the coarse set
    assert _rows(idx.centroids()) == _rows(
        coarse.select(F.col("vec_id").alias("cent_id"), "embedding")
    )
    new_idx.fsck()

    # post-recluster maintenance: an update moves a vector between NEW
    # cells via the recomputed manifest — exactly one row survives
    victim = 14
    before_cell = {
        r["vec_id"]: r["cell_id"] for r in new_idx.cells().collect()
    }[victim]
    new_idx.apply_batch(
        emb.filter(F.col("vec_id") == victim).select(
            "vec_id",
            F.expr("transform(embedding, x -> cast(-x as float))").alias(
                "embedding"
            ),
        )
    )
    mine = new_idx.cells().filter(F.col("vec_id") == victim).collect()
    assert len(mine) == 1
    assert mine[0]["cell_id"] != before_cell
    new_idx.fsck()


def test_recluster_auto_stride_retrains_from_state(spark, tmp_path):
    """With no explicit centroid set the retrain derives medoids from
    the MAINTAINED state via the family's K ~ sqrt(N) rule — the same
    auto_centroid_stride the batch quantizer builds use."""
    from worker_spark.operators.similarity import auto_centroid_stride

    emb = _emb(spark).limit(400).localCheckpoint(eager=True)
    # seed at stride 200 so the auto retrain (min_stride floor = 100 at
    # this N) must produce a DIFFERENT, finer centroid set — a default
    # path that merely carried the old pin over would fail (review
    # finding: the original %100 seed made the expected set equal the
    # seed set, discriminating nothing)
    idx = IncrementalVectorIndex(
        spark,
        str(tmp_path / "old"),
        centroids=emb.filter(F.col("vec_id") % 200 == 0),
        n_buckets=8,
    )
    idx.apply_batch(emb)
    new_idx = idx.recluster(str(tmp_path / "new"))
    n = idx.cells().count()
    stride = auto_centroid_stride(n)
    assert stride != 200  # the retrain genuinely moves the quantizer
    want = sorted(
        r["vec_id"]
        for r in emb.filter(F.col("vec_id") % stride == 0).collect()
    )
    got = sorted(r["cent_id"] for r in new_idx.centroids().collect())
    assert got == want
    assert got != sorted(
        r["cent_id"] for r in idx.centroids().collect()
    )
    assert new_idx.cells().count() == n  # every vector re-assigned


def test_recluster_refuses_populated_root(spark, tmp_path):
    """An aborted recluster's bulk load can be torn (cells swapped,
    manifest not yet); converging over leftovers is not replay-safe, so
    a non-empty target root is refused outright."""
    import pytest as _pytest

    emb = _emb(spark).limit(200).localCheckpoint(eager=True)
    cents = emb.filter(F.col("vec_id") % 50 == 0)
    idx = IncrementalVectorIndex(
        spark, str(tmp_path / "a"), centroids=cents, n_buckets=8
    )
    idx.apply_batch(emb)
    with _pytest.raises(ValueError, match="already holds tables"):
        idx.recluster(str(tmp_path / "a"))  # the live root itself
    other = IncrementalVectorIndex(
        spark, str(tmp_path / "b"), centroids=cents, n_buckets=8
    )
    other.apply_batch(emb.limit(50))
    with _pytest.raises(ValueError, match="already holds tables"):
        idx.recluster(str(tmp_path / "b"))


def test_recluster_carries_codebook_and_adc_serving(spark, tmp_path):
    """PQ codes quantize the VECTOR, not its cell — a retrain carries
    the pinned codebook, re-encodes to the identical codes, and ADC
    serving keeps working against the new cell geometry (equal to the
    batch ADC build under the new centroid set)."""
    from worker_spark.operators.similarity import pq_adc_topk

    emb = _emb(spark).limit(300).localCheckpoint(eager=True)
    idx = IncrementalVectorIndex(
        spark,
        str(tmp_path / "a"),
        centroids=emb.filter(F.col("vec_id") % 100 == 0),
        codebook_vectors=emb.filter(F.col("vec_id") % 40 == 0),
        n_buckets=8,
    )
    idx.apply_batch(emb)
    before_codes = _rows(idx.cells().select("vec_id", "code"))

    new_idx = idx.recluster(
        str(tmp_path / "b"),
        new_centroids=emb.filter(F.col("vec_id") % 50 == 0),
    )
    assert new_idx.has_codebook()
    assert _rows(new_idx.cells().select("vec_id", "code")) == before_codes
    # probing every cell reproduces the batch ADC build (new centroids
    # change WHICH cells are probed, not the stored codes/scoring)
    n_cells = new_idx.centroids().count()
    queries = emb.filter(F.col("vec_id") % 60 == 0)
    got = _rows(new_idx.adc_topk(queries, nprobe=n_cells, top_k=5))
    want = _rows(
        pq_adc_topk(emb, k=5, codebook_stride=40, query_stride=60)
    )
    assert got == want


def test_recluster_advice_flags_corpus_outgrowing_its_codebook(
    spark, tmp_path
):
    """The drift monitor: right-sized at creation -> no advice; the
    corpus grows past the K ~ sqrt(N) rule by the drift ratio -> a
    retrain is advised; the auto recluster restores the rule and
    clears the advice."""
    from worker_spark.operators.similarity import auto_centroid_stride

    emb = _emb(spark).localCheckpoint(eager=True)  # 500 vectors at sf0.01
    small = emb.limit(100).localCheckpoint(eager=True)
    # right-sized for N=100 under the rule (stride floor 100 -> K=1)
    idx = IncrementalVectorIndex(
        spark,
        str(tmp_path / "v"),
        centroids=small.limit(1),
        n_buckets=8,
    )
    idx.apply_batch(small)
    a0 = idx.recluster_advice()
    assert not a0["needs_recluster"], a0
    assert a0["n_vectors"] == 100 and a0["k"] == 1

    # the corpus grows 5x while K stays pinned
    idx.apply_batch(emb)
    a1 = idx.recluster_advice()
    assert a1["n_vectors"] == 500
    assert a1["k"] == 1  # pinned
    assert a1["want_k"] > a1["k"] and a1["needs_recluster"], a1
    assert a1["max_cell"] >= a1["mean_cell"] > 0

    # the auto retrain restores the sizing rule and clears the advice
    new_idx = idx.recluster(str(tmp_path / "v2"))
    a2 = new_idx.recluster_advice()
    assert not a2["needs_recluster"], a2
    stride = auto_centroid_stride(a2["n_vectors"])
    assert a2["k"] == new_idx.centroids().count()
    assert abs(a2["k"] - a2["n_vectors"] / stride) <= a2["n_vectors"] / stride


def test_semdedup_served_from_maintained_cells_equals_batch(spark, tmp_path):
    """SemDeDup from the MAINTAINED cell assignment == the batch
    operator at the pinned stride, including after an update that moves
    a vector between cells — the N*K assignment stage is amortized into
    maintenance and never re-paid at serve time."""
    from worker_spark.operators.similarity import (
        SEMDEDUP_TAU,
        semantic_dedup,
    )

    emb = _emb(spark).localCheckpoint(eager=True)
    idx = IncrementalVectorIndex(
        spark,
        str(tmp_path / "v"),
        centroids=emb.filter(F.col("vec_id") % 100 == 0),
        n_buckets=8,
    )
    # stale-negated drafts first, corrections after — cells must move
    stale = F.col("vec_id") % 10 == 0
    negated = F.expr("transform(embedding, x -> cast(-x as float))")
    idx.apply_batch(
        emb.select(
            "vec_id",
            F.when(stale, negated).otherwise(F.col("embedding")).alias(
                "embedding"
            ),
        )
    )
    idx.apply_batch(emb.filter(stale))

    got = sorted(
        tuple(r) for r in idx.semdedup_prune(emb, tau=SEMDEDUP_TAU).collect()
    )
    want = sorted(
        tuple(r)
        for r in semantic_dedup(
            emb, centroid_every=100, tau=SEMDEDUP_TAU
        ).collect()
    )
    assert got == want
