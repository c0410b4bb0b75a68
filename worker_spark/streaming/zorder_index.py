"""Incrementally-maintained Z-ORDER LAYOUT index: the sixteenth
maintained structure — Delta/Iceberg ``OPTIMIZE ZORDER`` re-expressed
as maintained bucketed state, closing the loop the batch z-order family
opened (operators/zorder.py proves the CLUSTERING wins; this structure
OWNS a layout and serves pruned multi-dimensional box queries from it,
maintained per ingest batch instead of re-laid-out per run).

Layout model: the pinned bounds normalize (user-ish, time-ish) value
pairs to a CBITS-per-dimension grid; a row's CELL is the concatenated
(n1, n2) grid coordinate, and rows are bucket-stored BY CELL — the
file-level analog of z-clustered parquet: a box query touches only the
grid cells its ranges intersect, so the read is bucket-pruned in BOTH
dimensions (the multi-column data-skipping property one-dimensional
layouts cannot give; reference's Postgres B-tree covers one dimension,
src/storage.rs index DDL). The store prunes by KEY SET, so the 2-D
grid cell — not the interleaved Morton rank — is the pruning unit
here; the batch operator's Morton key is the 1-D-RANGE form of the
same clustering (for range-partitioned file layouts). Pruning is
proportional to the box's cell count vs n_buckets: narrow boxes
(point-ish lookups) read a few buckets, corpus-scale boxes honestly
read most of them — size n_buckets generously for this index (the
registered row uses 64).

Offline/online split (the centroid/LM/rates-pin argument, sixth
instance): the normalization BOUNDS pin at creation — a stored row's
cell derives from them, so moving bounds in place would strand every
stored row (the convergence contract). Data arriving OUTSIDE the
pinned bounds CLAMPS to the edge cells (kept, never dropped — serving
stays exact; only pruning degrades), and the lifecycle handles drift:

* ``relayout_advice()`` — the drift monitor: the clamped (out-of-
  bounds) row fraction plus cell skew, one pass over state per
  maintenance tick;
* ``relayout(new_root)`` — the blue/green migration (the recluster/
  retrain discipline): re-derive bounds from the state's own values,
  bulk re-assign every row through apply_batch in a fresh root,
  refuse a non-empty target.

Feed contract: append-only immutable events (the events-family
contract); at-least-once re-delivery replaces the prior copy — under
pinned bounds a row's cell is a pure function of its values, so the
old copy lives in the same bucket the new one lands in and keyed
delete-then-insert replays idempotently.

State tables (root, n_buckets):

* ``rows``   (cell, event_id, v1, v2, event_type, value) — bucketed by
  CELL: the laid-out data. v1/v2 are the raw coordinate values (the
  residual filter's input and relayout's source of truth).
* ``config`` one-row pin (lo1, hi1, lo2, hi2, cbits) — the layout.

Scale shape at 100 TB: per batch O(batch) cell assignment (map-only
integer math) + O(touched cell buckets) rewrite; a box query reads
only the buckets of the cells its box intersects (enumerated
host-side, bounded by the grid size) and applies the exact residual
predicate. No corpus scan on the serving path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.plans.bucketed_state import BucketedParquetStateStore

ZC_BITS = 5  # bits per dimension: a 32x32 = 1024-cell grid

ROWS_SCHEMA = T.StructType(
    [
        T.StructField("cell", T.LongType(), False),
        T.StructField("event_id", T.LongType(), False),
        T.StructField("v1", T.LongType(), False),
        T.StructField("v2", T.LongType(), False),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)
CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("config_id", T.LongType(), False),
        T.StructField("lo1", T.LongType(), False),
        T.StructField("hi1", T.LongType(), False),
        T.StructField("lo2", T.LongType(), False),
        T.StructField("hi2", T.LongType(), False),
        T.StructField("cbits", T.LongType(), False),
    ]
)


def _norm_expr(col, lo: int, hi: int, bits: int):
    """The batch operator's normalize (zorder.normalize_to_bits) with
    CLAMPING to the pinned bounds — exact long multiply + one double
    division, identical in both engines below the 2^53 span bound."""
    top = (1 << bits) - 1
    span = max(hi - lo, 1)
    clamped = F.least(F.greatest(col.cast("long"), F.lit(lo)), F.lit(hi))
    return ((clamped - F.lit(lo)) * F.lit(top) / F.lit(span)).cast("long")


def _norm_py(x: int, lo: int, hi: int, bits: int) -> int:
    top = (1 << bits) - 1
    span = max(hi - lo, 1)
    x = min(max(int(x), lo), hi)
    return int((x - lo) * top / span)


class IncrementalZOrderIndex:
    """Maintained z-cell layout with per-batch bucket-scoped MERGE
    maintenance and bucket-pruned 2-D box serving."""

    # column order is part of the replay contract (feed.last_wins)
    FEED_SCHEMA = T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("v1", T.LongType(), True),
            T.StructField("v2", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
        ]
    )

    ROWS = "rows"
    CONFIG = "config"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        bounds: tuple[int, int, int, int] | None = None,
        cbits: int = ZC_BITS,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.root = root
        self.store = BucketedParquetStateStore(spark, root, n_buckets)
        if self.store.has_schema_witness(self.CONFIG):
            row = self.store.read(self.CONFIG, CONFIG_SCHEMA).collect()[0]
            pinned = (row["lo1"], row["hi1"], row["lo2"], row["hi2"])
            if bounds is not None and (
                tuple(int(b) for b in bounds) != pinned
                or int(cbits) != row["cbits"]
            ):
                raise ValueError(
                    f"{root}: layout was pinned at bounds={pinned} "
                    f"cbits={row['cbits']}, reopened with {bounds} "
                    f"cbits={cbits} — every stored row's cell derives "
                    "from the pin; relayout() into a fresh root to move "
                    "it"
                )
            self.bounds, self.cbits = pinned, int(row["cbits"])
        else:
            if bounds is None:
                raise ValueError(
                    f"{root}: a new z-order index needs its bounds "
                    "(lo1, hi1, lo2, hi2) — the pinned normalization "
                    "box (measure them offline, the centroid-pin "
                    "discipline)"
                )
            self.bounds = tuple(int(b) for b in bounds)
            self.cbits = int(cbits)
            self.store.write(
                self.CONFIG,
                self.spark.createDataFrame(
                    [(0, *self.bounds, self.cbits)], CONFIG_SCHEMA
                ),
                keys=["config_id"],
            )

    # --- maintenance ----------------------------------------------------

    def _cell_expr(self, v1, v2):
        lo1, hi1, lo2, hi2 = self.bounds
        n1 = _norm_expr(v1, lo1, hi1, self.cbits)
        n2 = _norm_expr(v2, lo2, hi2, self.cbits)
        return F.shiftleft(n1, self.cbits) + n2

    def apply_batch(
        self,
        rows: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        """The foreachBatch body: assign each row its grid cell under
        the pinned bounds and replace its stored copy. Rows with a NULL
        id or NULL coordinate are excluded (no cell to live in — the
        batch operator's NULL filter). Single keyed table — torn
        batches replay idempotently."""
        from worker_spark.streaming.feed import last_wins

        batch = last_wins(
            rows.select(
                F.col("event_id").cast("long").alias("event_id"),
                F.col("v1").cast("long").alias("v1"),
                F.col("v2").cast("long").alias("v2"),
                F.col("event_type").cast("string").alias("event_type"),
                F.col("value").cast("double").alias("value"),
            ),
            ["event_id"],
        ).filter(
            F.col("event_id").isNotNull()
            & F.col("v1").isNotNull()
            & F.col("v2").isNotNull()
        )
        placed = batch.select(
            self._cell_expr(F.col("v1"), F.col("v2")).alias("cell"),
            "event_id",
            "v1",
            "v2",
            "event_type",
            "value",
            # lazy (r15 job-count discipline): materialized by the
            # touched collect just below, before the one swap
        ).localCheckpoint(eager=False)
        cells = placed.select("cell").distinct()
        touched = self.store.touched_buckets(cells, "cell")
        if not touched:
            return
        self.store.delete_then_insert(
            self.ROWS,
            delete_keys=placed.select("event_id"),
            inserts=placed,
            schema=ROWS_SCHEMA,
            bucket_col="cell",
            delete_on="event_id",
            touched=touched,
        )

    # --- read side --------------------------------------------------------

    def rows(self, buckets: list[int] | None = None) -> DataFrame:
        return self.store.read(self.ROWS, ROWS_SCHEMA, buckets)

    def _box_cells(
        self, v1_lo: int, v1_hi: int, v2_lo: int, v2_hi: int
    ) -> list[int]:
        """Grid cells intersecting the box, enumerated host-side with a
        ±1-cell margin (the double-division normalize truncates; the
        margin keeps pruning conservative — the residual filter keeps
        serving exact)."""
        lo1, hi1, lo2, hi2 = self.bounds
        grid = (1 << self.cbits) - 1
        a0 = max(0, _norm_py(v1_lo, lo1, hi1, self.cbits) - 1)
        a1 = min(grid, _norm_py(v1_hi, lo1, hi1, self.cbits) + 1)
        b0 = max(0, _norm_py(v2_lo, lo2, hi2, self.cbits) - 1)
        b1 = min(grid, _norm_py(v2_hi, lo2, hi2, self.cbits) + 1)
        return [
            (a << self.cbits) + b
            for a in range(a0, a1 + 1)
            for b in range(b0, b1 + 1)
        ]

    def box_query(
        self, v1_lo: int, v1_hi: int, v2_lo: int, v2_hi: int
    ) -> DataFrame:
        """All rows with v1 in [v1_lo, v1_hi] AND v2 in [v2_lo, v2_hi]:
        bucket-pruned to the box's grid cells, cell-filtered within
        shared buckets, exact residual predicate on the raw values —
        pruned in BOTH dimensions, which a one-dimensional layout
        cannot do."""
        cands = self._box_cells(v1_lo, v1_hi, v2_lo, v2_hi)
        pruned = self.rows(
            buckets=self.store.touched_buckets(
                self.spark.createDataFrame(
                    [(c,) for c in cands], "cell long"
                ),
                "cell",
            )
        ).filter(F.col("cell").isin(cands))
        return pruned.filter(
            F.col("v1").between(v1_lo, v1_hi)
            & F.col("v2").between(v2_lo, v2_hi)
        ).select("event_id", "v1", "v2", "event_type", "value")

    def cell_stats(self) -> DataFrame:
        """(cell, n_rows): the layout profile — the monitoring tick's
        input, one bounded aggregation over state."""
        return self.rows().groupBy("cell").agg(
            F.count(F.lit(1)).alias("n_rows")
        )

    def relayout_advice(self, max_oob_frac: float = 0.1) -> dict:
        """The drift monitor (recluster_advice analog): rows whose raw
        values fell OUTSIDE the pinned bounds clamped to edge cells —
        their fraction is the signal the layout has drifted from the
        data (pruning degrades as edge cells bloat). Cell skew is
        reported alongside. One pass over state per tick."""
        lo1, hi1, lo2, hi2 = self.bounds
        agg = self.rows().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (
                    (F.col("v1") < lo1)
                    | (F.col("v1") > hi1)
                    | (F.col("v2") < lo2)
                    | (F.col("v2") > hi2)
                ).cast("long")
            ).alias("oob"),
        ).collect()[0]
        n, oob = agg["n"] or 0, agg["oob"] or 0
        sizes = [r["n_rows"] for r in self.cell_stats().collect()]
        mean = (sum(sizes) / len(sizes)) if sizes else 0.0
        return {
            "n_rows": n,
            "oob_rows": oob,
            "oob_frac": round(oob / n, 3) if n else 0.0,
            "n_cells": len(sizes),
            "max_cell": max(sizes) if sizes else 0,
            "cell_skew": round(max(sizes) / mean, 3) if mean else 0.0,
            "needs_relayout": n > 0 and (oob / n) >= max_oob_frac,
        }

    def relayout(
        self,
        new_root: str,
        bounds: tuple[int, int, int, int] | None = None,
        cbits: int | None = None,
        n_buckets: int | None = None,
    ) -> "IncrementalZOrderIndex":
        """Bounds refresh as a blue/green migration (the recluster/
        retrain discipline): pin new bounds — default re-measured from
        the state's own values — in a FRESH root and re-assign every
        stored row in one bulk apply_batch (equality to a batch build
        under the new pin by construction). Refuses a non-empty
        target; the old root stays live until cut-over."""
        import os

        leftovers = (
            sorted(
                t
                for t in os.listdir(new_root)
                if os.path.isdir(os.path.join(new_root, t))
            )
            if os.path.isdir(new_root)
            else []
        )
        if leftovers:
            raise ValueError(
                f"{new_root}: target root already holds tables "
                f"{leftovers} — discard the root and rerun (the "
                "recluster discipline)"
            )
        state = self.rows().localCheckpoint(eager=True)
        if bounds is None:
            b = state.agg(
                F.min("v1"), F.max("v1"), F.min("v2"), F.max("v2")
            ).collect()[0]
            if b[0] is None:
                raise ValueError(
                    f"{self.root}: cannot re-measure bounds from an "
                    "empty layout — pass them explicitly"
                )
            bounds = (int(b[0]), int(b[1]), int(b[2]), int(b[3]))
        fresh = IncrementalZOrderIndex(
            self.spark,
            new_root,
            bounds=bounds,
            cbits=cbits or self.cbits,
            n_buckets=n_buckets or self.store.n_buckets,
        )
        fresh.apply_batch(state)
        return fresh

    def fsck(self) -> dict[str, int]:
        """Layout for both tables, then derivation: every stored row's
        cell must equal the cell its raw values derive under the pinned
        bounds (a drifted cell strands the row outside every box scan
        that should find it). Raises on violation; returns counts."""
        counts = {
            t: self.store.verify_layout(t)
            for t in (self.ROWS, self.CONFIG)
        }
        bad = (
            self.rows()
            .filter(
                F.col("cell")
                != self._cell_expr(F.col("v1"), F.col("v2"))
            )
            .limit(1)
            .count()
        )
        if bad:
            raise RuntimeError(
                f"{self.root}: stored cells drifted from the pinned-"
                "bounds derivation — reseed or replay"
            )
        return counts
