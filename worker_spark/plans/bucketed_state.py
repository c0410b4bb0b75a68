"""Hash-bucketed parquet state: the one state store. Per-batch MERGEs
rewrite only touched buckets.

Delivery contract: the reference keeps state in Postgres with row-level
upserts and transactional outbox writes (src/storage.rs:118-245,
668-688). Without a transactional table format in this environment,
state tables are plain parquet directories updated by read-merge-
overwrite with atomic directory swaps, and every job is idempotent
(MERGE semantics re-applied on replay). That is the §7.5-5 documented
relaxation: exactly-once handoff becomes at-least-once + idempotent
apply — the same guarantee the reference's consumers already assume
(src/sync_service.rs:198-220).

Layout: a table is ``n_buckets`` fixed sibling directories
(``b00000``..), every row lives in the bucket of its BUCKET KEY
(``pmod(xxhash64(key), n_buckets)``), and a MERGE reads and rewrites
ONLY the buckets its batch touches — O(batch + touched buckets) I/O;
untouched buckets' files are never opened, listed into a job, or
rewritten (asserted by tests/test_incremental_retrieval.py over
before/after file snapshots). A one-bucket root is the whole-table
store: every MERGE rewrites the full table, O(state) write bytes per
batch (tools/scaling_probe.py --state uses it as the full-rewrite
baseline).

Reference semantics carried over: S8 delete-then-insert link replace
(src/storage.rs:150-167) and S7 upsert (src/storage.rs:118-245), scoped
to buckets. At cluster scale the layout maps 1:1 onto a Delta/Iceberg
table bucketed by the same key, with MERGE INTO + dynamic file pruning
replacing the directory swaps.

Crash safety is per-bucket: each bucket directory swaps through a
``.tmp-*`` / ``.old-*`` rename pair (recovery heals a mid-swap crash; a
bucket emptied by a MERGE becomes an empty directory rather than a
removed one, so "missing + .old present" always means a torn swap,
never a legitimate delete). A crash BETWEEN bucket swaps of one batch
leaves the batch partially applied, which the delivery contract above
already covers: replaying the same batch re-applies the same per-bucket
MERGEs, each of which is idempotent.

Transactions: every bucket write goes through ``transaction()``, the
Spark form of the reference's one Postgres commit per batch. A batch
declares its table MERGEs (``write``, ``upsert``, ``delete_then_insert``,
``reindex``) on the transaction; on exit it runs ONE tagged
``(op, bucket)`` collect for every op whose touched set was not given,
stages every table's merged rows concurrently on the store's one thread
pool, checks every stage against its touched set (the stray-bucket
guard), and only then swaps the tables in declared order, each table's
meta persisted after its own swap. An exception before the first swap
discards every stage and swaps nothing; the store's public ``write``,
``upsert``, ``delete_then_insert`` and ``reindex`` are one- or two-op
transactions over the same code. Three rules:

* a table appears at most once per transaction (its stage reads the
  pre-swap files of its own buckets);
* an op whose inputs must see an earlier swap goes in a LATER
  transaction — every stage reads pre-swap state;
* the crash story stays the delivery contract: a crash between two
  swaps leaves the batch partially applied, and the replay converges
  because the declared order keeps every touched set a superset. There
  is no commit journal.

The declared order is the crash order. A DERIVED table bucketed by one
key but replaced by another (postings by term, replaced by doc_id)
cannot find a batch document's old rows from the batch alone, so an
id-keyed MANIFEST table records where they live. ``reindex`` declares
the derived table FIRST and the manifest LAST. A crash between the two
leaves the STALE manifest, and the replayed batch's touched set is
again stale-manifest ∪ new-row buckets — a superset of everywhere the
batch ids' derived rows can be, so the replay converges. The reverse
order would commit the new manifest first, and a crash would then
strand the old derived rows in buckets the replay no longer visits.
Every maintained index with a manifest writes through ``reindex``; each
migrated module docstring names its declared order.

Sizing rule (the scale contract): a touched bucket's rewrite costs one
bucket of bytes, so choose ``n_buckets`` to hold BUCKET BYTES near a
file-compaction target (state_bytes / ~256 MB at cluster scale). Then a
batch's MERGE cost is O(batch keys x target bytes) — independent of
total state size, the same granularity contract as Delta/Iceberg
file-level MERGE. With n_buckets held fixed while state grows, cost
degrades gracefully to (touched/n_buckets) of a full rewrite — still
16x+ better than a one-bucket root's whole-table rewrite, but the
constant is the knob, not the law. tools/scaling_probe.py --state
measures both regimes.

Control plane: the touched-bucket id set is collect()ed to the driver to
drive the directory swaps — bounded by ``n_buckets``, never by data
volume (and by the batch's key count when that is smaller).
``n_buckets`` is pinned in a meta file on first write so every later
session buckets rows identically.

Single-writer assumption: one maintenance process per state root;
readers are safe concurrently with recovery but not with an in-flight
swap of the bucket they read.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_N_BUCKETS = 16
_META = "_n_buckets"
_KEYS_META = "_bucket_keys"  # per-table: the pinned bucket-key columns
_SCHEMA_META = "_schema"  # per-table: schema JSON (schema-less reads,
# and the ONLY schema witness while every bucket is an empty dir)
# Orphan .stage-* dirs younger than this survive recovery's sweep (see
# _recover) — far above any plausible staging-write duration, far below
# "disk fills up with orphans".
_STAGE_SWEEP_AGE_S = 3600.0
_now = time.time  # indirection so tests can pin the clock


def _atomic_write(path: str, content: str) -> None:
    """tmp+rename so a crash can never leave a truncated meta file."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(content)
    os.rename(tmp, path)


_M64 = (1 << 64) - 1
_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl64((acc + lane * _P64_2) & _M64, 31) * _P64_1 & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """Spark's ``xxhash64`` host-side: XXH64 of ``data`` (the engine
    hashes a string's UTF-8 bytes and a long's 8 little-endian bytes,
    with its default seed 42) — returns the SIGNED 64-bit result,
    matching the SQL function. Verified against the engine in
    tests/test_properties.py. Exists so a writer or reader whose bucket
    keys are known on the driver (constant journal keys, a query's own
    terms) can compute their buckets without a collect job."""
    n = len(data)
    p = 0
    if n >= 32:
        v = [
            (seed + _P64_1 + _P64_2) & _M64,
            (seed + _P64_2) & _M64,
            seed & _M64,
            (seed - _P64_1) & _M64,
        ]
        while p + 32 <= n:
            for i in range(4):
                lane = int.from_bytes(data[p : p + 8], "little")
                v[i] = _round(v[i], lane)
                p += 8
        h = (
            _rotl64(v[0], 1) + _rotl64(v[1], 7)
            + _rotl64(v[2], 12) + _rotl64(v[3], 18)
        ) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P64_1 + _P64_4) & _M64
    else:
        h = (seed + _P64_5) & _M64
    h = (h + n) & _M64
    while p + 8 <= n:
        h ^= _round(0, int.from_bytes(data[p : p + 8], "little"))
        h = (_rotl64(h, 27) * _P64_1 + _P64_4) & _M64
        p += 8
    if p + 4 <= n:
        h ^= int.from_bytes(data[p : p + 4], "little") * _P64_1 & _M64
        h = (_rotl64(h, 23) * _P64_2 + _P64_3) & _M64
        p += 4
    for byte in data[p:]:
        h ^= byte * _P64_5 & _M64
        h = _rotl64(h, 11) * _P64_1 & _M64
    h ^= h >> 33
    h = h * _P64_2 & _M64
    h ^= h >> 29
    h = h * _P64_3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def xxhash64_long(value: int, seed: int = 42) -> int:
    """Spark's ``xxhash64`` of ONE LongType column: the 8-byte
    little-endian case of ``xxhash64`` (the engine's hashLong)."""
    return xxhash64((value & _M64).to_bytes(8, "little"), seed)


def local_frame(
    spark: SparkSession, rows: list[tuple], schema: T.StructType
) -> DataFrame:
    """A small driver-side frame built inside the JVM: the rows become
    one literal array that ``inline`` expands over a one-row range.
    ``spark.createDataFrame(list)`` instead yields a Python RDD, and
    every action that reads it starts Python-worker tasks to re-serialize
    the rows. Columns come back nullable, as from any parquet read."""
    structs = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(row, schema.fields)
            ]
        )
        for row in rows
    ]
    return spark.range(0, 1, 1, 1).select(
        F.inline(F.array(*structs).cast(T.ArrayType(schema)))
    )


def read_coalesced(
    store: "BucketedParquetStateStore",
    table: str,
    schema: T.StructType | None = None,
    buckets: list[int] | None = None,
) -> DataFrame:
    """``store.read``, coalesced to one partition per
    ``spark.sql.files.maxPartitionBytes`` of the bucket files it reads:
    the partition count follows the bytes read, not the core count. A
    read that fits one partition reports ``SinglePartition``, which
    satisfies every required distribution, so the joins, aggregates and
    windows above it plan no exchange; a larger read keeps its
    parallelism and Catalyst adds the exchanges it needs. A module
    function, not a method: every maintained row's source hash
    (tools/query_hashes.py) covers the store class."""
    rows = store.read(table, schema, buckets)
    size = sum(
        e.stat().st_size
        for p in store.bucket_paths(table, buckets)
        for e in os.scandir(p)
        if e.is_file() and not e.name.startswith(("_", "."))
    )
    conf = store.spark._jsparkSession.sessionState().conf()
    return rows.coalesce(max(1, -(-size // conf.filesMaxPartitionBytes())))


def tree_bytes(root: str) -> dict[str, tuple[int, float]]:
    """file path -> (size, mtime): the ONE 'bytes rewritten' witness —
    shared by the state scaling probe (tools/scaling_probe.py --state)
    and the flat-rewritten-bytes test so the asserted bound and the
    NOTES.md probe rows can never measure subtly different things."""
    out: dict[str, tuple[int, float]] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime)
    return out


def rewritten_bytes(
    before: dict[str, tuple[int, float]],
    after: dict[str, tuple[int, float]],
) -> int:
    return sum(
        sz for p, (sz, mt) in after.items() if before.get(p) != (sz, mt)
    )


class BucketedParquetStateStore:
    """Directory-of-buckets parquet state with touched-bucket-only
    copy-on-write MERGEs.

    CAUTION: a bucket swap invalidates lazy DataFrames
    derived from the pre-swap files of that bucket — re-read after a
    write, or localCheckpoint(eager=True) inputs that must survive it.
    """

    # The one staging pool: a transaction with several staged tables
    # runs their staging jobs on it concurrently, so they overlap on the
    # scheduler. Staging tasks never wait on other tasks, so transactions
    # opened from several threads at once share it without deadlock; its
    # threads start on first use.
    _pool = ThreadPoolExecutor(max_workers=4, thread_name_prefix="bucket-stage")

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        n_buckets: int = DEFAULT_N_BUCKETS,
    ):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        meta = os.path.join(root, _META)
        if os.path.exists(meta):
            with open(meta) as f:
                pinned = int(f.read().strip())
            # the stored layout wins: rows were bucketed with it
            n_buckets = pinned
        else:
            _atomic_write(meta, str(n_buckets))
        self.n_buckets = n_buckets

    # --- bucket arithmetic ------------------------------------------------

    def bucket_of(self, *cols: Column | str) -> Column:
        """The ONE bucket assignment expression (write path, read-side
        pruning and tests all share it): pmod(xxhash64(keys), n)."""
        return F.pmod(F.xxhash64(*cols), F.lit(self.n_buckets)).cast("int")

    def touched_buckets(self, df: DataFrame, *cols: Column | str) -> list[int]:
        """Distinct bucket ids present in df's key column(s) — a driver
        collect bounded by n_buckets."""
        b = df.select(self.bucket_of(*cols).alias("b")).distinct()
        return sorted(r["b"] for r in b.collect())

    @staticmethod
    def _collect_buckets(probes: list[DataFrame]) -> list[list[int]]:
        """The ONE touched-bucket collect of a transaction: distinct
        ``(op, b)`` over the union of every op's one-column bucket-id
        frame, as one job however many ops contribute. A lone probe
        needs no tag (the tagged form costs the sync cycle's link MERGE
        one more job)."""
        if len(probes) == 1:
            return [sorted(r["b"] for r in probes[0].distinct().collect())]
        tagged = None
        for i, df in enumerate(probes):
            df = df.select(F.lit(i).alias("op"), F.col("b"))
            tagged = df if tagged is None else tagged.unionByName(df)
        found: list[list[int]] = [[] for _ in probes]
        for r in tagged.distinct().collect():
            found[r["op"]].append(r["b"])
        return [sorted(b) for b in found]

    def bucket_of_long(self, value: int) -> int:
        """``bucket_of`` for one literal long key, computed host-side —
        no job. For tables bucketed on a constant key (the journal /
        ledger / config pattern, key always 0) this replaces the
        per-write touched-bucket collect over the whole frame."""
        return int(xxhash64_long(int(value))) % self.n_buckets

    def bucket_of_str(self, value: str) -> int:
        """``bucket_of`` for one literal string key, computed host-side
        from its UTF-8 bytes — no job. The BM25 read side prunes the
        postings to its query terms' buckets this way."""
        return xxhash64(value.encode("utf-8")) % self.n_buckets

    # --- layout -----------------------------------------------------------

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _pinned_keys(self, table: str) -> list[str] | None:
        p = os.path.join(self._table_dir(table), _KEYS_META)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return [ln for ln in f.read().splitlines() if ln]

    def _validate_keys(self, table: str, keys: list[str]) -> list[str]:
        """Check the table's bucket-key columns against the pinned
        layout WITHOUT persisting anything: every write/upsert must
        bucket on the SAME columns or its touched-set arithmetic
        silently diverges from where the rows actually live (an updated
        row would land in a different bucket than the row it replaces).
        Mismatch is a loud error, not a re-bucket. Persistence happens
        only AFTER a successful commit (_persist_meta from
        _swap / the empty-replace commit) — a failed FIRST write
        must not leave a meta witness that makes exists() report an
        empty-but-created table (review finding: a poisoned witness
        blocked vector-index centroid re-pinning while serving an empty
        index)."""
        pinned = self._pinned_keys(table)
        if pinned is None:
            return keys
        if pinned != keys:
            raise ValueError(
                f"{table}: bucket keys {keys} do not match the pinned "
                f"layout {pinned}; rows were bucketed by the pinned keys "
                "— rebuild the table into a fresh root to change them"
            )
        return keys

    def _persist_meta(
        self, table: str, keys: list[str], schema: T.StructType
    ) -> None:
        """Atomically (tmp+rename, the same discipline as every bucket
        swap — a torn meta file would poison later touched-set
        arithmetic or schema-less reads) record the bucket keys and
        schema AFTER a successful commit."""
        tdir = self._table_dir(table)
        os.makedirs(tdir, exist_ok=True)
        _atomic_write(os.path.join(tdir, _KEYS_META), "\n".join(keys))
        _atomic_write(os.path.join(tdir, _SCHEMA_META), schema.json())

    def _stored_schema(self, table: str) -> T.StructType | None:
        p = os.path.join(self._table_dir(table), _SCHEMA_META)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return T.StructType.fromJson(json.load(f))

    @staticmethod
    def _bucket_name(b: int) -> str:
        return f"b{b:05d}"

    def _recover(self, table: str) -> None:
        """Heal torn per-bucket swaps and sweep orphaned staging dirs. A
        bucket dir missing while a ``.old-*`` sibling exists is a swap
        lost between its two renames: the displaced copy is restored,
        never read as an empty (reset) bucket. Once a live dir exists,
        stale ``.old-*``/``.tmp-*`` siblings are cleared (an orphan
        ``.tmp-*`` is an uncommitted write and is rolled back).

        Refuses a LEGACY FLAT LAYOUT: a table dir holding parquet data
        files directly (no bNNNNN bucket subdirs: the pre-bucketing
        layout) must not be silently read as an empty bucketed table; a
        pre-existing state root restarted after the layout change would
        otherwise reset to empty, and a streaming checkpoint prevents
        replaying old batches to rebuild it. Migrate explicitly: read
        the flat table with ``spark.read.parquet`` and ``write`` it into
        a fresh bucketed root."""
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return
        names = os.listdir(tdir)
        flat = [
            n
            for n in names
            if os.path.isfile(os.path.join(tdir, n))
            and (n.endswith(".parquet") or n.startswith("part-"))
        ]
        if flat:
            raise RuntimeError(
                f"{tdir}: found data files outside bucket subdirectories "
                f"(e.g. {sorted(flat)[:3]}) — this looks like a legacy "
                "flat-layout table, which this store would silently "
                "ignore; migrate it into a bucketed root first"
            )
        bases = {n.split(".")[0] for n in names if n.startswith("b")}
        for base in bases:
            olds = sorted(n for n in names if n.startswith(f"{base}.old-"))
            tmps = [n for n in names if n.startswith(f"{base}.tmp-")]
            final = os.path.join(tdir, base)
            if not os.path.exists(final) and olds:
                os.rename(os.path.join(tdir, olds[0]), final)
                olds = olds[1:]
            if os.path.exists(final):
                for n in olds + tmps:
                    shutil.rmtree(os.path.join(tdir, n), ignore_errors=True)
            elif not olds:
                # crash before a NEVER-populated bucket's first commit:
                # no final, no displaced .old- — the orphan .tmp- is an
                # uncommitted write and is correctly rolled back
                for n in tmps:
                    shutil.rmtree(os.path.join(tdir, n), ignore_errors=True)
        for n in names:
            if n.startswith(".stage-"):
                # Orphan-stage sweep, age-gated as cheap insurance: the
                # single-writer assumption (module docstring) makes any
                # stage dir seen here an orphan by definition, but if an
                # operator ever violates it, deleting a peer's IN-FLIGHT
                # stage mid-write is the one failure recovery itself
                # could cause. A crash-orphaned stage is, by contrast,
                # necessarily old — so only sweep past the age gate.
                p = os.path.join(tdir, n)
                try:
                    age = _now() - os.path.getmtime(p)
                except OSError:
                    continue  # vanished between listdir and stat
                if age >= _STAGE_SWEEP_AGE_S:
                    shutil.rmtree(p, ignore_errors=True)

    def bucket_paths(
        self, table: str, buckets: list[int] | None = None
    ) -> list[str]:
        """Existing bucket directories (optionally restricted) — the
        read-side file pruning: a caller that knows its key set reads
        only those buckets' files."""
        tdir = self._table_dir(table)
        ids = range(self.n_buckets) if buckets is None else buckets
        return [
            p
            for b in ids
            if os.path.isdir(p := os.path.join(tdir, self._bucket_name(b)))
        ]

    # --- read -------------------------------------------------------------

    def exists(self, table: str) -> bool:
        self._recover(table)
        tdir = self._table_dir(table)
        return os.path.exists(os.path.join(tdir, _SCHEMA_META)) or bool(
            self.bucket_paths(table)
        )

    def has_schema_witness(self, table: str) -> bool:
        """Whether the table's post-commit _schema witness landed. For a
        MERGE-maintained table, bucket dirs WITHOUT the witness just
        mean the first batch is mid-replay (the streaming checkpoint
        re-applies it). For a WRITE-ONCE table with no replay path —
        the vector index's pinned centroids/codebook — that state is a
        torn first write: the caller must treat presence-without-
        witness as partial data, not as a committed table."""
        return os.path.exists(
            os.path.join(self._table_dir(table), _SCHEMA_META)
        )

    def drop(self, table: str) -> None:
        """Remove a table entirely (buckets, meta, staging). Used to
        clear a torn write-once pin before reseeding; MERGE tables
        never need this (replays heal them)."""
        shutil.rmtree(self._table_dir(table), ignore_errors=True)

    def tables(self) -> list[str]:
        """Existing table names under this root (dirs that are not
        bucket-internal artifacts)."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            n
            for n in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, n))
        )

    def verify_layout(self, table: str) -> int:
        """Placement fsck: every row must live in the bucket dir of its
        pinned key hash — the invariant ALL touched-set arithmetic
        (manifests, pruned reads, delete scoping) rests on. A row in
        the wrong bucket is silently unreachable to deletes and
        invisible to pruned reads, so violations raise rather than
        report. One distributed job (origin bucket parsed from
        input_file_name(), compared to bucket_of(keys) per row — no
        collect); returns the number of rows checked. Run after
        external surgery or before trusting a restored/migrated root —
        normal operation never needs it (writes stage through
        bucket_of by construction)."""
        keys = self._pinned_keys(table)
        if keys is None:
            raise ValueError(
                f"{self.root}/{table}: no pinned bucket keys — nothing "
                "to verify against (table never committed?)"
            )
        df = self.read(table)
        origin = F.regexp_extract(
            F.input_file_name(), r"/b(\d{5})/", 1
        ).cast("int")
        tagged = df.select(
            origin.alias("_origin"),
            self.bucket_of(*keys).alias("_want"),
        )
        counts = tagged.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("_origin") != F.col("_want")).cast("long")
            ).alias("bad"),
        ).collect()[0]
        if (counts["bad"] or 0) > 0:
            raise RuntimeError(
                f"{self.root}/{table}: {counts['bad']} of {counts['n']} "
                f"rows live outside their key bucket (keys={keys}) — "
                "the layout is corrupt; rebuild via clone_rebucketed "
                "from a trusted source or reseed"
            )
        return int(counts["n"])

    def clone_rebucketed(
        self,
        new_root: str,
        n_buckets: int,
        transforms: dict | None = None,
    ) -> "BucketedParquetStateStore":
        """Re-shard the WHOLE root into a fresh root with a different
        bucket count — the resize operation the sizing rule assumes
        exists (module docstring: with ``n_buckets`` held fixed while
        state grows, per-batch cost degrades to touched/n of a full
        rewrite; the CONSTANT is the knob). Production index stores
        resize exactly this way — a blue/green rebuild + pointer flip —
        because re-bucketing IN PLACE can tear: a crash mid-swap would
        leave rows bucketed under two different moduli with no witness
        of which, poisoning every later touched-set computation.

        Into-a-fresh-root is crash-safe by construction: the old root
        stays live and untouched; an incomplete new root is simply
        discarded and the clone re-run; the caller flips its pointer
        (and the maintenance stream's index handle) only after this
        returns. O(state) read+write by definition — the amortized
        resize cost, paid once per capacity doubling, not per batch.

        Every table's pinned bucket keys and schema witness carry over;
        rows land in ``pmod(xxhash64(key), n_buckets)`` under the NEW
        modulus. Refuses a new root that already has a conflicting
        bucket pin.

        ``transforms`` (table -> fn(rows, new_store) -> rows) rewrites
        a table's ROWS for the new modulus. This matters for MANIFEST
        payloads: a table whose rows STORE bucket ids of another table
        (retrieval's doclen.term_buckets, the vector index's
        vecmap.cell_bucket) encodes the OLD modulus in data — cloned
        verbatim, every later delete-then-insert would consult stale
        bucket ids and strand old rows in unvisited buckets (caught by
        the resize regression test before this parameter existed).
        The index classes' own clone_rebucketed methods supply the
        right transforms; manifests derived by pure column math over
        stored state (the SimHash/MinHash fingerprint tables) need
        none."""
        if os.path.exists(os.path.join(new_root, _META)):
            with open(os.path.join(new_root, _META)) as f:
                pinned = int(f.read().strip())
            if pinned != n_buckets:
                raise ValueError(
                    f"{new_root}: already pinned to {pinned} buckets — "
                    "clone into an empty root"
                )
            # A SAME-modulus pin is still a used root — most likely an
            # aborted earlier clone (round-10 advice). Writing over it
            # would silently keep any table present there but since
            # dropped from the source; the documented recovery for an
            # incomplete clone is discard-and-rerun, so force it.
            probe = BucketedParquetStateStore(self.spark, new_root, n_buckets)
            leftover = probe.tables()
            if leftover:
                raise ValueError(
                    f"{new_root}: not empty (tables {sorted(leftover)} "
                    "present — likely an aborted clone); delete the root "
                    "and re-run the clone"
                )
        new_store = BucketedParquetStateStore(
            self.spark, new_root, n_buckets
        )
        for table in self.tables():
            self._recover(table)
            keys = self._pinned_keys(table)
            schema = self._stored_schema(table)
            if keys is None or schema is None:
                raise ValueError(
                    f"{self.root}/{table}: no committed key/schema "
                    "witness — heal or reseed the source table before "
                    "resizing"
                )
            rows = self.read(table, schema)
            if transforms and table in transforms:
                rows = transforms[table](rows, new_store)
            new_store.write(table, rows, keys=keys)
        return new_store

    def read(
        self,
        table: str,
        schema: T.StructType | None = None,
        buckets: list[int] | None = None,
    ) -> DataFrame:
        self._recover(table)
        if schema is None:
            schema = self._stored_schema(table)
        paths = self.bucket_paths(table, buckets)
        if not paths:
            if schema is None:
                # genuinely never created (no schema witness either)
                raise FileNotFoundError(self._table_dir(table))
            return local_frame(self.spark, [], schema)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def journaled(
        self, table: str, schema: T.StructType, batch_id: int | None
    ) -> DataFrame | None:
        """The rows an earlier, torn attempt of ``batch_id`` recorded in
        a scope journal (``Transaction.journal``); None when none can
        exist."""
        if batch_id is None or not self.has_schema_witness(table):
            return None
        return self.read(table, schema).filter(F.col("batch_id") == int(batch_id))

    # --- write ------------------------------------------------------------

    @contextlib.contextmanager
    def transaction(self) -> Iterator["Transaction"]:
        """One write transaction (module docstring, "Transactions"):
        declare ops on the yielded ``Transaction``; they commit when the
        block exits normally and are dropped, unstaged, when it raises."""
        tx = Transaction(self, [])
        yield tx
        tx.commit()

    def _stage(self, op: "_Op") -> None:
        """One staging job writes the op's merged rows partitioned by
        bucket into a ``.stage-*`` dir of its table, then the stray-bucket
        guard checks the stage against the op's touched set."""
        tdir = self._table_dir(op.table)
        os.makedirs(tdir, exist_ok=True)
        op.stage = os.path.join(tdir, f".stage-{uuid.uuid4().hex[:8]}")
        merged = op.rows(op.touched)
        op.schema = merged.schema
        (
            merged.withColumn("_b", self.bucket_of(*op.keys))
            # co-locate each bucket's rows into ~one task before the
            # partitioned write: without this every input task writes a
            # sliver into every touched bucket dir (tasks x buckets tiny
            # files — measured 2x wall on the incremental index), and at
            # cluster scale file-count control IS the compaction target
            # the n_buckets sizing rule assumes
            .repartition(len(op.touched), F.col("_b"))
            .write.partitionBy("_b")
            .mode("overwrite")
            .parquet(op.stage)
        )
        # loud-failure guard (free: one listdir of the stage): rows whose
        # bucket is NOT in the touched set would be staged and then
        # discarded with the stage dir — silent data loss for a caller
        # whose manifest/touched computation is wrong
        touched = set(op.touched)
        stray = [
            d
            for d in os.listdir(op.stage)
            if d.startswith("_b=") and int(d[3:]) not in touched
        ]
        if stray:
            raise ValueError(
                f"{op.table}: merged rows landed in buckets outside the "
                f"touched set ({sorted(stray)}) — caller's touched/"
                "manifest computation is incomplete; aborting before "
                "any swap"
            )

    def _swap(self, op: "_Op") -> None:
        """Swap each TOUCHED bucket dir of a staged op in atomically (a
        touched bucket the merge emptied becomes an empty dir), then
        persist the table's meta. Untouched bucket directories are never
        renamed or rewritten."""
        tdir = self._table_dir(op.table)
        for b in op.touched:
            src = os.path.join(op.stage, f"_b={b}")
            final = os.path.join(tdir, self._bucket_name(b))
            tmp = f"{final}.tmp-{uuid.uuid4().hex[:8]}"
            if os.path.isdir(src):
                os.rename(src, tmp)
            else:
                os.makedirs(tmp)  # merge emptied this bucket
            old = f"{final}.old-{uuid.uuid4().hex[:8]}"
            if os.path.exists(final):
                os.rename(final, old)
            os.rename(tmp, final)
            if os.path.exists(old):
                shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(op.stage, ignore_errors=True)
        op.stage = None
        # meta becomes the existence/schema witness only now that the
        # data committed (review finding)
        self._persist_meta(op.table, op.keys, op.schema)

    # one- and two-op transactions; ``table`` stays the first argument
    def write(self, table: str, *args, **kwargs) -> None:
        """A one-op transaction: ``Transaction.write``."""
        with self.transaction() as tx:
            tx.write(table, *args, **kwargs)

    def upsert(self, table: str, *args, **kwargs) -> None:
        """A one-op transaction: ``Transaction.upsert``."""
        with self.transaction() as tx:
            tx.upsert(table, *args, **kwargs)

    def delete_then_insert(self, table: str, *args, **kwargs) -> None:
        """A one-op transaction: ``Transaction.delete_then_insert``."""
        with self.transaction() as tx:
            tx.delete_then_insert(table, *args, **kwargs)

    def reindex(self, *args, **kwargs) -> None:
        """A two-op transaction: ``Transaction.reindex``."""
        with self.transaction() as tx:
            tx.reindex(*args, **kwargs)


@dataclass(eq=False)
class _Op:
    """One table's MERGE inside a transaction. ``rows(touched)`` builds
    the merged rows of the touched buckets; ``touched`` is given, or
    collected on commit from ``probe`` (a one-column ``b`` frame) plus
    ``also``."""

    store: BucketedParquetStateStore
    table: str
    keys: list[str]
    rows: Callable[[list[int]], DataFrame]
    touched: list[int] | None = None
    probe: DataFrame | None = None
    also: tuple[int, ...] = ()
    # skipped when this op touches nothing (reindex's manifest op)
    needs: "_Op | None" = None
    # a full replace: commits its meta witness even when it touches nothing
    replace: bool = False
    schema: T.StructType | None = None
    stage: str | None = None


@dataclass(eq=False)
class Transaction:
    """The ops of one write transaction, in declared (= swap) order.
    Each op is bound to the store it was declared on; ``on(store)``
    declares further ops on another root in the same transaction."""

    store: BucketedParquetStateStore
    ops: list[_Op]

    def on(self, store: BucketedParquetStateStore) -> "Transaction":
        return Transaction(store, self.ops)  # same op list, other root

    def _add(self, op: _Op) -> _Op:
        for o in self.ops:
            if o.store.root == op.store.root and o.table == op.table:
                raise ValueError(
                    f"{op.store.root}/{op.table}: a table appears at most "
                    "once per transaction — its stage reads the pre-swap "
                    "files; write it again in a later transaction"
                )
        self.ops.append(op)
        return op

    def write(
        self,
        table: str,
        df: DataFrame,
        keys: list[str] | None = None,
        touched: list[int] | None = None,
    ) -> _Op:
        """Full-table replace (the seeding / snapshot path; O(state) by
        definition, so the touched-bucket economics don't apply).
        ``keys`` declares the bucket-key columns; on the first write of
        a table they are pinned (default: all columns — fine for tables
        only ever replaced whole, but a table that will later be
        ``upsert``-ed must declare its MERGE keys here so updated rows
        land in the bucket of the rows they replace). ``touched`` lets a
        caller that KNOWS its rows' bucket set (a constant-key table via
        ``bucket_of_long``) skip the touched-bucket collect; a wrong set
        fails loudly in the stray-bucket guard before any swap. An empty
        replace of an empty table commits only the meta witness."""
        store = self.store
        # heal torn swaps FIRST: a bucket displaced to .old-* by a prior
        # crash is invisible to the isdir() scan below, and recovery
        # would resurrect it AFTER this replace deleted it (review
        # finding)
        store._recover(table)
        keys = store._validate_keys(
            table, keys or store._pinned_keys(table) or list(df.columns)
        )
        # a replace must also EMPTY every currently-populated bucket the
        # new frame does not reach
        populated = tuple(
            int(os.path.basename(p)[1:]) for p in store.bucket_paths(table)
        )
        return self._add(_Op(
            store, table, keys, lambda _t: df,
            touched=None if touched is None else sorted(set(populated) | set(touched)),
            probe=df.select(store.bucket_of(*keys).alias("b")),
            also=populated,
            replace=True,
        ))

    def journal(self, table: str, batch_id: int, rows: DataFrame) -> _Op:
        """Replace a one-bucket scope journal by ``rows``, tagged with
        ``batch_id``: a structure whose replay cannot recompute a batch's
        scope from post-swap state declares this FIRST, and its replay
        unions ``store.journaled`` back in. The key is constant, so the
        bucket is computed host-side and no collect runs."""
        return self.write(
            table,
            rows.select(
                F.lit(0).cast("long").alias("jkey"),
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
                "*",
            ),
            keys=["jkey"],
            touched=[self.store.bucket_of_long(0)],
        )

    def delete_then_insert(
        self,
        table: str,
        delete_keys: DataFrame,
        inserts: DataFrame,
        schema: T.StructType,
        *,
        bucket_col: str,
        delete_on: str | None = None,
        touched: list[int] | None = None,
        doomed: DataFrame | None = None,
    ) -> _Op:
        """S8 link-replace scoped to buckets: remove every row whose
        ``delete_on`` key appears in ``delete_keys``, then insert
        ``inserts``. The touched set is ``touched`` when given (an
        insert landing outside it fails loudly in the stray-bucket
        guard rather than being silently dropped); otherwise it is
        collected from the doomed rows' buckets ∪ the inserts' buckets.
        When ``delete_on`` is the bucket key, the doomed buckets are the
        delete keys' own; when it is a DIFFERENT column (postings are
        bucketed by term but replaced by doc_id), the caller passes
        ``doomed``, a one-column frame of every bucket that holds a
        doomed row — the manifest contract ``reindex`` implements."""
        store = self.store
        store._validate_keys(table, [bucket_col])
        delete_on = delete_on or bucket_col
        if touched is None and doomed is None:
            if delete_on != bucket_col:
                raise ValueError(
                    "delete_on differs from bucket_col: caller must "
                    "supply the touched or doomed buckets (manifest)"
                )
            doomed = delete_keys.select(store.bucket_of(delete_on))
        # each side hashed in its own column type
        probe = None if touched is not None else doomed.toDF("b").unionByName(
            inserts.select(store.bucket_of(bucket_col).alias("b"))
        )

        def rows(t: list[int]) -> DataFrame:
            existing = store.read(table, schema, buckets=t)
            kept = existing.join(
                delete_keys.select(delete_on).distinct(), delete_on, "left_anti"
            )
            return kept.unionByName(inserts.select(*existing.columns))

        return self._add(
            _Op(store, table, [bucket_col], rows, touched=touched, probe=probe)
        )

    def upsert(
        self,
        table: str,
        updates: DataFrame,
        keys: list[str],
        schema: T.StructType | None = None,
    ) -> _Op:
        """S7 MERGE scoped to buckets (rows bucket on the full key
        tuple): matched -> replace, not matched -> insert. Touched
        buckets = buckets of the update keys only."""
        store = self.store
        store._validate_keys(table, keys)

        def rows(t: list[int]) -> DataFrame:
            existing = store.read(table, schema or updates.schema, buckets=t)
            return _merge_latest(existing, updates.select(*existing.columns), keys)

        return self._add(_Op(
            store, table, keys, rows,
            probe=updates.select(store.bucket_of(*keys).alias("b")),
        ))

    def reindex(
        self,
        ids: DataFrame,
        manifest: str,
        manifest_schema: T.StructType,
        manifest_rows: DataFrame,
        derived: str,
        derived_schema: T.StructType,
        derived_rows: DataFrame,
        derived_key: str,
        old_buckets: Callable[[DataFrame], DataFrame],
        id_buckets: list[int] | None = None,
    ) -> None:
        """Replace the batch ids' rows of a DERIVED table (bucketed by
        ``derived_key``, replaced by id) and of its MANIFEST (bucketed by
        the one column of ``ids``), declared derived first, manifest
        last — the crash order of the module docstring. ``old_buckets``
        maps the ids' OLD manifest rows to a one-column frame of every
        derived bucket their rows can be in. ``id_buckets`` hands over
        the ids' buckets when a composed caller already collected them;
        otherwise they are collected here, since the old manifest read
        is pruned by them. A derived table the batch does not touch
        writes neither table."""
        (id_col,) = ids.columns
        store = self.store
        if id_buckets is None:
            id_buckets = store.touched_buckets(ids, id_col)
        old = store.read(manifest, manifest_schema, buckets=id_buckets)
        first = self.delete_then_insert(
            derived, ids, derived_rows, derived_schema, bucket_col=derived_key,
            delete_on=id_col, doomed=old_buckets(old.join(ids, id_col, "left_semi")),
        )
        self.delete_then_insert(
            manifest, ids, manifest_rows, manifest_schema, bucket_col=id_col,
            touched=id_buckets,
        ).needs = first

    def commit(self) -> None:
        """Collect, stage, guard, swap (module docstring,
        "Transactions"). Stages that never swapped are removed however
        the commit ends."""
        probed = [op for op in self.ops if op.touched is None]
        if probed:
            found = BucketedParquetStateStore._collect_buckets(
                [op.probe for op in probed]
            )
            for op, buckets in zip(probed, found):
                op.touched = sorted(set(buckets) | set(op.also))
        for op in self.ops:
            if op.needs is not None and not op.needs.touched:
                op.touched = []
        staged = [op for op in self.ops if op.touched]
        try:
            # each staging thread gets its own copy of the caller's local
            # properties (job group, description); pinned-thread mode
            # drops them otherwise
            futures = [
                BucketedParquetStateStore._pool.submit(
                    inheritable_thread_target(self.store.spark)(op.store._stage), op
                )
                for op in staged
            ]
            wait(futures)
            for f in futures:
                f.result()
            for op in self.ops:
                if op.touched:
                    op.store._swap(op)
                elif op.replace:
                    op.store._persist_meta(op.table, op.keys, op.rows([]).schema)
        finally:
            for op in staged:
                if op.stage is not None:
                    shutil.rmtree(op.stage, ignore_errors=True)


def _merge_latest(existing: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Union with precedence to update rows (per key, the update wins)."""
    tagged = existing.withColumn("_prio", F.lit(0)).unionByName(
        updates.withColumn("_prio", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("_prio"))
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_prio", "_rn")
    )


_SNAP_MANIFEST = "_snapshot_manifest"  # the snapshot's commit witness


def _tree_stats(root: str) -> tuple[int, int]:
    """(n_files, total_bytes) over a root — the integrity figures the
    snapshot manifest records and restore re-derives."""
    n, b = 0, 0
    for _dirpath, _dirs, files in os.walk(root):
        for f in files:
            n += 1
            b += os.path.getsize(os.path.join(_dirpath, f))
    return n, b


def snapshot_state(store: "BucketedParquetStateStore", snap_path: str) -> dict:
    """Publish a point-in-time copy of a whole state root — S12 for the
    maintained-index family (the sync tables got snapshot_publish in
    plans/sync.py; the index roots get the same story here, completing
    the ops plane next to fsck and clone_rebucketed).

    Crash-safe by the usual stage/rename/witness discipline: every
    table is recovered first (a torn swap must never be frozen into a
    backup), the root is copied into ``<snap_path>.stage-*`` with swap
    artifacts excluded, the manifest is written INTO the stage, and the
    stage's rename to ``snap_path`` is the single atomic commit point —
    a crash anywhere before it leaves only ``.stage-*`` debris (swept by
    prune_snapshots' age gate), never a committed-looking dir without a
    manifest, never a silently-partial backup. The manifest records
    file count + total bytes, which restore re-verifies after its own
    copy.

    Single-writer contract as everywhere — and ENFORCED here rather
    than merely documented (r11 advice): the root's full (size, mtime)
    file witness is captured before the copy and re-compared after it;
    if any file changed, appeared, or vanished while the copy ran (a
    MERGE racing the copytree could freeze a cross-table torn state
    into an internally-consistent-looking backup that the file-count/
    byte check cannot catch), the stage is discarded and the publish
    refuses to commit."""
    if os.path.exists(snap_path):
        raise ValueError(
            f"{snap_path}: snapshot target already exists — snapshots "
            "are immutable; publish to a fresh path"
        )
    for t in store.tables():
        store._recover(t)
    witness = tree_bytes(store.root)
    stage = f"{snap_path}.stage-{uuid.uuid4().hex[:8]}"
    shutil.copytree(
        store.root,
        stage,
        # fnmatch is on BASENAMES and the swap artifacts are named
        # bNNNNN.tmp-*/bNNNNN.old-* (and _atomic_write orphans
        # _meta.tmp-*), so the patterns need the leading wildcard —
        # review finding: the dotted forms matched nothing
        ignore=shutil.ignore_patterns("*.tmp-*", "*.old-*", ".stage-*"),
    )
    if tree_bytes(store.root) != witness:
        shutil.rmtree(stage, ignore_errors=True)
        raise RuntimeError(
            f"{store.root}: state changed while the snapshot copy ran "
            "(a concurrent writer violated the single-writer contract) "
            "— the stage could be a cross-table torn mixture, refusing "
            "to commit it as a backup"
        )
    n_files, n_bytes = _tree_stats(stage)
    manifest = {
        "n_buckets": store.n_buckets,
        "tables": store.tables(),
        "n_files": n_files,
        "n_bytes": n_bytes,
        "created_at": _now(),
    }
    _atomic_write(os.path.join(stage, _SNAP_MANIFEST), json.dumps(manifest))
    os.rename(stage, snap_path)
    return manifest


def restore_state(
    spark: SparkSession, snap_path: str, new_root: str
) -> "BucketedParquetStateStore":
    """S13 for the index family: materialize a snapshot into a FRESH
    root (blue/green — restoring over live state in place could tear;
    the caller flips its pointer after this returns, exactly the
    clone_rebucketed discipline). Refuses a manifest-less snapshot (a
    crash mid-publish) and a non-empty target; re-verifies the
    manifest's file-count/byte totals after the copy so a truncated
    snapshot tree fails loudly instead of serving partial state. The
    restored root drops the manifest marker — a live root is not a
    snapshot."""
    mpath = os.path.join(snap_path, _SNAP_MANIFEST)
    if not os.path.exists(mpath):
        raise ValueError(
            f"{snap_path}: no snapshot manifest — the publish never "
            "committed (crash mid-copy); this directory must not be "
            "restored from"
        )
    with open(mpath) as f:
        manifest = json.load(f)
    if os.path.isdir(new_root) and os.listdir(new_root):
        raise ValueError(
            f"{new_root}: restore target is not empty — restore is "
            "blue/green into a fresh root"
        )
    stage = f"{new_root}.stage-{uuid.uuid4().hex[:8]}"
    shutil.copytree(snap_path, stage)
    os.remove(os.path.join(stage, _SNAP_MANIFEST))
    n_files, n_bytes = _tree_stats(stage)
    want_files, want_bytes = manifest["n_files"], manifest["n_bytes"]
    if (n_files, n_bytes) != (want_files, want_bytes):
        shutil.rmtree(stage, ignore_errors=True)
        raise ValueError(
            f"{snap_path}: snapshot tree does not match its manifest "
            f"(files {n_files} vs {want_files}, bytes {n_bytes} vs "
            f"{want_bytes}) — the backup is damaged; refuse to restore"
        )
    if os.path.isdir(new_root):
        os.rmdir(new_root)  # empty dir checked above
    os.rename(stage, new_root)
    return BucketedParquetStateStore(spark, new_root)


def prune_snapshots(parent_dir: str, keep_last: int = 3) -> list[str]:
    """Retention for published state snapshots — S12's retention rule
    applied to index-state backups: keep the newest ``keep_last``
    COMMITTED snapshots under ``parent_dir`` (ordered by their
    manifests' created_at), delete the rest. Debris is swept with the
    store's age-gate discipline, and ONLY for directories matching the
    publisher's own ``.stage-*`` naming (r11 advice): a committed
    snapshot always carries its manifest (snapshot_state writes it into
    the stage before the rename, so a crashed publish can only ever
    leave a ``.stage-*`` dir), which means any other manifest-less
    directory someone placed under the snapshots parent is NOT ours to
    judge — it is left untouched rather than destroyed. Returns the
    deleted paths."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    committed: list[tuple[float, str]] = []
    debris: list[str] = []
    if not os.path.isdir(parent_dir):
        return []
    for name in os.listdir(parent_dir):
        p = os.path.join(parent_dir, name)
        if not os.path.isdir(p):
            continue
        mpath = os.path.join(p, _SNAP_MANIFEST)
        if os.path.exists(mpath):
            with open(mpath) as f:
                committed.append((json.load(f)["created_at"], p))
        elif (
            ".stage-" in name
            and _now() - os.path.getmtime(p) > _STAGE_SWEEP_AGE_S
        ):
            debris.append(p)
    committed.sort(reverse=True)
    doomed = debris + [p for _ts, p in committed[keep_last:]]
    for p in doomed:
        shutil.rmtree(p, ignore_errors=True)
    return sorted(doomed)
