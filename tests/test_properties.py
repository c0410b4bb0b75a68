"""Property-based tests (hypothesis) for the pure extraction primitives —
the robustness layer the reference's example-based tests lack (SURVEY §5)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from worker_spark.functions.inline_refs import extract_refs_from_quote
from worker_spark.functions.json_walk import collect_bibl_ids, find_related_article_ids

text_strategy = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)


@given(text_strategy)
@settings(max_examples=300, deadline=None)
def test_inline_refs_structural_invariants(s):
    refs = extract_refs_from_quote(s)
    data = s.encode("utf-8")
    for start, end, code, spec in refs:
        # offsets are valid byte positions spanning '(' .. ')'
        assert 0 < start < end <= len(data)
        assert data[start : start + 1] == b"("
        assert data[end - 1 : end] == b")"
        # code is non-empty, uppercase-initial, never contains ';' or ')'
        assert code and code[0].isupper()
        assert ";" not in code and ")" not in code and " " not in code
        # spec, when present, is trimmed and non-empty
        if spec is not None:
            assert spec == spec.strip() and spec
        # the code text actually occurs inside the parenthesized span
        inner = data[start + 1 : end - 1].decode("utf-8", errors="replace")
        assert code in inner


@given(text_strategy)
@settings(max_examples=200, deadline=None)
def test_inline_refs_never_at_string_start(s):
    # the regex requires a preceding character: '(' at byte 0 can't match
    for start, _, _, _ in extract_refs_from_quote(s):
        assert start >= 1


_json_scalars = st.one_of(
    st.none(), st.booleans(), st.integers(-(2**40), 2**40), st.text(max_size=8)
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=4),
        st.dictionaries(
            st.sampled_from(["bibl_id", "article_id", "type_", "a", "b", "items"]),
            children,
            max_size=4,
        ),
    ),
    max_leaves=25,
)


@given(_json_values)
@settings(max_examples=200, deadline=None)
def test_json_walkers_total_and_sane(doc):
    """The walkers accept ANY JSON shape, never raise, and return ids only
    from well-typed carriers."""
    bibl = collect_bibl_ids(doc)
    assert bibl == sorted(set(bibl))
    for v in bibl:
        assert isinstance(v, int) and not isinstance(v, bool)
    rel = find_related_article_ids(doc)
    assert len(rel) == len(set(rel))


def test_walker_ignores_bool_and_str_ids():
    doc = {
        "bibl_id": True,  # JSON bool is not an i64 — the reference's as_i64 rejects it
        "items": [
            {"type_": "article_ref", "article_id": "7"},  # string id rejected
            {"type_": "article_ref", "article_id": 7},
        ],
    }
    assert collect_bibl_ids(doc) == []
    assert find_related_article_ids(doc) == [7]


def test_diff_classifier_partition_property(spark):
    """For ANY list/db tables: every key appears in exactly one output row,
    the output key set is the union of input key sets, and the fetch set is
    exactly {new, changed}."""
    from pyspark.sql import functions as F

    from worker_spark.operators.diff import classify_list_db_diff, to_fetch

    # deterministic pseudo-random inputs derived from a range
    base = spark.range(200)
    lst = base.filter(F.col("id") % 3 != 0).select(
        F.col("id").alias("article_id"),
        (F.col("id") % 7).alias("revision"),
        (F.col("id") % 5).cast("string").alias("updated_at"),
    )
    db = base.filter(F.col("id") % 4 != 0).select(
        F.col("id").alias("article_id"),
        (F.col("id") % 6).alias("revision"),
        (F.col("id") % 5).cast("string").alias("updated_at"),
        F.when(F.col("id") % 11 == 0, "pending_fetch").otherwise("idle").alias("sync_status"),
    )
    out = classify_list_db_diff(lst, db)
    rows = out.collect()
    keys = [r["article_id"] for r in rows]
    assert len(keys) == len(set(keys)), "a key classified more than once"
    in_keys = {r["article_id"] for r in lst.collect()} | {
        r["article_id"] for r in db.collect()
    }
    assert set(keys) == in_keys, "output keys != union of input keys"
    fetch = {r["article_id"] for r in to_fetch(out).collect()}
    expect = {
        r["article_id"] for r in rows if r["classification"] in ("new", "changed")
    }
    assert fetch == expect


def test_sweep_determinism_under_repartitioning(spark):
    """O2/T4: repeated sweeps must select the SAME batch regardless of the
    input's physical partitioning — the deterministic (status_changed_at,
    id) order is what turns the reference's unordered LIMIT into a
    replayable sweep. Ties on status_changed_at are broken by id, so even
    a fully tied corpus sweeps identically."""
    import datetime

    from pyspark.sql import functions as F

    from worker_spark.plans.outbox import stale_pending

    old = datetime.datetime(2020, 1, 1)
    # 50 stale rows, ALL tied on status_changed_at except two later ones
    rows = [("no", i, "pending_fetch", old) for i in range(50)] + [
        ("no", 100, "pending_fetch", old + datetime.timedelta(seconds=1)),
        ("no", 101, "idle", old),
    ]
    base = spark.createDataFrame(
        rows, schema="dictionary: string, id: bigint, sync_status: string, status_changed_at: timestamp"
    )
    batches = []
    for n_parts, seed in [(1, 0), (7, 1), (32, 2), (3, 3)]:
        shuffled = base.repartition(n_parts, F.pmod(F.col("id") * (seed + 13), F.lit(n_parts)))
        got = [r["id"] for r in stale_pending(shuffled, "pending_fetch", limit=20).collect()]
        batches.append(got)
    assert all(b == batches[0] for b in batches), batches
    assert len(batches[0]) == 20 and batches[0] == sorted(batches[0])
    assert 100 not in batches[0]  # later-stamped row sorts after the tied block


def test_sweep_determinism_bibl_place_200_caps(spark):
    """O2/T4 for the dimension sweeps: the reference takes unordered
    LIMIT 200 batches over bibliography and places
    (src/outbox.rs:329-345); the repo's deterministic ordering must make
    those 200-row paths replayable too. Dimension tables have no
    dictionary column and heavy timestamp ties — the id tie-break alone
    must pin the batch."""
    import datetime

    from pyspark.sql import functions as F

    from worker_spark.plans.outbox import stale_pending

    old = datetime.datetime(2020, 1, 1)
    # 350 stale rows: 300 tied on one timestamp, 50 slightly earlier (the
    # earlier block must be selected in full, ahead of every tied row)
    rows = [
        (i, "pending_fetch", old - datetime.timedelta(seconds=1))
        for i in range(1000, 1050)
    ] + [(i, "pending_fetch", old) for i in range(300)]
    base = spark.createDataFrame(
        rows, schema="id: bigint, sync_status: string, status_changed_at: timestamp"
    )
    batches = []
    for n_parts, seed in [(1, 0), (13, 1), (32, 2)]:
        shuffled = base.repartition(
            n_parts, F.pmod(F.col("id") * (seed + 7), F.lit(n_parts))
        )
        got = [
            r["id"]
            for r in stale_pending(shuffled, "pending_fetch", limit=200).collect()
        ]
        batches.append(got)
    assert all(b == batches[0] for b in batches)
    assert len(batches[0]) == 200
    # earlier-stamped block first (all 50), then the 150 smallest tied ids
    assert batches[0][:50] == list(range(1000, 1050))
    assert batches[0][50:] == list(range(150))


@given(
    st.lists(st.integers(0, 500), max_size=200),
    st.integers(1, 300),
)
@settings(max_examples=300, deadline=None)
def test_greedy_pack_invariants(tokens, budget):
    from worker_spark.operators.packing import greedy_pack_sequence

    seqs = greedy_pack_sequence(tokens, budget)
    assert len(seqs) == len(tokens)
    if not tokens:
        return
    # pack ids start at 0 and are nondecreasing in steps of <= 1
    assert seqs[0] == 0
    for a, b in zip(seqs, seqs[1:]):
        assert a <= b <= a + 1
    # every pack fits the budget unless it is a single oversize doc;
    # and no pack was closed early (greedy tightness)
    weights = [max(t, 1) for t in tokens]
    totals: dict[int, int] = {}
    members: dict[int, int] = {}
    for w, s in zip(weights, seqs):
        totals[s] = totals.get(s, 0) + w
        members[s] = members.get(s, 0) + 1
    for s, tot in totals.items():
        assert tot <= budget or members[s] == 1
    for i in range(1, len(seqs)):
        if seqs[i] != seqs[i - 1]:
            assert totals[seqs[i - 1]] + weights[i] > budget


def _greedy_bpe_merge_py(syms: list[str], left: str, right: str) -> list[str]:
    """Reference implementation of the greedy left-to-right merge."""
    out, carry = [], None
    for s in syms:
        if carry is None:
            carry = s
        elif carry == left and s == right:
            out.append(left + right)
            carry = None
        else:
            out.append(carry)
            carry = s
    if carry is not None:
        out.append(carry)
    return out


@given(
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=8
    ),
    st.sampled_from(["a", "b"]),
    st.sampled_from(["a", "b"]),
)
@settings(max_examples=20, deadline=None)
def test_bpe_fold_matches_reference_merge(shared_spark_words, left, right):
    # pure-python property: validated against the Spark fold in
    # test_bpe.py; here we pin the reference semantics themselves
    for w in shared_spark_words:
        merged = _greedy_bpe_merge_py(list(w), left, right)
        assert "".join(merged) == w  # merging never changes content
        assert all(
            not (a == left and b == right)
            or (len(a) > 1 or len(b) > 1)
            for a, b in zip(merged, merged[1:])
        ) or left == right  # no unmerged adjacent (left,right) chars remain


def test_winnow_guarantee_on_random_plants(spark):
    """Winnowing guarantee: any shared verbatim substring of length >=
    W+K-1 yields at least one shared fingerprint for every plant
    position."""
    import random

    from worker_spark.operators.substrings import (
        WIN_K,
        WIN_W,
        winnow_fingerprints,
    )

    rng = random.Random(99)
    shared = "".join(rng.choice("xyz qrs") for _ in range(WIN_W + WIN_K - 1))
    rows = []
    for doc_id in range(1, 6):
        pad_a = "".join(rng.choice("abcdefgh") for _ in range(rng.randint(0, 60)))
        pad_b = "".join(rng.choice("abcdefgh") for _ in range(rng.randint(0, 60)))
        rows.append((doc_id, pad_a + shared + pad_b))
    df = spark.createDataFrame(rows, schema="doc_id: bigint, text: string")
    fps = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fhash"])
    common = set.intersection(*[by_doc[d] for d in range(1, 6)])
    assert common, "guaranteed shared fingerprint missing"


def test_mixture_interleave_prefix_proportionality(spark):
    """Stride scheduling's lag bound: in any prefix of the training
    order, each stratum's count stays within ~1 of its weighted share."""
    import math

    from worker_spark.operators.sampling import MIX_Q, mixture_interleave

    rows = [(i, ["a", "b", "c"][min(i % 10, 2) if i % 10 < 3 else 0]) for i in range(300)]
    # strata sizes: a=240, b=30, c=30 -> sqrt shares rebalance toward b/c
    df = spark.createDataFrame(rows, schema="doc_id: bigint, lang: string")
    got = mixture_interleave(df, "lang", top_n=120).collect()
    sizes = {"a": 240, "b": 30, "c": 30}
    wq = {s: math.floor(math.sqrt(n / 300) * MIX_Q) for s, n in sizes.items()}
    tot = sum(wq.values())
    for prefix in (30, 60, 120):
        from collections import Counter

        c = Counter(r["stratum"] for r in got[:prefix])
        for s in sizes:
            expect = prefix * wq[s] / tot
            assert abs(c.get(s, 0) - expect) <= 2, (prefix, s, c)
    # deterministic under repartitioning
    again = mixture_interleave(df.repartition(17), "lang", top_n=120).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]


def test_stratum_wq_clamps_to_one(spark):
    """A vanishingly small stratum must get w_q >= 1 — a zero weight
    divides to NULL vtime, which sorts NULL-first in Spark asc but
    NULL-last in DuckDB (cross-engine divergence)."""
    from worker_spark.operators.sampling import _stratum_wq

    rows = [(i, "big") for i in range(500)] + [(10_000, "tiny")]
    df = spark.createDataFrame(rows, schema="doc_id: bigint, lang: string")
    got = {r["stratum"]: r["w_q"] for r in _stratum_wq(df, "lang").collect()}
    assert got["tiny"] >= 1 and got["big"] >= 1


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcd", min_size=1, max_size=3),
            st.text(alphabet="abcd", min_size=1, max_size=3),
            st.integers(min_value=1, max_value=1000),
        ),
        max_size=60,
    ),
    st.integers(min_value=1, max_value=16),
)
@settings(max_examples=200, deadline=None)
def test_select_batch_properties(candidates, batch):
    """select_batch invariants (VERDICT r4 item 6): never more than
    ``batch`` picks; picks are mutually disjoint including merged
    outputs; greedy-prefix — every pick is conflict-free against all
    EARLIER picks, and every skipped candidate before the last pick
    conflicted with the picks made before it."""
    from worker_spark.operators.bpe import select_batch

    out = select_batch(candidates, batch=batch)
    assert len(out) <= batch
    # disjointness: no symbol (left, right, or merged) appears twice
    used: set[str] = set()
    for left, right, _ in out:
        for sym in (left, right, left + right):
            assert sym not in used
        used.update((left, right, left + right))
    # greedy: replaying the scan reproduces exactly the same picks
    replay: list = []
    replay_used: set[str] = set()
    for cand in candidates:
        left, right, n = cand
        if len(replay) >= batch:
            break
        if (
            left in replay_used
            or right in replay_used
            or (left + right) in replay_used
        ):
            continue
        replay_used.update((left, right, left + right))
        replay.append((left, right, n))
    assert out == replay


def test_weighted_reservoir_is_ppswor_shaped(spark):
    """A-ES semantics: with equal weights the sample is the top-k by
    hash (uniform ppswor degenerates to uniform); an overwhelming
    weight is always sampled; the sample is deterministic under
    repartitioning."""
    from pyspark.sql import functions as F

    from worker_spark.operators.sampling import weighted_reservoir_sample

    docs = spark.createDataFrame(
        [(i, "x" * (10 + i % 5)) for i in range(200)],
        schema="doc_id: bigint, text: string",
    )
    # equal weights: rank ln(u)/1 = ln(u) -> top-k by md5-prefix desc
    flat = weighted_reservoir_sample(
        docs, k=20, weight_col=F.lit(1).cast("long")
    )
    got = [r["doc_id"] for r in flat.collect()]
    h = (
        docs.select(
            "doc_id",
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("long").alias("h"),
        )
        .orderBy(F.desc("h"), F.asc("doc_id"))
        .limit(20)
    )
    assert got == [r["doc_id"] for r in h.collect()]

    # a dominant weight always enters the sample
    heavy = weighted_reservoir_sample(
        docs,
        k=5,
        weight_col=F.when(F.col("doc_id") == 7, F.lit(10**12))
        .otherwise(F.lit(1))
        .cast("long"),
    )
    assert 7 in {r["doc_id"] for r in heavy.collect()}

    # layout-independent
    again = weighted_reservoir_sample(
        docs.repartition(17), k=20, weight_col=F.lit(1).cast("long")
    )
    assert [r["doc_id"] for r in again.collect()] == got

    # w <= 0 rows are filtered before ranking (A-ES's w > 0
    # precondition; round-9 advice): a zero-length text must neither
    # crash the ranking nor ever be sampled, and a negative weight must
    # not invert the A-ES order
    mixed = spark.createDataFrame(
        [(1, ""), (2, "abc"), (3, "defg")],
        schema="doc_id: bigint, text: string",
    )
    kept = {
        r["doc_id"]
        for r in weighted_reservoir_sample(mixed, k=10).collect()
    }
    assert kept == {2, 3}
    neg = weighted_reservoir_sample(
        docs,
        k=5,
        weight_col=F.when(F.col("doc_id") == 7, F.lit(-5))
        .otherwise(F.lit(1))
        .cast("long"),
    )
    assert 7 not in {r["doc_id"] for r in neg.collect()}


def test_host_side_xxhash64_long_matches_engine(spark):
    # bucket_of_long replaces a per-batch touched-bucket collect for the
    # constant-key journal/ledger tables, and bucket_of_str the BM25
    # read side's query-term bucket probe: the host-side XXH64 must
    # agree with the engine's xxhash64 (seed 42) on the full signed-64
    # range edges and a value sweep, on strings covering every tail
    # branch and the 32-byte stripe loop, and the derived buckets with
    # bucket_of
    from pyspark.sql import functions as F

    from worker_spark.plans.bucketed_state import (
        BucketedParquetStateStore,
        xxhash64,
        xxhash64_long,
    )

    vals = (
        list(range(-40, 40))
        + [2**63 - 1, -(2**63), 2**62, -(2**62), 10**15, -(10**15)]
    )
    df = spark.createDataFrame([(v,) for v in vals], "v: long").select(
        "v", F.xxhash64("v").alias("h")
    )
    engine = {r["v"]: r["h"] for r in df.collect()}
    assert all(engine[v] == xxhash64_long(v) for v in vals)

    import tempfile

    store = BucketedParquetStateStore(
        spark, tempfile.mkdtemp(prefix="xxh_store_"), n_buckets=16
    )
    one = spark.createDataFrame([(0,)], "jkey: long")
    assert store.touched_buckets(one, "jkey") == [store.bucket_of_long(0)]

    # UTF-8 lengths 0, 3, 4, 7, 8, 31, 32, 33 and ~120 bytes: the 1-byte,
    # 4-byte and 8-byte tails, and zero, one and several 32-byte stripes
    strs = [
        "", "abc", "abcd", "abcdefg", "abcdefgh", "x" * 31, "y" * 32,
        "z" * 33, "Hash Join", "blåbærsyltetøy", "ÆØÅ æøå", "漢字検索",
        "ord" + "bøker og 字典 " * 7,
    ]
    assert {len(t.encode()) for t in strs} >= {0, 3, 4, 7, 8, 31, 32, 33}
    assert max(len(t.encode()) for t in strs) >= 120
    sdf = spark.createDataFrame([(t,) for t in strs], "t: string").select(
        "t", F.xxhash64("t").alias("h")
    )
    assert all(r["h"] == xxhash64(r["t"].encode()) for r in sdf.collect())
    for t in strs:
        term = spark.createDataFrame([(t,)], "term: string")
        assert store.touched_buckets(term, "term") == [store.bucket_of_str(t)]
