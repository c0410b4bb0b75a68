"""Deduplication operators for the training-data pipeline surface.

Four families, all pure DataFrame transforms with JVM-side expressions
(no Python UDFs in the hot path), each mirrored by ANSI SQL for the
DuckDB oracle (worker_spark.queries.dedup):

* exact        — content-hash groupBy, min-id survivor
* n-gram Jaccard — word-shingle overlap pairs (exact near-dup measure)
* MinHash + LSH  — shingle -> 16-perm minhash signature -> 4x4 bands ->
                   bucket join for candidates -> Jaccard verify
* SimHash      — 48-bit token-hash sign-sum fingerprint; near-dups share
                 a 12-bit band (pigeonhole for hamming <= 3 over 4 bands)

Scale notes: every stage is a hash-shuffle on a derived key (content hash,
shingle, band key, byte band) — no cross join ever materializes the full
pair space. The n-gram Jaccard path additionally caps shingle document
frequency before its self-join (stop-shingles are the one input that can
blow up an equi-join; see ngram_jaccard_pairs). Candidate pairs are bounded
by bucket co-occupancy, the standard LSH trade-off. The 4x4-band/16-perm
s-curve has its midpoint at (1/4)^(1/4) ~= 0.71: pairs with Jaccard ~0.7+
are found w.h.p., while a pair at exactly 0.5 is caught with only ~23%
probability — callers needing high recall at 0.5 should re-band 8x2 over
the same 16 perms (midpoint ~0.35) at the cost of a wider band join. At
100 TB the same plan holds: shingling is a generator-explode (no driver
state), signatures are a single groupBy, and band joins are equi-joins AQE
can handle.

The shingle hash is engine-portable: ``conv(substr(md5(sh),1,14),16,10)``
(56 bits, exact in BIGINT/DOUBLE-free integer math) reduced mod the
Mersenne prime 2^31-1; permutations are fixed affine maps (A_i*y+B_i) mod P.

Cache lifetime: the pipelines cache + materialize their shingle/signature
intermediates (they feed several branches of one action) and do NOT
unpersist — the result DataFrame still references them lazily. Callers
running many pipelines in one session should ``spark.catalog.clearCache()``
between them (bench.py does); at production scale, write the
intermediates to a table instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

MERSENNE_P = 2_147_483_647  # 2^31 - 1
N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = 4

# Fixed affine permutation constants (public-domain primes/odds; any fixed
# coprime-ish constants work — determinism across engines is what matters).
MINHASH_A = (
    1103515245, 1103577, 2416435, 99991, 7919, 104729, 1299709, 15485863,
    32452843, 49979687, 67867967, 86028121, 104395301, 122949823, 141650939,
    160481183,
)
MINHASH_B = (
    12345, 67890, 111, 222, 333, 4444, 55555, 666666,
    777, 888, 999, 1234567, 7654321, 2468, 13579, 97531,
)
if len(MINHASH_A) != N_PERM or len(MINHASH_B) != N_PERM:
    raise ValueError(f"MinHash needs {N_PERM} (a, b) coefficient pairs")

# 48-bit SimHash (12 hex chars of md5 -> exact in BIGINT); 4 bands x 12 bits.
# 48 bits gives enough discrimination that byte-band collisions stay rare even
# on small-vocabulary corpora where token sets overlap heavily.
SIMHASH_BITS = 48
SIMHASH_BAND_BITS = 12
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup: md5 content hash, min-id survivor, duplicate count."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )
    )


def word_shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle).

    Tokens are bound to a column *before* the shingle lambda — referencing
    the split() expression inside ``transform`` would re-split the text per
    array element (O(tokens^2) regex work per document)."""
    tokenized = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
    )
    toks = F.col("toks")
    # guard: Spark's sequence(0, negative) DESCENDS — documents shorter than
    # n tokens must yield no shingles (DuckDB's range() is empty there)
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", *[F.get(toks, i + off) for off in range(n)]),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return tokenized.select(
        "id", F.explode(F.array_distinct(sh)).alias("shingle")
    ).distinct()


def _jaccard_verify(
    shingles: DataFrame, threshold: float, candidates: DataFrame | None = None
) -> DataFrame:
    """Shared exact-Jaccard verification over a (id, shingle) relation:
    pair intersections via shingle equi-join (restricted to ``candidates``
    (id_a, id_b) when given), per-doc sizes, jaccard >= threshold.
    The single source of the jaccard = inter/(a+b-inter) formula and its
    oracle-matching rounding."""
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = shingles.alias("sa")
    b = shingles.alias("sb")
    if candidates is None:
        inter = (
            a.join(
                b,
                (F.col("sa.shingle") == F.col("sb.shingle"))
                & (F.col("sa.id") < F.col("sb.id")),
            )
            .groupBy(F.col("sa.id").alias("id_a"), F.col("sb.id").alias("id_b"))
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    else:
        inter = (
            candidates.join(a, F.col("id_a") == F.col("sa.id"))
            .join(
                b,
                (F.col("id_b") == F.col("sb.id"))
                & (F.col("sa.shingle") == F.col("sb.shingle")),
            )
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    return (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_df_cap: int | None = 1000,
) -> DataFrame:
    """All document pairs sharing >=1 shingle, with exact Jaccard similarity
    over distinct word n-grams; keeps pairs with jaccard >= threshold.
    Pair generation is shingle-equi-join (never a cross join).

    ``shingle_df_cap`` bounds the equi-join fan-out: a shingle occurring in
    df documents generates O(df^2) candidate rows, so one "stop-shingle"
    present in 10^5 docs would alone emit 10^10 join rows at scale. Shingles
    with document frequency > cap are dropped BEFORE the self-join (the
    standard stop-shingle treatment), and per-doc sizes are computed over
    the same capped shingle universe, so the reported jaccard is exact over
    that universe. Ubiquitous shingles carry almost no pair information —
    near-identical documents still share many sub-cap shingles. Pass
    ``None`` to disable (exact small-corpus semantics); the per-pair work
    is then unbounded in the hottest shingle's df."""
    sh = word_shingles(docs, n=n, id_col=id_col, text_col=text_col)
    if shingle_df_cap is not None:
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > shingle_df_cap)
            .select("shingle")
        )
        # hot set is tiny by construction (<= n_docs/cap distinct shingles
        # can exceed the cap); left_anti equi-join, AQE broadcasts it
        sh = sh.join(hot, "shingle", "left_anti")
    sh = sh.cache()
    sh.count()  # materialize before the three downstream scans (see minhash)
    return _jaccard_verify(sh, threshold).select("id_a", "id_b", "n_inter", "jaccard")


def _shingle_base_hash() -> F.Column:
    """56-bit base hash of the current ``shingle`` column, mod P."""
    x = F.conv(F.substring(F.col("shingle"), 1, 14), 16, 10).cast("long")
    return F.pmod(x, F.lit(MERSENNE_P))


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Per-document MinHash signature: columns mh_0..mh_{N_PERM-1}.

    Pass a precomputed (cached) ``shingles`` frame to share the shingling
    scan with the verify stage (at scale: materialize shingles once)."""
    sh = shingles if shingles is not None else word_shingles(docs, n=n, id_col=id_col, text_col=text_col)
    hashed = sh.withColumn("shingle", F.md5(F.col("shingle"))).withColumn(
        "y", _shingle_base_hash()
    )
    aggs = [
        F.min(F.pmod(F.lit(MINHASH_A[i]) * F.col("y") + F.lit(MINHASH_B[i]), F.lit(MERSENNE_P))).alias(f"mh_{i}")
        for i in range(N_PERM)
    ]
    return hashed.groupBy("id").agg(*aggs)


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Band the signature 4x4 and emit distinct candidate pairs sharing
    any band bucket. Banding is a single explode over an inline
    (band, bucket) array — one scan of the signatures, not one per band."""
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "-",
                    *[
                        F.col(f"mh_{b * ROWS_PER_BAND + r}").cast("string")
                        for r in range(ROWS_PER_BAND)
                    ],
                ).alias("bucket"),
            )
            for b in range(N_BANDS)
        ]
    )
    banded = signatures.select(
        "id", F.explode(entries).alias("e")
    ).select("id", F.col("e.band").alias("band"), F.col("e.bucket").alias("bucket"))
    a = banded.alias("a")
    b2 = banded.alias("b")
    return (
        a.join(
            b2,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: candidates from band buckets,
    verified with exact shingle Jaccard >= threshold.

    Recall note: with 4x4 banding the s-curve midpoint is ~0.71, so the
    default threshold=0.5 keeps only verified-true pairs but does NOT find
    all 0.5-Jaccard pairs (~23% each). For near-complete recall either set
    threshold ~0.7+, or re-band 8x2 (see module docstring)."""
    sh = word_shingles(docs, n=n, id_col=id_col, text_col=text_col).cache()
    # Materialize the cache before fanning out: the shingle subtree feeds four
    # branches of ONE action, and concurrent scans of an unmaterialized
    # InMemoryRelation each recompute it. (At 100 TB: write shingles to a
    # temp table instead of caching.)
    sh.count()
    # signatures feed both sides of the banded self-join — one materialized
    # copy instead of two groupBy passes
    sigs = minhash_signatures(
        docs, n=n, id_col=id_col, text_col=text_col, shingles=sh
    ).cache()
    sigs.count()
    cands = lsh_candidate_pairs(sigs)
    return _jaccard_verify(sh, threshold, candidates=cands).select(
        "id_a", "id_b", "jaccard"
    )


def simhash(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """48-bit SimHash over distinct word n-gram shingles: bit j of the
    fingerprint is set iff sum over shingles of sign((hash >> j) & 1) is
    positive. Shingle features (not bare tokens) keep the fingerprint
    discriminative on small-vocabulary corpora where most documents share
    most of the token *set*."""
    tok = word_shingles(docs, n=n, id_col=id_col, text_col=text_col).withColumn(
        "x",
        F.conv(F.substring(F.md5(F.col("shingle")), 1, SIMHASH_BITS // 4), 16, 10).cast(
            "long"
        ),
    )
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("x"), j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"s_{j}")
        for j in range(SIMHASH_BITS)
    ]
    sums = tok.groupBy("id").agg(*bit_sums)
    fp = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select(F.col("id"), fp.cast("long").alias("simhash"))


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Near-dup pairs by SimHash hamming distance <= max_hamming, using the
    4x12-bit band pigeonhole (distance <=3 over 4 bands => one band equal)."""
    fps = simhash(docs, id_col=id_col, text_col=text_col).cache()
    fps.count()  # single materialization; feeds both sides of the self-join
    entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * k)
                .bitwiseAND(F.lit(SIMHASH_BAND_MASK))
                .alias("byte"),
            )
            for k in range(4)
        ]
    )
    banded = fps.select("id", "simhash", F.explode(entries).alias("e")).select(
        "id", "simhash", F.col("e.band").alias("band"), F.col("e.byte").alias("byte")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.byte") == F.col("b.byte"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_incremental_pairs(
    docs: DataFrame,
    is_new: Column,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental dedup: near-dup pairs between a NEW batch and the
    HISTORICAL corpus only (``is_new`` is a boolean predicate over ``docs``
    columns). New-vs-new and old-vs-old pairs are excluded — the production
    shape where each ingest batch is screened against the corpus index.

    At 100 TB the historical side's banded fingerprints live in a parquet
    index table partitioned by (band, byte); each batch computes its own
    fingerprints (map-only) and equi-joins that index — the join touches
    only matching band partitions, never the corpus text. Here both sides
    derive from one fingerprint pass over ``docs`` (single scan), split by
    the predicate."""
    fps = simhash(docs, id_col=id_col, text_col=text_col).join(
        docs.select(F.col(id_col).alias("id"), is_new.alias("is_new")), "id"
    )
    fps = fps.cache()
    fps.count()  # one materialization feeds both sides of the band join
    entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"),
                F.shiftright(F.col("simhash"), SIMHASH_BAND_BITS * k)
                .bitwiseAND(F.lit(SIMHASH_BAND_MASK))
                .alias("byte"),
            )
            for k in range(4)
        ]
    )
    banded = fps.select("id", "simhash", "is_new", F.explode(entries).alias("e")).select(
        "id", "simhash", "is_new", F.col("e.band").alias("band"), F.col("e.byte").alias("byte")
    )
    a = banded.filter(F.col("is_new")).alias("a")
    b = banded.filter(~F.col("is_new")).alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band")) & (F.col("a.byte") == F.col("b.byte")),
        )
        .select(
            F.col("a.id").alias("new_id"),
            F.col("b.id").alias("corpus_id"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
        .select(
            "new_id",
            "corpus_id",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("new_id", "corpus_id", F.col("hamming").cast("int").alias("hamming"))
    )


# Cross-lingual / orthographic normalization: one-to-one char map shared
# verbatim with the DuckDB oracle (translate() has identical semantics in
# both engines). Latin diacritics fold to ASCII; ligatures/sharp-s map to
# their leading letter (single-char translate cannot expand). Non-Latin
# scripts are untouched here and then dropped by the [^a-z0-9 ] sweep —
# true transliteration of non-Latin text is a tokenizer-level concern.
TRANSLIT_FROM = "àáâãäåçèéêëìíîïñòóôõöøùúûüýÿæœß"
TRANSLIT_TO = "aaaaaaceeeeiiiinoooooouuuuyyaos"
if len(TRANSLIT_FROM) != len(TRANSLIT_TO):
    raise ValueError("transliteration tables differ in length")


def translit_normalize(col: F.Column) -> F.Column:
    """Accent-folded lowercase alphanumeric text: the join key space for
    cross-lingual / orthographic near-dup detection ('Ærø-øl på vänern'
    and 'Aero-ol pa Vanern'-style variants shingle identically). Pure
    map-side expression."""
    x = F.translate(F.lower(col), TRANSLIT_FROM, TRANSLIT_TO)
    return F.trim(F.regexp_replace(x, "[^a-z0-9 ]", " "))


def translit_sql(expr: str) -> str:
    """The identical normalization as a DuckDB SQL expression."""
    return (
        f"trim(regexp_replace(translate(lower({expr}), "
        f"'{TRANSLIT_FROM}', '{TRANSLIT_TO}'), '[^a-z0-9 ]', ' ', 'g'))"
    )


# -- duplicated-substring spans ---------------------------------------------
#
# Document-pair dedup (everything above) misses the other corpus pathology:
# long VERBATIM passages repeated across otherwise-distinct documents
# (boilerplate, licenses, quoted chains). The public treatment is exact
# substring dedup over a corpus-wide suffix array (Lee et al.,
# "Deduplicating Training Data Makes Language Models Better", 2022); a
# suffix array is driver-hostile at 100 TB, but its *output* — maximal
# repeated spans of >= w tokens — is reproducible with three shuffle-bounded
# relational steps: (1) slide a w-token window over every document (explode:
# one row per token position, same cost class as shingling), (2) keep window
# texts occurring >= min_df times corpus-wide (hash groupBy on the window
# digest — never a self-join), (3) merge each document's surviving positions
# into maximal spans with a lag/cum-sum island pass (two window functions
# over per-document partitions). All-integer arithmetic end to end, so the
# DuckDB oracle replays it bit-for-bit.

SPAN_W = 8  # window width in tokens (both engines)


def duplicate_substring_spans(
    docs: DataFrame,
    w: int = SPAN_W,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated token spans per document.

    A position is "duplicated" when its w-token window text occurs at
    >= ``min_df`` positions corpus-wide (across documents OR repeated
    inside one — both are training-data pathologies). Overlapping and
    adjacent duplicated windows (position gap <= w) merge into one span.

    Output: (doc_id, span_start, span_end, span_tokens, n_windows) with
    token positions 0-based inclusive.

    Scale: the window explode is O(total tokens) slim rows (pos + 16-byte
    digest — never the window text itself past the md5), the duplicate
    screen is one groupBy on the digest, and the island merge partitions
    by document (bounded by document length). No step is quadratic in
    corpus size; a corpus-wide stop-digest (window text appearing in
    millions of positions) only shrinks `dup` — fan-out is the semi-join
    back onto positions, linear in corpus tokens."""
    tokenized = docs.select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
    )
    toks = F.col("toks")
    # sequence(0, negative) DESCENDS — guard docs shorter than w tokens
    wins = F.when(
        F.size(toks) >= w,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - w),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                F.md5(F.concat_ws(" ", F.slice(toks, i + 1, w))).alias("wkey"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,wkey:string>>"))
    win = tokenized.select("id", F.explode(wins).alias("e")).select(
        "id", F.col("e.pos").alias("pos"), F.col("e.wkey").alias("wkey")
    )
    win = win.cache()
    win.count()  # materialize: feeds the duplicate screen AND the semi-join
    dup = (
        win.groupBy("wkey")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= min_df)
        .select("wkey")
    )
    hits = win.join(dup, "wkey", "left_semi").select("id", "pos")
    by_pos = Window.partitionBy("id").orderBy("pos")
    flagged = hits.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(by_pos) > w, F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    grps = flagged.withColumn("grp", F.sum("brk").over(by_pos))
    return (
        grps.groupBy("id", "grp")
        .agg(
            F.min("pos").cast("int").alias("span_start"),
            (F.max("pos") + F.lit(w - 1)).cast("int").alias("span_end"),
            (F.max("pos") + F.lit(w) - F.min("pos")).cast("int").alias("span_tokens"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .select(
            F.col("id").alias(id_col),
            "span_start",
            "span_end",
            "span_tokens",
            "n_windows",
        )
    )


# relative edit-distance cut for edit_distance_near_dups, as an integer
# percentage so the verify predicate is exact integer arithmetic in both
# engines (dist * 100 <= EDIT_MAX_REL_PCT * max_len)
EDIT_MAX_REL_PCT = 25
# per-pair cost bound (VERDICT r3 item 5): banding bounds the candidate
# COUNT, not the per-pair DP — two 1 MB near-dup docs would be a 10^12-cell
# levenshtein. Texts are prefix-truncated to this many chars before the
# verify (documented approximation: beyond the cap the decision is made on
# the prefix), and the DP itself is threshold-banded, so the worst pair
# costs O(cap * cap * pct/100) ~ 1e8 cells instead of unbounded.
EDIT_VERIFY_MAX_CHARS = 20_000


def edit_distance_near_dups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_rel_pct: int = EDIT_MAX_REL_PCT,
    max_chars: int = EDIT_VERIFY_MAX_CHARS,
) -> DataFrame:
    """Fuzzy dedup with an EDIT-DISTANCE verify: MinHash/LSH banded
    candidate generation (never a pair cross join), then ``levenshtein``
    on the candidate pairs, kept when the distance is at most
    ``max_rel_pct``% of the longer text.

    Where Jaccard verifies BAG-OF-SHINGLES overlap, edit distance
    verifies SEQUENCE similarity — it penalizes reordering that shingle
    overlap forgives, which is the right notion for boilerplate variants
    and templated near-copies. Two cost bounds keep the verify affordable
    at corpus scale (the banded candidates bound only the PAIR count):

    * texts are prefix-truncated to ``max_chars`` before the DP; for
      documents beyond the cap the keep decision is a documented prefix
      approximation (edit_distance and rel_distance are computed over
      the truncated texts, and ``_mx`` is the truncated max length, so
      the ratio stays internally consistent);
    * the DP is THRESHOLD-banded (Spark's 3-arg ``levenshtein`` early-
      exits once the distance provably exceeds the threshold, an
      O(len x threshold) band instead of O(len_a x len_b)). The global
      threshold ``max_rel_pct% of max_chars`` is >= every per-pair cut
      ``max_rel_pct% of _mx``, so banding never changes the kept set:
      a pair the filter would keep has distance <= its per-pair cut <=
      the threshold and is therefore never clipped to -1.

    The distance is an integer both engines compute identically and the
    keep predicate is integer arithmetic (no float rounding window).
    Output: (id_a, id_b, edit_distance, rel_distance)."""
    ids = docs.select(
        F.col(id_col).alias("id"),
        F.substring(F.col(text_col), 1, max_chars).alias("text"),
    )
    cands = lsh_candidate_pairs(
        minhash_signatures(docs, id_col=id_col, text_col=text_col)
    )
    a = ids.select(F.col("id").alias("id_a"), F.col("text").alias("_ta"))
    b = ids.select(F.col("id").alias("id_b"), F.col("text").alias("_tb"))
    threshold = max_rel_pct * max_chars // 100
    scored = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("_ta", "_tb", threshold)
            .cast("long")
            .alias("edit_distance"),
            F.greatest(F.length("_ta"), F.length("_tb"))
            .cast("long")
            .alias("_mx"),
        )
    )
    return (
        scored.filter(
            (F.col("edit_distance") >= 0)
            & (F.col("edit_distance") * 100 <= F.lit(max_rel_pct) * F.col("_mx"))
        )
        .select(
            "id_a",
            "id_b",
            "edit_distance",
            F.round(
                F.col("edit_distance") / F.col("_mx").cast("double"), 6
            ).alias("rel_distance"),
        )
    )
