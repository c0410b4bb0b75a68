"""Domain-pipeline queries: the reference's own data model run on the
fixture corpus ported from its unit tests (worker_spark/fixtures.py).

article_analysis reads the committed fixture parquet (fixture_data/) so
its DuckDB oracle can replay the extraction over the same nested structs
(hash-checked). inline_ref_codes oracles the code/spec projection of the
inline-ref parse; inline_ref_parse oracles the full parse INCLUDING UTF-8
byte offsets (strlen prefix walk), with regex-consumption edge cases
pinned by the goldens in tests/test_extraction.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from worker_spark.queries import register


def _naive_candidates(q: str) -> list[tuple[int, int, str, str | None]]:
    """Python twin of the offsets oracle's SQL enumeration: every '(' with a
    permissible preceding char and a first-')' closer, WITHOUT the regex
    scanner's left-to-right consumption. Used at oracle-build time to assert
    the two semantics coincide on this corpus (they diverge only on nested/
    adjacent paren groups, which the goldens pin separately)."""
    out: list[tuple[int, int, str, str | None]] = []
    for i, ch in enumerate(q):
        if ch != "(" or i == 0 or q[i - 1] in "\t\n\r\x0b\x0c":
            continue
        j = q.find(")", i + 1)
        if j <= i + 1:
            continue
        inner = q[i + 1 : j]
        start = len(q[:i].encode("utf-8"))
        end = len(q[: j + 1].encode("utf-8"))
        for seg in inner.split(";"):
            seg = seg.strip(" ")
            if not seg:
                continue
            sp = seg.find(" ")
            code = seg if sp == -1 else seg[:sp]
            spec = None if sp == -1 else (seg[sp + 1 :].strip(" ") or None)
            if code[:1].isupper():
                out.append((start, end, code, spec))
    return out


def _inline_ref_parse_oracle() -> str:
    """DuckDB replay of the FULL F1/F2 parse including UTF-8 byte offsets:
    '(' candidates are enumerated per character position, the byte offset is
    ``strlen`` (byte length) of the character prefix (exact for any Unicode
    content),
    and segment split / code-spec split / uppercase gate mirror the codes
    oracle. The one regex behavior SQL enumeration cannot express —
    left-to-right match consumption on nested or adjacent paren groups — is
    asserted absent from the corpus at build time; those semantics stay
    pinned by the tests/test_extraction.py goldens
    (src/extraction.rs:1086-1151)."""
    from worker_spark import fixtures as FX
    from worker_spark.functions.inline_refs import extract_refs_from_quote

    for q, _ in FX.QUOTE_CASES:
        if _naive_candidates(q) != extract_refs_from_quote(q):
            raise ValueError(
                "fixture quote needs regex consumption semantics; the SQL "
                f"offsets oracle cannot express it: {q!r}"
            )
    if any("'" in q for q, _ in FX.QUOTE_CASES):
        raise ValueError("the quote corpus is inlined as SQL literals")
    values = ",\n        ".join(
        f"('no', {100 + i}, '{q}')" for i, (q, _) in enumerate(FX.QUOTE_CASES)
    )
    return f"""
    WITH quotes(dictionary, article_id, quote_content) AS (
        VALUES {values}
    ),
    cand AS (
        SELECT dictionary, article_id, quote_content, i
        FROM quotes, UNNEST(range(2, length(quote_content) + 1)) AS t(i)
        WHERE substr(quote_content, CAST(i AS INT), 1) = '('
          AND substr(quote_content, CAST(i AS INT) - 1, 1)
              NOT IN (chr(9), chr(10), chr(11), chr(12), chr(13))
    ),
    m AS (
        SELECT dictionary, article_id, quote_content,
               CAST(strlen(substr(quote_content, 1, CAST(i AS INT) - 1))
                    AS INT) AS offset_start,
               CAST(strlen(substr(quote_content, 1,
                    CAST(i + position(')' IN substr(quote_content, CAST(i AS INT) + 1))
                    AS INT))) AS INT) AS offset_end,
               substr(quote_content, CAST(i AS INT) + 1,
                      position(')' IN substr(quote_content, CAST(i AS INT) + 1)) - 1
               ) AS inner_txt
        FROM cand
        WHERE position(')' IN substr(quote_content, CAST(i AS INT) + 1)) >= 2
    ),
    segs AS (
        SELECT dictionary, article_id, quote_content, offset_start, offset_end,
               trim(string_split(inner_txt, ';')[si]) AS seg
        FROM m, UNNEST(range(1, len(string_split(inner_txt, ';')) + 1)) AS ts(si)
    ),
    parsed AS (
        SELECT dictionary, article_id, quote_content, offset_start, offset_end,
               CASE WHEN position(' ' IN seg) = 0 THEN seg
                    ELSE seg[1:position(' ' IN seg)-1] END AS code,
               CASE WHEN position(' ' IN seg) = 0 THEN NULL
                    ELSE nullif(trim(seg[position(' ' IN seg)+1:]), '') END AS spec
        FROM segs WHERE seg <> ''
    )
    SELECT dictionary, article_id, quote_content, offset_start, offset_end,
           code, spec
    FROM parsed
    WHERE regexp_matches(code, '^[A-Z]')
    """


@register(
    "inline_ref_parse",
    _inline_ref_parse_oracle(),
    doc="F1/F2 inline-reference parsing with byte offsets over the "
    "reference's own quote corpus (src/extraction.rs:1086-1151) -> "
    "inline_ref_parse rows (migrations/20260518113248). Offsets are UTF-8 "
    "byte positions (octet_length of the char prefix in the oracle); "
    "regex-consumption edge cases stay golden-asserted in "
    "tests/test_extraction.py.",
)
def q_inline_ref_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _inline_ref_rows(spark)
    return df.select(
        "dictionary",
        "article_id",
        "quote_content",
        F.col("r.offset_start").alias("offset_start"),
        F.col("r.offset_end").alias("offset_end"),
        F.col("r.code").alias("code"),
        F.col("r.spec").alias("spec"),
    )


def _quote_corpus(spark: SparkSession) -> DataFrame:
    from worker_spark import fixtures as FX

    return spark.createDataFrame(
        [("no", 100 + i, q) for i, (q, _) in enumerate(FX.QUOTE_CASES)],
        schema="dictionary: string, article_id: bigint, quote_content: string",
    )


def _inline_ref_rows(spark: SparkSession) -> DataFrame:
    from worker_spark.functions.inline_refs import inline_refs_udf

    quotes = _quote_corpus(spark)
    return quotes.select(
        "dictionary",
        "article_id",
        "quote_content",
        F.posexplode(inline_refs_udf("quote_content")).alias("ref_ix", "r"),
    )


def _inline_ref_codes_oracle() -> str:
    """DuckDB replay of the F1/F2 parse minus byte offsets: the candidate
    regex, ';' segment split, first-space (code, spec) split, and the
    uppercase-initial code gate are all SQL-expressible; the quote corpus is
    inlined as VALUES (it is the reference's own literal test corpus)."""
    from worker_spark import fixtures as FX

    if any("'" in q for q, _ in FX.QUOTE_CASES):
        raise ValueError("the quote corpus is inlined as SQL literals")
    values = ",\n        ".join(
        f"('no', {100 + i}, '{q}')" for i, (q, _) in enumerate(FX.QUOTE_CASES)
    )
    return f"""
    WITH quotes(dictionary, article_id, quote_content) AS (
        VALUES {values}
    ),
    inners AS (
        SELECT dictionary, article_id, quote_content,
               regexp_extract_all(quote_content, '(?:\\S| )\\(([^)]+)\\)', 1) AS inner_list
        FROM quotes
    ),
    segs AS (
        SELECT dictionary, article_id, quote_content, mi, si,
               trim(string_split(inner_list[mi], ';')[si]) AS seg
        FROM inners,
             UNNEST(range(1, len(inner_list)+1)) AS tm(mi),
             UNNEST(range(1, len(string_split(inner_list[mi], ';'))+1)) AS ts(si)
    ),
    parsed AS (
        SELECT dictionary, article_id, quote_content, mi, si,
               CASE WHEN position(' ' IN seg) = 0 THEN seg
                    ELSE seg[1:position(' ' IN seg)-1] END AS code,
               CASE WHEN position(' ' IN seg) = 0 THEN NULL
                    ELSE nullif(trim(seg[position(' ' IN seg)+1:]), '') END AS spec
        FROM segs WHERE seg <> ''
    )
    SELECT dictionary, article_id, quote_content,
           (row_number() OVER (PARTITION BY dictionary, article_id
                               ORDER BY mi, si) - 1)::INT AS ref_ix,
           code, spec
    FROM parsed
    WHERE regexp_matches(code, '^[A-Z]')
    ORDER BY article_id, ref_ix
    """


@register(
    "inline_ref_codes",
    _inline_ref_codes_oracle(),
    doc="F1/F2 inline-reference parsing, the SQL-expressible projection "
    "(per-quote ref sequence, code, spec — everything except byte offsets, "
    "which stay pinned by the tests/test_extraction.py goldens from "
    "src/extraction.rs:1086-1151): DuckDB replays the candidate regex, "
    "segment split, first-space code/spec split and uppercase gate.",
)
def q_inline_ref_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _inline_ref_rows(spark)
    return df.select(
        "dictionary",
        "article_id",
        "quote_content",
        F.col("ref_ix").cast("int").alias("ref_ix"),
        F.col("r.code").alias("code"),
        F.col("r.spec").alias("spec"),
    )


_FIXTURE_PARQUET = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "fixture_data",
    "articles_parquet",
    "*.parquet",
)


def _analysis_oracle() -> str:
    """DuckDB twin of analyze_article over the committed fixture parquet:
    the typed schema makes the reference's $.** scans path-enumerable, so
    the oracle unnests exactly the carrier paths (older_source,
    written_form sources, definition-tree place_refs to the unroll depth,
    dialect sources, article_ref/sub_article items)."""
    from worker_spark.schemas import MAX_DEF_DEPTH

    def defs_from(depth: int) -> str:
        clauses = ["UNNEST(a.data.body.definitions) AS t1(d1)"]
        for k in range(2, depth + 1):
            clauses.append(f"UNNEST(d{k - 1}.sub_definitions) AS t{k}(d{k})")
        return ", ".join(clauses)

    bibl_parts = [
        "SELECT a.dictionary, a.id, u.bibl_id AS v FROM arts a, "
        "UNNEST(a.data.body.older_source) AS t(u) WHERE u.bibl_id IS NOT NULL",
        "SELECT a.dictionary, a.id, s.bibl_id AS v FROM arts a, "
        "UNNEST(a.data.body.written_form) AS t1(wf), UNNEST(wf.forms) AS t2(f), "
        "UNNEST(f.sources) AS t3(s) WHERE s.bibl_id IS NOT NULL",
    ]
    attest_parts = []
    related_parts = [
        "SELECT a.dictionary, a.id, it.article_id AS v FROM arts a, "
        "UNNEST(a.data.body.etymology) AS t1(e), UNNEST(e.items) AS t2(it) "
        "WHERE it.type_ IN ('article_ref','sub_article') AND it.article_id IS NOT NULL",
    ]
    for depth in range(1, MAX_DEF_DEPTH + 1):
        base = defs_from(depth)
        bibl_parts.append(
            f"SELECT a.dictionary, a.id, pr.bibl_id AS v FROM arts a, {base}, "
            f"UNNEST(d{depth}.elements) AS te(el), UNNEST(el.place_refs) AS tp(pr) "
            "WHERE pr.bibl_id IS NOT NULL"
        )
        attest_parts.append(
            f"SELECT a.dictionary, a.id, pr.place.place_id AS v FROM arts a, {base}, "
            f"UNNEST(d{depth}.elements) AS te(el), UNNEST(el.place_refs) AS tp(pr) "
            "WHERE pr.place.place_id IS NOT NULL"
        )
        related_parts.append(
            f"SELECT a.dictionary, a.id, el.article_id AS v FROM arts a, {base}, "
            f"UNNEST(d{depth}.elements) AS te(el) "
            "WHERE el.type_ IN ('article_ref','sub_article') AND el.article_id IS NOT NULL"
        )
        related_parts.append(
            f"SELECT a.dictionary, a.id, it.article_id AS v FROM arts a, {base}, "
            f"UNNEST(d{depth}.elements) AS te(el), UNNEST(el.quote.items) AS tq(it) "
            "WHERE it.type_ IN ('article_ref','sub_article') AND it.article_id IS NOT NULL"
        )
        related_parts.append(
            f"SELECT a.dictionary, a.id, it.article_id AS v FROM arts a, {base}, "
            f"UNNEST(d{depth}.elements) AS te(el), UNNEST(el.items) AS ti(it) "
            "WHERE it.type_ IN ('article_ref','sub_article') AND it.article_id IS NOT NULL"
        )
    dialect_sql = (
        "SELECT a.dictionary, a.id, s.place_id AS v FROM arts a, "
        "UNNEST(a.data.body.dialect) AS t1(dd), UNNEST(dd.subcats) AS t2(sc), "
        "UNNEST(sc.forms) AS t3(f), UNNEST(f.sources) AS t4(s) "
        "WHERE s.place_id IS NOT NULL"
    )

    def csv_cte(name: str, parts: list[str]) -> str:
        union = "\n        UNION ALL\n        ".join(parts)
        return f"""
    {name}_raw AS (
        {union}
    ),
    {name} AS (
        SELECT dictionary, id, string_agg(v::VARCHAR, ',' ORDER BY v) AS csv
        FROM (SELECT DISTINCT dictionary, id, v FROM {name}_raw)
        GROUP BY dictionary, id
    )"""

    return f"""
    WITH arts AS (
        SELECT dictionary, id, data FROM read_parquet('{_FIXTURE_PARQUET}')
    ),{csv_cte("bibl", bibl_parts)},{csv_cte("attest", attest_parts)},{csv_cte("rel", related_parts)},{csv_cte("dia", [dialect_sql])}
    SELECT a.dictionary, a.id,
           coalesce(a.data.lemmas[1].lemma, '') AS primary_lemma,
           coalesce(bibl.csv, '')   AS bibl_ids,
           coalesce(dia.csv, '')    AS dialect_place_ids,
           coalesce(attest.csv, '') AS attestation_place_ids,
           coalesce(rel.csv, '')    AS related_article_ids
    FROM arts a
    LEFT JOIN bibl   ON bibl.dictionary = a.dictionary AND bibl.id = a.id
    LEFT JOIN attest ON attest.dictionary = a.dictionary AND attest.id = a.id
    LEFT JOIN rel    ON rel.dictionary = a.dictionary AND rel.id = a.id
    LEFT JOIN dia    ON dia.dictionary = a.dictionary AND dia.id = a.id
    """


@register(
    "article_analysis",
    _analysis_oracle(),
    doc="analyze_article (src/extraction.rs:746-773) over the committed "
    "fixture parquet: primary lemma, all-depth bibl ids, dialect/"
    "attestation place ids, related article ids. Id sets emitted as "
    "sorted CSV for engine-neutral hashing (true insertion order is "
    "pinned by tests/test_extraction.py goldens).",
)
def q_article_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark import extraction as X

    arts = spark.read.parquet(os.path.dirname(_FIXTURE_PARQUET))
    d = F.col("data")

    def csv(col):
        return F.array_join(
            F.transform(F.array_sort(col), lambda x: x.cast("string")), ","
        )

    return arts.select(
        "dictionary",
        "id",
        X.first_lemma_col(d).alias("primary_lemma"),
        csv(X.all_bibl_ids_col(d)).alias("bibl_ids"),
        csv(X.dialect_place_ids_col(d)).alias("dialect_place_ids"),
        csv(X.attestation_place_ids_col(d)).alias("attestation_place_ids"),
        csv(X.related_article_ids_col(d)).alias("related_article_ids"),
    )


def _index_config_oracle() -> str:
    from worker_spark.plans.index_config import index_config_oracle_sql

    return index_config_oracle_sql()


@register(
    "search_index_config",
    _index_config_oracle(),
    doc="S10 index configuration as data (src/meili.rs:273-433): one "
    "long-format row per (index, setting, ord, value) for the five "
    "reference indexes — ordered searchable attributes, filterable/"
    "sortable sets, ranking-rule pipeline, pagination and facet limits. "
    "Spark frame, DuckDB oracle, and the JSON artifact the sink writes "
    "all derive from the same constant.",
)
def q_search_index_config(spark: SparkSession, sf_dir: str) -> DataFrame:
    from worker_spark.plans.index_config import index_config_df

    return index_config_df(spark)
