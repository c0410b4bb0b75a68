"""S10 — search-index configuration as data.

The reference configures its search indexes imperatively at startup
(/root/reference/src/meili.rs:273-433): per-dictionary article indexes
(``articles-{bm,nn,no}``, src/meili.rs:180-181) plus ``bibliography``
(src/meili.rs:121) and ``places`` (src/meili.rs:134), each with ordered
searchable attributes, filterable/sortable attribute sets, ranking rules,
stop words, and pagination/facet limits.

Here that contract is a DATASET: one long-format row per
(index, setting, position, value), emitted from a single Python constant
so the Spark frame, the DuckDB oracle, and the JSON artifact written
beside the search-documents sink all derive from the same source of
truth. Attribute ORDER is part of the contract (searchable-attribute
order drives Meilisearch's ``attribute`` ranking rule; ranking rules are
an ordered pipeline), hence the explicit ``ord`` column.

Scale note: this is control-plane metadata (a few hundred rows,
broadcastable anywhere); it exists so a deployment can diff the live
index settings against the declared contract as a join, not by reading
code.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

_RANKING_RULES = ["words", "typo", "proximity", "attribute", "sort", "exactness"]

_ARTICLE_SEARCHABLE = [
    "lemmas",
    "suggest",
    "inflections",
    "etymology_text",
    "pronunciation_text",
    "dialect_forms",
    "definition_text",
    "example_text",
    "written_forms",
    "sub_article_lemmas",
]

_ARTICLE_FILTERABLE = [
    "paradigm_tags",
    "inflection_tags",
    "has_split_inf",
    "dialect_places",
    "place_names",
    "place_codes",
    "place_types",
    "dialect_place_names",
    "dialect_place_codes",
    "dialect_place_types",
    "attestation_place_names",
    "attestation_place_codes",
    "attestation_place_types",
    "older_source_codes",
    "older_source_authors",
    "older_source_titles",
    "older_source_years",
    "written_form_source_codes",
    "written_form_source_authors",
    "written_form_source_titles",
    "written_form_source_years",
    "attestation_source_codes",
    "attestation_source_authors",
    "attestation_source_titles",
    "attestation_source_years",
    "bibliography_codes",
    "bibliography_authors",
    "bibliography_titles",
    "bibliography_years",
    "etymology_languages",
    "lemmas",
    "inflections",
    "suggest",
    "dictionary",
    "article_id",
    "definition_text",
    "example_text",
    "etymology_text",
    "pronunciation_text",
    "dialect_forms",
    "written_forms",
    "sub_article_lemmas",
]


def _index(
    name: str,
    searchable: list[str],
    filterable: list[str],
    sortable: list[str],
    max_total_hits: int,
    max_values_per_facet: int | None = None,
) -> dict:
    return {
        "primary_key": "id",
        "searchable": searchable,
        "filterable": filterable,
        "sortable": sortable,
        "ranking_rules": list(_RANKING_RULES),
        "stop_words": [],
        "max_total_hits": max_total_hits,
        "max_values_per_facet": max_values_per_facet,
    }


# src/meili.rs:283-357 (article indexes, one per dictionary), :360-392
# (bibliography), :395-433 (places)
INDEX_CONFIG: dict[str, dict] = {
    **{
        f"articles-{dict_}": _index(
            f"articles-{dict_}",
            _ARTICLE_SEARCHABLE,
            _ARTICLE_FILTERABLE,
            ["article_id"],
            max_total_hits=500_000,
            max_values_per_facet=10_000,
        )
        for dict_ in ("bm", "nn", "no")
    },
    "bibliography": _index(
        "bibliography",
        ["code", "author", "title", "year"],
        ["bibl_id", "code", "author", "title", "year"],
        ["year", "author"],
        max_total_hits=10_000,
    ),
    "places": _index(
        "places",
        ["place_name", "place_name_full", "place_type"],
        [
            "id",
            "place_name",
            "place_name_full",
            "place_type",
            "parent_id",
            "municipality_nr",
        ],
        ["place_name"],
        max_total_hits=10_000,
    ),
}


def config_rows() -> list[tuple[str, str, int, str]]:
    """Long-format (index_name, setting, ord, value) rows; ``ord`` keeps
    the order-sensitive settings (searchable attributes, ranking rules)
    faithful."""
    rows: list[tuple[str, str, int, str]] = []
    for name in sorted(INDEX_CONFIG):
        cfg = INDEX_CONFIG[name]
        rows.append((name, "primary_key", 0, cfg["primary_key"]))
        for setting in ("searchable", "filterable", "sortable", "ranking_rules", "stop_words"):
            for i, attr in enumerate(cfg[setting]):
                rows.append((name, setting, i, attr))
        rows.append((name, "max_total_hits", 0, str(cfg["max_total_hits"])))
        if cfg["max_values_per_facet"] is not None:
            rows.append(
                (name, "max_values_per_facet", 0, str(cfg["max_values_per_facet"]))
            )
    return rows


def index_config_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        config_rows(),
        schema="index_name: string, setting: string, ord: int, value: string",
    )


def index_config_oracle_sql() -> str:
    """VALUES literal from the same constant — exact parity by construction."""
    rows = config_rows()
    if any("'" in v for _, _, _, v in rows):
        raise ValueError("index config values must not contain a quote")
    values = ",\n        ".join(
        f"('{n}', '{s}', {i}, '{v}')" for n, s, i, v in rows
    )
    return f"""
    SELECT index_name, setting, CAST(ord AS INT) AS ord, value
    FROM (VALUES {values}) AS t(index_name, setting, ord, value)
    """


def write_index_config(
    out_dir: str, filename: str = "_search_index_config.json"
) -> str:
    """Write the config contract as a JSON artifact beside the
    search-documents sink (the deployable twin of the reference's startup
    configuration calls). The leading underscore keeps Spark/Hadoop
    readers from treating it as data. Returns the artifact path."""
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, filename)
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(INDEX_CONFIG, fh, indent=2, sort_keys=True)
    os.replace(tmp, path)
    return path
