#!/usr/bin/env python3
"""Produce the dedup recall-vs-cost table (committed as DEDUP_EVAL.md).

Usage: python tools/dedup_eval.py [sf_dir]   (default /root/testdata/sf0.1)

Prints the markdown table plus one JSON line. Edit distance is included
automatically at sf0.01 and below (its DP verify is the family's most
expensive stage); pass --edit to force it at larger SFs.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--edit"]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    include_edit = "--edit" in sys.argv or "sf0.01" in sf_dir or "sf0.001" in sf_dir
    from worker_spark.session import get_spark

    spark = get_spark("dedup-eval", extra_conf={"spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")
    from worker_spark.operators.dedup_eval import (
        evaluate_dedup,
        evaluate_semantic_dedup,
        markdown_semantic_table,
        markdown_table,
    )

    rows = evaluate_dedup(spark, sf_dir, include_edit_distance=include_edit)
    print("## lexical tiers — documents (v1 fixture)\n")
    print(markdown_table(rows))
    rows_v2 = evaluate_dedup(
        spark,
        sf_dir,
        include_edit_distance=include_edit,
        corpus_source="documents_v2",
    )
    print("\n## lexical tiers — documents_v2 (Zipf-ish derived corpus)\n")
    print(markdown_table(rows_v2))
    sem_rows = evaluate_semantic_dedup(spark, sf_dir)
    print()
    print(markdown_semantic_table(sem_rows))
    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "rows": rows,
                "rows_v2": rows_v2,
                "semantic_rows": sem_rows,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
