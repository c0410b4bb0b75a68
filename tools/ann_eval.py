#!/usr/bin/env python3
"""Produce the ANN recall-vs-cost table (VERDICT r4 item 5).

Usage: python tools/ann_eval.py [sf_dir]   (default /root/testdata/sf0.1)

Prints the markdown table (committed as ANN_EVAL.md) plus one JSON line.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from worker_spark.session import get_spark

    spark = get_spark("ann-eval", extra_conf={"spark.driver.memory": "8g"})
    spark.sparkContext.setLogLevel("ERROR")
    from worker_spark.operators.ann_eval import evaluate_ann, markdown_table

    rows = evaluate_ann(spark, sf_dir)
    print(markdown_table(rows))
    print(json.dumps({"sf_dir": sf_dir, "rows": rows}))
    spark.stop()


if __name__ == "__main__":
    main()
