#!/usr/bin/env python
"""joern-parse equivalent CLI: build the CPG for a pages table in ONE pass
and persist it as the partitioned parquet store (the cpg.bin analog).

    spark-submit --py-files joern_spark.zip jobs/parse.py \
        --pages <pages-parquet> --out <cpg-store-dir> [--mode overwrite|append]

Re-running over the same pages is idempotent: node ids are content-derived
(overwrite is byte-stable; append-mode duplicates are merged on load).
"""

from __future__ import annotations

import argparse


def main():
    from joern_spark.cpg.spark_build import build_cpg_tables
    from joern_spark.cpg.store import load_cpg_tables, save_cpg_tables
    from joern_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--mode", default="overwrite", choices=["overwrite", "append"])
    args = ap.parse_args()

    spark = get_spark(app_name="joern-spark-parse")
    spark.sparkContext.setLogLevel("ERROR")
    tables = build_cpg_tables(spark.read.parquet(args.pages))
    try:
        save_cpg_tables(*tables, args.out, mode=args.mode)
    finally:
        tables.unpersist()
    n, e = load_cpg_tables(spark, args.out)
    print(f"cpg store written: {args.out} nodes={n.count()} edges={e.count()}")


if __name__ == "__main__":
    main()
