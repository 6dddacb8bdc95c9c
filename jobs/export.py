#!/usr/bin/env python
"""joern-export equivalent CLI (reference: joern-cli JoernExport.scala:34-49):
write one representation of every page's CPG as a parquet table.

    spark-submit --py-files joern_spark.zip jobs/export.py \
        --pages <pages-parquet> --repr ast|cfg|ddg|cdg|pdg|cpg14|all \
        --format dot|graphml|graphson --out <dir>

- dot: one row (url, method_full_name, dot) per internal method
  (`method_dot_frames`); their error rows stay out of the table.  `all`
  has no per-method rendering.
- graphml / graphson: one row (url, graphml|graphson) per page, over one
  materialized build (`export_graphml` / `export_graphson`).

Every format prints the count of pages that failed to build to stderr.
"""

from __future__ import annotations

import argparse
import sys


def main():
    from pyspark.sql import functions as F

    from joern_spark.cpg.spark_build import build_cpg_tables
    from joern_spark.query.export import (
        REPRESENTATIONS, export_graphml, export_graphson, method_dot_frames,
    )
    from joern_spark.session import get_spark
    from joern_spark.sparkutil import cached

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--repr", required=True, choices=list(REPRESENTATIONS))
    ap.add_argument("--format", required=True,
                    choices=["dot", "graphml", "graphson"])
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    if args.format == "dot" and args.repr == "all":
        ap.error("--format dot renders one method at a time: pick a --repr "
                 "other than all")

    spark = get_spark(app_name="joern-spark-export")
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(args.pages)
    if args.format == "dot":
        dots = method_dot_frames(pages, args.repr)
        failed = F.col("method_full_name") == "<parse-error>"
        # written and counted from one build
        with cached(dots):
            dots.where(~failed).write.mode("overwrite").parquet(args.out)
            n_failed = dots.where(failed).count()
    else:
        export = {"graphml": export_graphml,
                  "graphson": export_graphson}[args.format]
        tables = build_cpg_tables(pages)
        try:
            export(*tables, args.repr).write.mode("overwrite").parquet(args.out)
            n_failed = tables.failed_pages()
        finally:
            tables.unpersist()
    print(f"failed pages: {n_failed}", file=sys.stderr)
    rows = spark.read.parquet(args.out).count()
    print(f"{args.format} export written: {args.out} rows={rows}")


if __name__ == "__main__":
    main()
