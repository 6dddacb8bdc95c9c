#!/usr/bin/env python
"""joern-scan equivalent CLI: run the query bundle over a pages table and
print the score-sorted report; with --sarif, also write the evidence
SARIF (per-match locations and code flows, query/sarif.py).  Both read
one pinned findings frame, so each page is built and scanned once.

    spark-submit --py-files joern_spark.zip jobs/scan.py \
        --pages <pages-parquet> [--sarif out.sarif]
"""

from __future__ import annotations

import argparse
import json


def main():
    from joern_spark.query.sarif import sarif_from_findings
    from joern_spark.query.scan import findings_report, scan_findings
    from joern_spark.session import get_spark
    from joern_spark.sparkutil import persist_result

    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", required=True)
    ap.add_argument("--sarif", help="also write a SARIF 2.1.0 file here")
    args = ap.parse_args()

    spark = get_spark(app_name="joern-spark-scan")
    spark.sparkContext.setLogLevel("ERROR")
    pages = spark.read.parquet(args.pages)
    # the report's sort samples its input before sorting it, and the SARIF
    # merge reads it again: pinned, the findings are scanned once
    findings = persist_result(scan_findings(pages))
    try:
        for row in findings_report(findings).collect():
            print(row.line)
        if args.sarif:
            with open(args.sarif, "w") as f:
                json.dump(sarif_from_findings(findings), f)
    finally:
        findings.unpersist()


if __name__ == "__main__":
    main()
