#!/usr/bin/env python
"""Measure the corpus_clean cluster-sharing seam (round-7 evidence).

At 100 TB the minhash→LSH→CC chain dominates corpus_clean; a real
corpus build computes it ONCE and feeds the (doc_id, cluster_id) frame
to every consumer (`corpus_clean(clusters=...)`, clean.py).  This tool
records the wall for both paths on the same input so the seam's value
is measured, not asserted:

  recompute : corpus_clean(docs)                — chain recomputed inside
  shared    : corpus_clean(docs, clusters=cc)   — chain precomputed+cached

and asserts the survivor sets are identical.

Usage: python tools/clean_shared_check.py [--sf-dir /tmp/sf1]
           [--out docs/CLEAN_shared_sf1_r7.json]
Prints one JSON line and writes it to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sf1")
    ap.add_argument("--out",
                    default=os.path.join(REPO, "docs",
                                         "CLEAN_shared_sf1_r7.json"))
    args = ap.parse_args()

    from joern_spark.pipeline import dedup
    from joern_spark.pipeline.clean import corpus_clean
    from joern_spark.session import get_spark

    spark = get_spark(app_name="clean-shared-check")
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    n_docs = docs.count()  # warm the parquet path

    # warm the Arrow workers untimed (first mapInPandas pays Python
    # worker startup per core)
    dedup.minhash_signature(docs.limit(256)).count()

    t0 = time.perf_counter()
    base = corpus_clean(docs)
    n_base = base.count()
    recompute_wall = time.perf_counter() - t0

    # the shared path: chain computed once, caller-owned
    t0 = time.perf_counter()
    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signature(docs))
    cc = dedup.connected_dup_clusters(pairs)  # persisted, materialized
    pairs.unpersist(blocking=False)
    chain_wall = time.perf_counter() - t0

    t0 = time.perf_counter()
    shared = corpus_clean(docs, clusters=cc)
    n_shared = shared.count()
    shared_wall = time.perf_counter() - t0

    identical = (n_base == n_shared and
                 base.exceptAll(shared).isEmpty() and
                 shared.exceptAll(base).isEmpty())

    out = {
        "metric": "corpus_clean_shared_clusters",
        "sf_dir": args.sf_dir,
        "n_docs": n_docs,
        "n_survivors": n_base,
        "survivors_identical": identical,
        "recompute_wall_sec": round(recompute_wall, 2),
        "chain_once_wall_sec": round(chain_wall, 2),
        "shared_clean_wall_sec": round(shared_wall, 2),
    }
    line = json.dumps(out)
    with open(args.out, "w") as f:
        f.write(line + "\n")
    print(line)
    if not identical:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
