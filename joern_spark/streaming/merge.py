"""MERGE-shaped upsert over parquet — the Iceberg `MERGE INTO` stand-in
named by the north_rule (this sandbox has no Iceberg jars; on a real
deployment `merge_upsert` is one `MERGE INTO target USING updates ON keys`
statement and `compact_findings` is unnecessary because the streaming sink
merges directly).

Semantics: rows in `updates` replace target rows sharing the same key
tuple; all other target rows survive.  The target is rewritten atomically
from a materialized plan (`persist_result` before the overwrite, released
after it — Spark cannot stream-overwrite a path it is still reading).

Scale notes: the anti-join shuffles on the upsert key (uniform:
window × query buckets); at Iceberg scale the same operation is a
merge-on-read delete-file commit, so no full rewrite happens — the parquet
rewrite here is the local stand-in, bounded by the compacted table size,
NOT the epoch history.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from joern_spark.sparkutil import cached, persist_result
from joern_spark.streaming.job import latest_epoch


def merge_upsert(spark: SparkSession, target_dir: str, updates: DataFrame,
                 keys: list[str], n_buckets: int = 64) -> DataFrame:
    """MERGE INTO target USING updates ON keys (matched → replace,
    unmatched → insert).  Returns a lazy read of the touched buckets of
    the rewritten target; the merge pins nothing past its return.

    Partition-pruned: the target is laid out partitioned by
    ``key_bucket = pmod(hash(keys), n_buckets)``; a merge reads and
    rewrites ONLY the buckets present in `updates` (dynamic partition
    overwrite), so merge cost scales with the update size, not the table
    size — untouched bucket directories are left byte-identical.  This is
    the local stand-in for Iceberg's merge-on-read commit.
    """
    bucket = F.pmod(F.hash(*keys), F.lit(n_buckets))
    with cached(updates.withColumn("key_bucket", bucket)) as updates:
        touched = [r.key_bucket for r in
                   updates.select("key_bucket").distinct().collect()]
        merged = updates
        if os.path.exists(target_dir):
            target = (spark.read.parquet(target_dir)
                      .where(F.col("key_bucket").isin(touched)))
            kept = target.join(updates.select(*keys).distinct(), keys, "left_anti")
            merged = kept.unionByName(updates)
        merged = persist_result(merged)
    try:
        (merged.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("key_bucket")
         .parquet(target_dir))
    finally:
        merged.unpersist()
    return (spark.read.parquet(target_dir)
            .where(F.col("key_bucket").isin(touched)))


def latest_findings(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest-epoch value per (window_start, query_name) across all epoch
    directories written by the exactly-once sink."""
    return latest_epoch(spark, out_dir, ["window_start", "query_name"])


def compact_findings(spark: SparkSession, out_dir: str,
                     target_dir: str) -> DataFrame:
    """Fold the epoch history into the current-state table via MERGE:
    the maintenance job a deployment runs to bound epoch-dir growth
    (Iceberg does this natively with snapshot expiry)."""
    current = latest_findings(spark, out_dir).select(
        "window_start", "window_end", "query_name", "n_matches", "n_docs",
        "batch_id")
    return merge_upsert(spark, target_dir, current,
                        ["window_start", "query_name"])
