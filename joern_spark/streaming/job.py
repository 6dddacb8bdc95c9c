"""Structured-streaming CPG scan job (graft axis B — the north_rule core).

pages stream → watermark(warc_ts) → per-document CPG scan (Arrow UDF) →
tumbling-window per-query match counts → exactly-once sink, resumable from
checkpoint.

Design (per BASELINE.json north_star):
- **Source**: a parquet file stream (`maxFilesPerTrigger`) — deterministic
  micro-batches, replayable across restarts.  (On a real deployment this is
  the Iceberg table scanned incrementally; the source abstraction is the
  only thing that changes.)
- **Watermark**: `withWatermark(warc_ts, ...)` governs late WARC records;
  the corpus generator emits a deterministic late fraction to exercise it.
- **State**: windows + stream dedup keys live in the RocksDB state store
  (configured in session.py); heavy CPG construction runs stateless inside
  the batch (mapInArrow), exactly as the north_star prescribes ("state:
  open windows, partial CPG fragments, dedup keys").  Every stream starts
  through `start_stream`, one state store per core, not one per batch
  shuffle partition.
- **Exactly-once**: the foreachBatch sink writes each epoch to a
  deterministic `epoch=<id>` path with overwrite — replays after a crash
  rewrite byte-identical content at the same path (idempotent), because
  node ids and finding rows are pure functions of the input rows.
- **Lineage + metrics**: every sink row carries (batch_id, src_partition),
  so per-partition metrics are a groupBy over the sink, not a second
  write; the sink is one Spark job per micro-batch.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from joern_spark.query.scan import scan_findings
from joern_spark.sources.corpus import PAGE_SCHEMA, make_pages

WINDOW = "1 hour"
WATERMARK = "2 hours"


def write_corpus_chunks(spark: SparkSession, pages_dir: str, n_docs: int = 96,
                        n_chunks: int = 6, seed: int = 42):
    """Materialize the deterministic corpus as N parquet files (one per
    micro-batch when maxFilesPerTrigger=1)."""
    per = n_docs // n_chunks
    for c in range(n_chunks):
        df = make_pages(spark, n_docs=per * (c + 1), seed=seed, n_partitions=1) \
            .where(F.col("doc_seq") >= per * c)
        df.coalesce(1).write.mode("append").parquet(pages_dir)


def pages_stream(spark: SparkSession, pages_dir: str, files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(PAGE_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(pages_dir)
    )


def start_stream(spark: SparkSession, build, checkpoint_dir: str, sink,
                 mode: str = "update", available_now: bool = False):
    """The one start path of every stream: `build(session)` returns the
    streaming frame, `sink` is its foreachBatch function.

    The stream runs on a clone of the caller's session (same context,
    every conf the caller set) that is `defaultParallelism` shuffle
    partitions wide: one state store per core.  A stateful operator
    loads, changelogs and commits one RocksDB store per shuffle partition
    every micro-batch, and with AQE off inside micro-batches nothing
    coalesces them; the caller's width (32 by default, 8192 on a
    cluster) is sized for batch joins and stays as it is.  A checkpoint
    keeps the width it was written with (restored from the offset log).
    `perfbench/run.py --workload stream`, 4-core host, ten alternating
    pairs (seeds 71-80), 32 stores per operator -> 4: `wall_s` median
    15.7 -> 6.7 s, `batch_p50_ms` 3858 -> 1725; traced seed 1:
    `state.commit_ms_p50` 1838 -> 345 ms, `spark.tasks` 528 -> 80."""
    session = SparkSession(spark.sparkContext,
                           spark._jsparkSession.cloneSession())
    session.conf.set("spark.sql.shuffle.partitions",
                     str(spark.sparkContext.defaultParallelism))
    writer = (build(session).writeStream.outputMode(mode)
              .option("checkpointLocation", checkpoint_dir)
              .foreachBatch(sink))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def latest_epoch(spark: SparkSession, out_dir: str, keys) -> DataFrame:
    """The read side of the idempotent upsert sink: per key, the row of
    the latest epoch (an Iceberg MERGE in a real deployment)."""
    from pyspark.sql import Window as W

    df = spark.read.parquet(os.path.join(out_dir, "findings"))
    w = W.partitionBy(*keys).orderBy(F.desc("batch_id"))
    return (df.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1).drop("rn"))


def windowed_findings(pages: DataFrame, set_watermark: bool = True,
                      dedup: bool = False) -> DataFrame:
    """stream pages → findings → tumbling-window per-query counts.
    Works identically on batch and streaming DataFrames (Structured
    Streaming's unified semantics).

    IMPORTANT: the watermark must be defined on the scan OUTPUT — an
    `EventTimeWatermark` tag does not propagate through `mapInArrow`
    (the UDF emits fresh attributes), so a pages-side watermark would let
    arbitrarily late rows into the aggregation (verified via the analyzed
    plan: the tag sat on warc_ts#in while the agg grouped warc_ts#out)."""
    findings = scan_findings(pages)
    if set_watermark:
        findings = findings.withWatermark("warc_ts", WATERMARK)
    if dedup:
        # streaming dedup keys (url, warc_ts, query) age out past the
        # watermark — the "dedup keys in the state store" of the north_star
        findings = findings.dropDuplicates(["url", "warc_ts", "query_name"])
    return (
        findings
        .groupBy(F.window("warc_ts", WINDOW).alias("win"), "query_name")
        .agg(
            F.sum("n_matches").alias("n_matches"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "query_name", "n_matches", "n_docs",
        )
    )


def salted_domain_counts(pages: DataFrame, n_salt: int = 8,
                         set_watermark: bool = True) -> DataFrame:
    """Per-domain windowed page counts with EXPLICIT salting — the hot-
    domain skew path (north_rule: "explicit salting ... handles skew from
    hot domains").  A Common-Crawl-shaped corpus concentrates 25-30%+ of
    pages on a handful of domains; a plain groupBy(window, domain) pins
    every hot-domain row (and its state) to one shuffle partition.

    Stage 1 (THIS query, the stream's single stateful operator — Spark
    requires append mode for chained stateful aggs, and the exactly-once
    sink needs update mode): group by (window, domain, salt) where salt =
    pmod(xxhash64(url), n_salt), so the hot domain's rows and state rows
    split across n_salt reducers.  Stage 2 (the read side,
    `read_salted_domain_counts`) merges the n_salt partials per (window,
    domain) after the latest-epoch-wins resolve — the same place the
    MERGE/compaction already runs."""
    domain = F.regexp_extract("url", r"https://([^/]+)/", 1).alias("domain")
    salt = F.pmod(F.xxhash64("url"), F.lit(n_salt)).alias("salt")
    p = pages.withWatermark("warc_ts", WATERMARK) if set_watermark else pages
    return (
        p.select("warc_ts", domain, salt)
        .groupBy(F.window("warc_ts", WINDOW).alias("win"), "domain", "salt")
        .agg(F.count(F.lit(1)).alias("partial_docs"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "domain", "salt", "partial_docs")
    )


def run_salted_domain_stream(spark: SparkSession, pages_dir: str,
                             out_dir: str, checkpoint_dir: str,
                             n_salt: int = 8, available_now: bool = False,
                             files_per_trigger: int = 1):
    """Start the salted per-domain rollup stream (update mode + the same
    idempotent epoch sink as the findings job; its writer buckets are the
    partitions of the aggregation on the SALTED key, so hot domains never
    concentrate in one writer bucket either)."""
    return start_stream(
        spark, lambda s: salted_domain_counts(
            pages_stream(s, pages_dir, files_per_trigger), n_salt=n_salt),
        checkpoint_dir, exactly_once_batch_writer(out_dir),
        available_now=available_now)


def read_salted_domain_counts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Stage 2 of the salted rollup: latest-epoch-wins per (window,
    domain, salt), then merge the salt partials.  n_salt rows per hot
    (window, domain) — merge cost is O(n_salt), independent of the hot
    domain's page count."""
    return (latest_epoch(spark, out_dir, ["window_start", "domain", "salt"])
            .groupBy("window_start", "domain")
            .agg(F.sum("partial_docs").alias("n_docs")))


def exactly_once_batch_writer(out_dir: str):
    """foreachBatch sink: deterministic epoch path + overwrite = idempotent
    under replay.  One action per micro-batch: `batch_df` is written as
    it comes, `epoch=<id>/key_bucket=<b>/` with `b` the id of the
    partition that produced the row, so each writer task writes one file
    and nothing is pinned or shuffled.

    The partition id is a key bucket because, in the update-mode
    streams, `batch_df` is the output of the stateful aggregation: its
    partitions are hash partitions of the grouping (= upsert) key at the
    stream's shuffle width, which the checkpoint fixes for its life.  A
    key therefore lands in the same bucket in every epoch.  (The
    append-mode near-dup sink buckets by the partition of its own
    aggregation; its readers never rely on which bucket a key is in.)

    Every row carries its lineage (`batch_id` and `src_partition`, equal
    to `key_bucket`, in the file), so the per-partition metrics
    (north_rule: "per-partition lineage + metrics") are one
    `groupBy(batch_id, src_partition)` over `findings/`, a view rather
    than a second write.  Replays overwrite the same epoch directory with
    identical content (counts are pure functions of the replayed input),
    which is the idempotency an Iceberg `MERGE INTO ... ON key` gives; the
    read side (`read_results`) and the compaction (`streaming.merge`)
    resolve latest-epoch-wins per key."""

    def write(batch_df: DataFrame, batch_id: int):
        (batch_df
         .withColumn("batch_id", F.lit(batch_id))
         .withColumn("src_partition", F.spark_partition_id())
         .withColumn("key_bucket", F.col("src_partition"))
         .write.mode("overwrite").partitionBy("key_bucket")
         .parquet(os.path.join(out_dir, "findings", f"epoch={batch_id}")))

    return write


# pages may carry an attachment blob (crawl corpora embed images/audio/
# video alongside the html) — the findings stream reads PAGE_SCHEMA and
# simply prunes the extra column at the scan
MEDIA_PAGE_SCHEMA = StructType(
    list(PAGE_SCHEMA.fields) + [StructField("media", BinaryType())])


def media_pages_stream(spark: SparkSession, pages_dir: str,
                       files_per_trigger: int = 1) -> DataFrame:
    return (
        spark.readStream.schema(MEDIA_PAGE_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(pages_dir)
    )


def media_status_rows(pages: DataFrame) -> DataFrame:
    """(url, warc_ts, decode_status, media_bytes) for every page CARRYING
    a media blob — the REAL byte-level decoders (PNG inflate+unfilter /
    WAV PCM / MP4 box walk, pipeline/multimodal.py) run inside one
    narrow mapInPandas; the `media IS NOT NULL` filter reaches the scan,
    and blobs never pass a shuffle (only the status rows do)."""
    out_schema = ("url string, warc_ts timestamp, decode_status string, "
                  "media_bytes bigint")

    def run(batches):
        import pandas as pd
        from joern_spark.pipeline.multimodal import decode_payload_ex
        for pdf in batches:
            statuses = []
            sizes = []
            for blob in pdf["media"]:
                payload = bytes(blob)
                statuses.append(decode_payload_ex(payload)[3])
                sizes.append(len(payload))
            yield pd.DataFrame({
                "url": pdf["url"], "warc_ts": pdf["warc_ts"],
                "decode_status": statuses, "media_bytes": sizes,
            })

    return (pages.where(F.col("media").isNotNull())
            .select("url", "warc_ts", "media")
            .mapInPandas(run, out_schema))


def windowed_media_features(pages: DataFrame,
                            set_watermark: bool = True) -> DataFrame:
    """Streaming media pipeline: decode blobs (media_status_rows) →
    tumbling-window counts per decode_status.  Identical on batch and
    streaming frames (unified semantics — the soak golden IS the batch
    run of this function).  The watermark is set on the DECODE OUTPUT —
    the EventTimeWatermark tag does not survive mapInPandas (fresh
    output attributes), the same trap windowed_findings documents."""
    rows = media_status_rows(pages)
    if set_watermark:
        rows = rows.withWatermark("warc_ts", WATERMARK)
    return (
        rows.groupBy(F.window("warc_ts", WINDOW).alias("win"),
                     "decode_status")
        .agg(F.count(F.lit(1)).alias("n_media"),
             F.sum("media_bytes").alias("media_bytes"))
        .select(F.col("win.start").alias("window_start"),
                F.col("win.end").alias("window_end"),
                "decode_status", "n_media", "media_bytes")
    )


def run_media_stream(spark: SparkSession, pages_dir: str, out_dir: str,
                     checkpoint_dir: str, available_now: bool = False,
                     files_per_trigger: int = 1):
    """Start the media-decode stream: binary blobs through the file
    source, Arrow decode UDF, RocksDB-backed windowed state, and the
    same idempotent exactly-once epoch sink keyed on
    (window_start, decode_status)."""
    return start_stream(
        spark, lambda s: windowed_media_features(
            media_pages_stream(s, pages_dir, files_per_trigger)),
        checkpoint_dir, exactly_once_batch_writer(out_dir),
        available_now=available_now)


def read_media_counts(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest-epoch-wins per (window, decode_status) — the media stream's
    read side."""
    return (latest_epoch(spark, out_dir, ["window_start", "decode_status"])
            .select("window_start", "decode_status", "n_media",
                    "media_bytes"))


def run_stream(spark: SparkSession, pages_dir: str, out_dir: str,
               checkpoint_dir: str, max_batches: int | None = None,
               available_now: bool = False, files_per_trigger: int = 1):
    """Start the findings stream (dedup + windowed counts, one state
    store per core: `start_stream`); returns the StreamingQuery.

    `files_per_trigger` is the batch width AND the scan parallelism: the
    file source gives one task per file, so a single-file micro-batch
    runs the CPG scan on ONE core (measured: 32k docs ≈ 100s addBatch
    single-file vs ~3s across 32 files).  Production ingest delivers
    many WARC-segment files per trigger; size this to cores × a small
    factor.  Watermark correctness: the watermark advances BETWEEN
    batches, so intra-batch file disorder is safe — only ACROSS batches
    must arrival roughly follow event time."""
    # update mode: every batch emits the refreshed counts of touched windows;
    # the sink upserts by (window, query) keeping the latest epoch — replays
    # rewrite identical epochs, so the upsert is idempotent (exactly-once).
    return start_stream(
        spark, lambda s: windowed_findings(
            pages_stream(s, pages_dir, files_per_trigger), dedup=True),
        checkpoint_dir, exactly_once_batch_writer(out_dir),
        available_now=available_now)


def read_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """Final per-window counts: last-epoch value per (window, query)."""
    return (latest_epoch(spark, out_dir, ["window_start", "query_name"])
            .select("window_start", "query_name", "n_matches", "n_docs"))
