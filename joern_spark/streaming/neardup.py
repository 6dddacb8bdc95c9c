"""Streaming near-duplicate suppression — the streaming twin of the
batch minhash→LSH→CC chain (`pipeline/dedup.py`, `pipeline/clean.py`).

Semantics (the honest streaming contract, documented in COVERAGE.md):

- Each page hashes to `N_BANDS` LSH band buckets with the IDENTICAL
  minhash/banding math as the batch operators (`_py_shingles`,
  Kirsch-Mitzenmacher double hashing, md5 band hash) — a page pair that
  collides here is exactly a `lsh_candidate_pairs` pair.
- Every band bucket remembers its FIRST owner (a custom stateful
  operator: `applyInPandasWithState` keyed on (band_idx, band_hash),
  owner state in the RocksDB state store, aged out by an event-time
  timeout at the watermark horizon).
- A page SURVIVES iff none of its band buckets had an earlier owner;
  either way the page registers as owner of its previously-unowned
  buckets, so duplicate families collapse transitively onto early
  arrivals (A~B, B~C: once A and B have arrived, C is suppressed even
  though A and C never collide).
- "Earlier" = micro-batch arrival order, tie-broken INSIDE a batch by
  (warc_ts, url) — fully deterministic for a deterministic chunk feed,
  which makes an exact golden possible.

Divergence from batch `corpus_clean` (by construction, not by bug):
batch connected-components keeps the global min-doc_id of each
component; the stream keeps the arrival-prefix independent set — a
component whose edges arrive "out of order" can keep MORE than one
representative (A~B, B~C, arrival A,C,B keeps A and C; batch keeps only
min(A,B,C)).  This is the standard contract of streaming LSH dedup: no
prefix of the stream can know about edges that have not arrived.

Scale notes (10^12 docs):
- State is ONE row per distinct live band bucket (owner url + ts), not
  per page; the event-time timeout expires buckets `WATERMARK` past
  their last-touched event time, so state is bounded by the dedup
  horizon, same as `dropDuplicates` state.
- The shuffle to the stateful operator carries (url, ts, band_hash)
  rows only — never text or html; md5 band hashes are uniform, so the
  key space is skew-free by construction.
- The per-page verdict (all-bands-fresh) is assembled in the SINK's
  foreachBatch by a plain batch groupBy(url): all band rows of a page
  live in the same micro-batch, so no second stateful operator is
  needed (the epoch sink requires update/append with a single stateful
  op — see salted_domain_counts).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (
    BooleanType, IntegerType, LongType, StringType, StructField, StructType,
    TimestampType,
)

from joern_spark.pipeline.dedup import (
    MINHASH_PRIME, N_BANDS, N_HASHES, ROWS_PER_BAND, _py_shingles,
)
from joern_spark.streaming.job import (
    WATERMARK, exactly_once_batch_writer, latest_epoch, pages_stream,
    start_stream,
)

BAND_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("band_idx", IntegerType()),
    StructField("band_hash", StringType()),
])

VERDICT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("warc_ts", TimestampType()),
    StructField("band_idx", IntegerType()),
    StructField("band_hash", StringType()),
    StructField("collided", BooleanType()),
])

_STATE_SCHEMA = StructType([
    StructField("owner_url", StringType()),
    StructField("owner_ts", LongType()),  # epoch micros
])

# event-time horizon after which a bucket owner is forgotten (state aging);
# matches the stream's dedup/watermark contract
HORIZON = WATERMARK


def py_band_hashes(text: str) -> list[str]:
    """Band hashes for one document — the exact batch math: shingles →
    md5 double-hash minhash (minhash_signature) → md5 over the
    '|'-joined band slice (lsh_candidate_pairs)."""
    import hashlib

    import numpy as np

    p = MINHASH_PRIME
    hexes = [hashlib.md5(s.encode("utf-8")).hexdigest()
             for s in _py_shingles(text)]
    h1 = np.array([int(h[:15], 16) % p for h in hexes], dtype=np.int64)
    h2 = np.array([int(h[15:30], 16) % (p - 1) + 1 for h in hexes],
                  dtype=np.int64)
    seeds = np.arange(N_HASHES, dtype=np.int64)
    sig = ((h1[:, None] + seeds[None, :] * h2[:, None]) % p).min(axis=0)
    return [
        hashlib.md5("|".join(
            str(int(sig[b * ROWS_PER_BAND + r])) for r in range(ROWS_PER_BAND)
        ).encode("utf-8")).hexdigest()
        for b in range(N_BANDS)
    ]


def page_band_rows(pages: DataFrame, text_col: str = "text") -> DataFrame:
    """(url, warc_ts, band_idx, band_hash) — N_BANDS rows per page, one
    Arrow pass, no shuffle.  Works on batch and streaming frames."""

    def run(batches):
        for pdf in batches:
            urls, tss, idxs, hashes = [], [], [], []
            for url, ts, text in zip(pdf["url"], pdf["warc_ts"],
                                     pdf[text_col]):
                for b, bh in enumerate(py_band_hashes(text)):
                    urls.append(url)
                    tss.append(ts)
                    idxs.append(b)
                    hashes.append(bh)
            yield pd.DataFrame({
                "url": urls,
                "warc_ts": pd.Series(tss, dtype="datetime64[us]"),
                "band_idx": pd.Series(idxs, dtype="int32"),
                "band_hash": hashes,
            })

    return (pages.select("url", "warc_ts", text_col)
            .mapInPandas(run, BAND_SCHEMA))


def _horizon_micros() -> int:
    n, unit = HORIZON.split()
    scale = {"days": 86400, "day": 86400,
             "hours": 3600, "hour": 3600,
             "minutes": 60, "minute": 60,
             "seconds": 1, "second": 1}.get(unit)
    if scale is None:
        raise ValueError(
            f"unsupported HORIZON unit {unit!r} (use seconds/minutes/"
            f"hours/days)")
    return int(n) * scale * 1_000_000


def band_owner_verdicts(band_rows: DataFrame) -> DataFrame:
    """The custom stateful operator: first-owner-wins per band bucket.

    For every input band row, emits `collided` = whether the bucket
    already had a DIFFERENT earlier owner (state from a previous batch,
    or a (warc_ts, url)-smaller row of this batch).  The bucket's owner
    is registered on first touch and expires `HORIZON` past the
    last-touched event time via an event-time timeout (requires the
    caller to have set a watermark on `warc_ts`)."""
    horizon_us = _horizon_micros()

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            state.remove()
            return
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["warc_ts", "url"]).reset_index(drop=True)
        if state.exists:
            owner_url, owner_ts = state.get
        else:
            owner_url = str(rows["url"].iloc[0])
            owner_ts = int(rows["warc_ts"].iloc[0].value // 1000)
            state.update((owner_url, owner_ts))
        last_us = int(rows["warc_ts"].iloc[-1].value // 1000)
        # timeout timestamps are in epoch MILLIS and must sit beyond the
        # current watermark (Spark rejects earlier ones): re-arm on every
        # touch so a live bucket ages out HORIZON after its last event,
        # clamped to HORIZON past the watermark for late-touched buckets
        wm_ms = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max(max(owner_ts, last_us) // 1000, wm_ms)
            + horizon_us // 1000)
        out = rows.copy()
        out["collided"] = out["url"] != owner_url
        # the owner row itself never collides; every other row does —
        # including same-batch rows of other urls (owner won the
        # deterministic (warc_ts, url) sort)
        yield out[["url", "warc_ts", "band_idx", "band_hash", "collided"]]

    return (band_rows
            .groupBy("band_idx", "band_hash")
            .applyInPandasWithState(
                fn, VERDICT_SCHEMA, _STATE_SCHEMA, "append",
                GroupStateTimeout.EventTimeTimeout))


def near_dup_verdict_stream(pages: DataFrame,
                            text_col: str = "text") -> DataFrame:
    """pages stream → band rows → stateful owner verdicts.  The
    watermark is set on the UDF OUTPUT (the EventTimeWatermark tag does
    not survive mapInPandas — same trap as windowed_findings)."""
    rows = page_band_rows(pages, text_col).withWatermark(
        "warc_ts", WATERMARK)
    return band_owner_verdicts(rows)


def survivors_from_verdicts(verdicts: DataFrame) -> DataFrame:
    """Per-page verdict from per-band verdicts: a page survives iff NO
    band collided.  Plain batch aggregation — run inside foreachBatch
    (all of a page's band rows are emitted in its own micro-batch)."""
    return (verdicts.groupBy("url", "warc_ts")
            .agg(F.max(F.col("collided").cast("int")).alias("any_coll"),
                 F.count(F.lit(1)).alias("n_bands"))
            .select("url", "warc_ts",
                    (F.col("any_coll") == 0).alias("survivor")))


def run_near_dup_stream(spark: SparkSession, pages_dir: str, out_dir: str,
                        checkpoint_dir: str, available_now: bool = False,
                        files_per_trigger: int = 1):
    """Start the streaming near-dup job: per-page survivor rows land in
    the same idempotent exactly-once epoch sink as the other streams,
    keyed on url (replays rewrite identical epochs — verdicts are pure
    functions of the replayed batch + the state the checkpoint
    restores)."""
    sink = exactly_once_batch_writer(out_dir)

    def write(batch_df: DataFrame, batch_id: int):
        sink(survivors_from_verdicts(batch_df), batch_id)

    return start_stream(
        spark, lambda s: near_dup_verdict_stream(
            pages_stream(s, pages_dir, files_per_trigger)),
        checkpoint_dir, write, mode="append", available_now=available_now)


def read_survivors(spark: SparkSession, out_dir: str) -> DataFrame:
    """Latest-epoch-wins per url — the read side of the near-dup sink."""
    return latest_epoch(spark, out_dir, ["url"]).select(
        "url", "warc_ts", "survivor")
