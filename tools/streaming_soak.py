#!/usr/bin/env python
"""Streaming soak harness: sustained docs/sec under kills, late data and
compaction (round-4 evidence for the north_rule streaming criteria).

Drives the production streaming job (streaming/job.py: pages stream →
watermark → streaming dedup → CPG scan → windowed counts → exactly-once
epoch sink, RocksDB state store) against a corpus that GROWS while the
query runs:

- a producer appends parquet chunks of deterministic pages (page_for —
  10% arrive out-of-order/late, exercising the watermark) while the
  stream is live;
- the query is killed and resumed from checkpoint once per phase
  (`--kills` phases), so every restart resumes from a different epoch;
- the epoch-compaction maintenance job (streaming/merge.compact_findings)
  runs between phases, concurrently with the stream being down — the
  read path must agree before and after;
- at the end an availableNow drain consumes the remainder, and the final
  per-window counts are compared EXACTLY against a batch computation
  over the full corpus (unified semantics + exactly-once under kills).

Prints one JSON line: docs/sec sustained while streaming, per-phase
checkpoint/state sizes (flat-growth evidence), per stream run its Spark
job count and per micro-batch trigger time and state-operator
width/commit/rows/memory (`runs`), and the golden verdict.

Usage: python tools/streaming_soak.py [--docs 262144] [--chunks 16]
       [--kills 4] [--out /tmp/soak]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from joern_spark.session import get_spark  # noqa: E402
from joern_spark.pipeline.multimodal import media_blob_for  # noqa: E402
from joern_spark.sources.corpus import PAGE_SCHEMA, page_for
from joern_spark.streaming import job
from joern_spark.streaming.merge import compact_findings  # noqa: E402


def write_chunk(spark, pages_dir: str, lo: int, hi: int, files: int = 1,
                hot_frac: float = 0.0, media_frac: float = 0.0,
                neardup_frac: float = 0.0):
    """Append pages [lo, hi) as `files` parquet files (micro-batch units).

    One file per chunk by default: the file stream source orders files by
    modification time, and several files written concurrently by one
    chunk can land in ANY time order — a later-time file processed first
    advances the watermark past its siblings and (correctly) drops their
    oldest rows.  The watermark's 2h disorder bound is a contract on the
    ARRIVAL order; the harness must deliver chunks time-ordered, the way
    a WARC ingest feed does.

    `media_frac` > 0 attaches a binary media blob (_media_blob_for) to
    that fraction of pages; the findings stream prunes the extra column
    at the scan, the media stream decodes it."""

    hot_mod = int(hot_frac * 100)
    media_mod = int(media_frac * 100)
    neardup_mod = int(neardup_frac * 100)
    if media_frac > 0 and media_mod == 0:
        # the whole-percent quantization would silently write ZERO blobs
        # while the harness still runs the media stream and reports a
        # vacuously matching empty golden
        raise ValueError(
            f"media_frac={media_frac} quantizes to 0% — use >= 0.01")
    if neardup_frac > 0 and neardup_mod == 0:
        raise ValueError(
            f"neardup_frac={neardup_frac} quantizes to 0% — use >= 0.01")
    schema = job.MEDIA_PAGE_SCHEMA if media_mod else PAGE_SCHEMA

    def gen(batches):
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                # near-dup injection: a unique extra statement makes the
                # page a NEAR (not exact) duplicate of its base-snippet
                # family — html and extracted text stay byte-consistent
                extra = (f"var uniq_{i} = {i};"
                         if neardup_mod and i % 100 < neardup_mod else None)
                url, ts, html, text = page_for(i, extra_js=extra)
                if hot_mod and i % 100 < hot_mod:
                    # hot-domain injection: deterministic reassignment of a
                    # fraction of pages to ONE netloc (urls stay unique)
                    url = f"https://hot-skew.example.com/page-{i}"
                row = (i, url, pd.Timestamp(ts, unit="s"), html, text, "en")
                if media_mod:
                    blob = (media_blob_for(i)
                            if i % 100 < media_mod else None)
                    row = row + (blob,)
                rows.append(row)
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    (spark.range(lo, hi, numPartitions=files).mapInPandas(gen, schema)
     .write.mode("append").parquet(pages_dir))


STATE_KEYS = ("operatorName", "numShufflePartitions", "numStateStoreInstances",
              "commitTimeMs", "numRowsTotal", "memoryUsedBytes")


def batch_state(spark, query, phase: int) -> dict:
    """One stream run: its Spark job count (the jobs of its `runId` job
    group; over `len(batches)` it is the jobs per micro-batch) and, per
    micro-batch, trigger time and state-operator width and cost from the
    query's progress reports."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {"phase": phase,
            "spark_jobs": len(sc.statusTracker().getJobIdsForGroup(
                str(query.runId))),
            "batches": [
                {"batch_id": p["batchId"],
                 "trigger_ms": p["durationMs"].get("triggerExecution", 0),
                 "state": [{k: op.get(k) for k in STATE_KEYS}
                           for op in p.get("stateOperators") or []]}
                for p in query.recentProgress]}


def dir_size(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            try:
                total += os.path.getsize(os.path.join(root, n))
            except OSError:
                pass
    return total


def task_time_ratios(spark, min_tasks: int = 16, min_median_ms: float = 50.0):
    """Per-stage p99/median executor-run-time ratios via the UI REST API —
    the straggler-tail metric for the skew soak.  Stages with few tasks or
    sub-50ms medians are scheduling noise, not skew, and are skipped."""
    import json as _json
    import urllib.request

    ui = spark.sparkContext.uiWebUrl
    if not ui:
        return None
    app = spark.sparkContext.applicationId
    url = (f"{ui}/api/v1/applications/{app}/stages"
           f"?status=COMPLETE&withSummaries=true&quantiles=0.5,0.99")
    stages = _json.load(urllib.request.urlopen(url))
    ratios = []
    for st in stages:
        d = st.get("taskMetricsDistributions")
        if not d or st.get("numCompleteTasks", 0) < min_tasks:
            continue
        med, p99 = d["executorRunTime"]
        if med < min_median_ms:
            continue
        ratios.append(round(p99 / med, 2))
    if not ratios:
        return None
    ratios.sort()
    return {
        "n_stages": len(ratios),
        "p99_over_median_median": ratios[len(ratios) // 2],
        "p99_over_median_worst": ratios[-1],
    }


def neardup_prefix_sim(batches, horizon_ms: int, delay_ms: int):
    """Pure-Python prefix simulation of streaming/neardup.py over the
    OBSERVED batch partition — the exact golden for the near-dup stream.

    `batches`: [(batch_id, [(ts_ms, url, [(band_idx, band_hash), ...])])]
    sorted by batch_id.  Semantics mirrored from the stateful operator +
    Spark's event-time-timeout contract:

    - `batches` must include EMPTY batches (no data rows): Spark runs
      them at restarts / availableNow termination precisely to fire
      event-time timeouts, and they are observable as `epoch=<id>`
      directories in the sink — the calibration run's single survivor
      mismatch was an owner evicted by the empty batch between two kill
      phases;
    - watermark for eviction at batch k = max event time through batch
      k-1 minus the watermark delay (monotone, 0 before any data);
    - a bucket WITH data in a batch keeps its stored owner (expired or
      not — Spark only invokes hasTimedOut for groups WITHOUT data in
      the trigger);
    - after the data groups, every stateful bucket with NO data in this
      batch and timeout < wm(k) is evicted;
    - on touch the timeout re-arms to
      max(max(owner_ts, last_event), wm) + horizon  (operator line
      `state.setTimeoutTimestamp`), all in ms;
    - inside a batch the owner of a fresh bucket is the (ts, url)-min
      row; every row of a different url than the owner collides;
    - a page survives iff NO band bucket collided.

    Returns (survivors: {url: bool}, live_buckets_at_end: int).
    """
    owners = {}  # bucket -> [owner_url, owner_ts_ms, timeout_ms]
    survivors = {}
    max_ev = None
    wm = 0
    for _bid, rows in batches:
        new_wm = 0 if max_ev is None else max(0, max_ev - delay_ms)
        wm = max(wm, new_wm)
        buckets = {}
        for ts, url, bands in rows:
            for bkey in bands:
                buckets.setdefault(bkey, []).append((ts, url))
        collided = {url: False for _ts, url, _b in rows}
        for bkey, items in buckets.items():
            items.sort()
            st = owners.get(bkey)
            if st is None:
                st = [items[0][1], items[0][0], 0]
            owner_url, owner_ts = st[0], st[1]
            last_ev = items[-1][0]
            st[2] = max(max(owner_ts, last_ev), wm) + horizon_ms
            owners[bkey] = st
            for _ts, url in items:
                if url != owner_url:
                    collided[url] = True
        # timed-out no-data groups are processed after the data groups
        for bkey in [b for b, st in owners.items()
                     if b not in buckets and st[2] < wm]:
            del owners[bkey]
        for _ts, url, _b in rows:
            survivors[url] = not collided[url]
        batch_max = max((ts for ts, _u, _b in rows), default=None)
        if batch_max is not None:
            max_ev = batch_max if max_ev is None else max(max_ev, batch_max)
    final_wm = 0 if max_ev is None else max(0, max_ev - delay_ms)
    live = sum(1 for st in owners.values() if st[2] >= final_wm)
    return survivors, live


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=262144)
    ap.add_argument("--chunks", type=int, default=16)
    ap.add_argument("--kills", type=int, default=4)
    ap.add_argument("--hot-frac", type=float, default=0.0,
                    help="fraction of pages reassigned to one hot domain; "
                         ">0 also runs the SALTED per-domain rollup stream "
                         "and reports straggler-tail task metrics")
    ap.add_argument("--media-frac", type=float, default=0.0,
                    help="fraction of pages carrying a binary media blob "
                         "(PNG/WAV/MP4 + unsupported edge classes); >0 "
                         "also runs the media-decode stream and adds its "
                         "per-window per-status golden")
    ap.add_argument("--neardup-frac", type=float, default=0.0,
                    help="fraction of pages carrying a unique extra JS "
                         "statement (NEAR duplicates of their snippet "
                         "family); >0 also runs the streaming near-dup "
                         "suppression stream and verifies its survivor "
                         "set EXACTLY against a pure-Python prefix "
                         "simulation over the observed batch partition")
    ap.add_argument("--out", default="/tmp/soak")
    args = ap.parse_args()

    base = args.out
    shutil.rmtree(base, ignore_errors=True)
    pages_dir, out_dir, cp_dir = (f"{base}/pages", f"{base}/out", f"{base}/cp")
    os.makedirs(pages_dir, exist_ok=True)

    # the UI (off by default) feeds the REST task-metric distributions
    spark = get_spark(app_name="joern-spark-soak",
                      extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    par = spark.sparkContext.defaultParallelism
    # warm python workers untimed (sustained metric)
    from joern_spark.query.scan import scan_findings
    from joern_spark.sources.corpus import make_pages
    scan_findings(make_pages(spark, n_docs=8 * par, n_partitions=par)) \
        .write.format("noop").mode("overwrite").save()

    per_chunk = args.docs // args.chunks
    files_per = par  # chunk width == batch width == scan parallelism
    chunks_per_phase = max(1, args.chunks // args.kills)
    written = 0
    stream_seconds = 0.0
    docs_streamed = 0
    phases = []
    runs = {}  # stream name -> per-run job counts and batch records

    def drain(name, query):
        query.awaitTermination(1800)
        runs.setdefault(name, []).append(batch_state(spark, query, phase))

    for phase in range(args.kills):
        # producer: append this phase's chunks
        n_chunks = (args.chunks - phase * chunks_per_phase
                    if phase == args.kills - 1 else chunks_per_phase)
        for _ in range(n_chunks):
            write_chunk(spark, pages_dir, written, written + per_chunk,
                        files=files_per, hot_frac=args.hot_frac,
                        media_frac=args.media_frac,
                        neardup_frac=args.neardup_frac)
            written += per_chunk

        q = job.run_stream(spark, pages_dir, out_dir, cp_dir,
                           available_now=True, files_per_trigger=files_per)
        t0 = time.perf_counter()
        drain("findings", q)
        dt = time.perf_counter() - t0
        stream_seconds += dt
        docs_streamed = written
        if args.hot_frac > 0:
            # the skew-SENSITIVE surface: domain-keyed rollup, salted —
            # same phase/kill cadence, own checkpoint+sink
            qs = job.run_salted_domain_stream(
                spark, pages_dir, f"{base}/salted_out", f"{base}/salted_cp",
                available_now=True, files_per_trigger=files_per)
            drain("salted", qs)
        if args.media_frac > 0:
            # the binary-column surface: blob decode + windowed state +
            # exactly-once sink under the same phase/kill cadence
            qm = job.run_media_stream(
                spark, pages_dir, f"{base}/media_out", f"{base}/media_cp",
                available_now=True, files_per_trigger=files_per)
            drain("media", qm)
        if args.neardup_frac > 0:
            # the custom stateful operator surface: first-owner-wins LSH
            # band buckets (RocksDB state, event-time age-out) under the
            # same phase/kill cadence
            from joern_spark.streaming import neardup as _nd
            qn = _nd.run_near_dup_stream(
                spark, pages_dir, f"{base}/neardup_out",
                f"{base}/neardup_cp", available_now=True,
                files_per_trigger=files_per)
            drain("neardup", qn)
        phases.append({
            "phase": phase,
            "docs_total": written,
            "phase_wall_sec": round(dt, 1),
            "checkpoint_bytes": dir_size(cp_dir),
            "sink_bytes": dir_size(out_dir),
        })
        # kill happened implicitly (availableNow drain + stop); run the
        # compaction maintenance job between phases — the MERGE'd
        # current-state table must equal the latest-wins read path every
        # cycle (partition-pruned upsert under a live epoch history)
        before = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
                  for r in job.read_results(spark, out_dir).collect()}
        compact_findings(spark, out_dir, f"{base}/current")
        after = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
                 for r in spark.read.parquet(f"{base}/current").collect()}
        assert after == before, f"compaction diverged in phase {phase}"

    # golden: batch computation over the identical full corpus
    batch = job.windowed_findings(spark.read.parquet(pages_dir),
                                  dedup=True).collect()
    expected = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
                for r in batch}
    got = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
           for r in job.read_results(spark, out_dir).collect()}
    golden_ok = got == expected

    # cross-page summary observability: the counted page-drop / wrap-cap
    # rows over a deterministic ~4096-page sample (the full corpus would
    # re-run per-page dataflow for minutes; the counters are per-page, so
    # a sample measures the RATE)
    from pyspark.sql import functions as F
    from joern_spark.query.crosspage import (
        page_flow_summaries_ext, summary_error_counts,
    )
    stride = max(1, written // 4096)
    sample = spark.read.parquet(pages_dir) \
        .where(F.col("doc_seq") % stride == 0)
    errs = {r.error_class: r.n_pages
            for r in summary_error_counts(
                page_flow_summaries_ext(sample)).collect()}
    crosspage_errors = {
        "pages_sampled": sample.count(),
        "pages_failed": sum(v for k, v in errs.items()
                            if k.startswith("summarize_failed")),
        "pages_wrap_capped": errs.get("wrap_capped", 0),
    }

    media = {}
    if args.media_frac > 0:
        # golden: the SAME windowed_media_features function over the full
        # batch corpus (unified semantics) — per-window per-status exact
        exp_media = {(str(r.window_start), r.decode_status):
                     (r.n_media, r.media_bytes)
                     for r in job.windowed_media_features(
                         spark.read.parquet(pages_dir)).collect()}
        got_media = {(str(r.window_start), r.decode_status):
                     (r.n_media, r.media_bytes)
                     for r in job.read_media_counts(
                         spark, f"{base}/media_out").collect()}
        media = {
            "media_frac": args.media_frac,
            "media_docs": sum(n for (n, _b) in exp_media.values()),
            "media_statuses": sorted({s for (_w, s) in exp_media}),
            "media_golden_match": got_media == exp_media,
            "n_media_rows": len(exp_media),
        }

    nd = {}
    if args.neardup_frac > 0:
        # golden: pure-Python prefix simulation of the stateful operator
        # over the OBSERVED batch partition (batch boundaries are an
        # arrival-order fact read back from the epoch sink's lineage
        # column; the ownership/timeout semantics are recomputed
        # independently — they are what is under test)
        import calendar
        from joern_spark.streaming import neardup as _nd

        def ts_ms(dt) -> int:
            return (calendar.timegm(dt.timetuple()) * 1000
                    + dt.microsecond // 1000)

        sink = spark.read.parquet(f"{base}/neardup_out/findings")
        batch_of = {r.url: r.bid for r in
                    sink.groupBy("url")
                    .agg(F.min("batch_id").alias("bid")).collect()}
        # EVERY batch id, including data-less ones (restart / termination
        # batches fire event-time timeouts; each leaves an epoch dir)
        all_bids = sorted(
            int(name.split("=", 1)[1])
            for name in os.listdir(f"{base}/neardup_out/findings")
            if name.startswith("epoch="))
        got_nd = {r.url: r.survivor
                  for r in _nd.read_survivors(
                      spark, f"{base}/neardup_out").collect()}

        bands_by_url = {}
        ts_by_url = {}
        for r in _nd.page_band_rows(
                spark.read.parquet(pages_dir)).collect():
            bands_by_url.setdefault(r.url, []).append(
                (r.band_idx, r.band_hash))
            ts_by_url[r.url] = ts_ms(r.warc_ts)

        by_batch = {bid: [] for bid in all_bids}
        for url, bid in batch_of.items():
            by_batch.setdefault(bid, []).append(
                (ts_by_url[url], url, bands_by_url[url]))
        horizon_ms = _nd._horizon_micros() // 1000
        exp_nd, live_buckets = neardup_prefix_sim(
            sorted(by_batch.items()), horizon_ms, horizon_ms)

        n_mismatch = sum(1 for u in exp_nd if got_nd.get(u) != exp_nd[u])
        nd = {
            "neardup_frac": args.neardup_frac,
            "n_pages": len(exp_nd),
            "n_batches": len(by_batch),
            "n_survivors": sum(1 for v in got_nd.values() if v),
            "n_suppressed": sum(1 for v in got_nd.values() if not v),
            "neardup_golden_match": (got_nd == exp_nd),
            "n_mismatch": n_mismatch,
            "live_buckets_at_end": live_buckets,
        }

    skew = {}
    if args.hot_frac > 0:
        from pyspark.sql import functions as F
        batch_pages = spark.read.parquet(pages_dir)
        domain = F.regexp_extract("url", r"https://([^/]+)/", 1).alias("domain")
        exp_dom = {(str(r.window_start), r.domain): r.n_docs
                   for r in (batch_pages
                             .select(F.window("warc_ts", job.WINDOW).alias("win"),
                                     domain)
                             .groupBy(F.col("win.start").alias("window_start"),
                                      "domain")
                             .agg(F.count(F.lit(1)).alias("n_docs"))).collect()}
        got_dom = {(str(r.window_start), r.domain): r.n_docs
                   for r in job.read_salted_domain_counts(
                       spark, f"{base}/salted_out").collect()}
        hot_docs = sum(n for (_w, d), n in exp_dom.items()
                       if d == "hot-skew.example.com")
        skew = {
            "hot_frac": args.hot_frac,
            "hot_domain_docs": hot_docs,
            "salted_golden_match": got_dom == exp_dom,
            "task_time": task_time_ratios(spark),
        }

    print(json.dumps({
        "metric": "streaming_soak_docs_per_sec",
        "value": round(docs_streamed / stream_seconds, 1),
        "unit": "docs/sec",
        "docs": docs_streamed,
        "stream_wall_sec": round(stream_seconds, 1),
        "kills": args.kills,
        "golden_counts_match": golden_ok,
        "n_windows": len(expected),
        "phases": phases,
        "runs": runs,
        "crosspage_errors": crosspage_errors,
        **({"skew": skew} if skew else {}),
        **({"media": media} if media else {}),
        **({"neardup": nd} if nd else {}),
    }))
    if (not golden_ok or (skew and not skew["salted_golden_match"])
            or (media and not media["media_golden_match"])
            or (nd and not nd["neardup_golden_match"])):
        raise SystemExit(1)


if __name__ == "__main__":
    main()
