"""Streaming-layer tests: watermarked windowed counts, exactly-once sink,
and kill+resume-from-checkpoint reproducibility (BASELINE.md target
"identical per-window counts after kill+resume")."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from joern_spark.streaming import job, neardup


@pytest.fixture(scope="module")
def corpus_dir(spark):
    d = tempfile.mkdtemp(prefix="pages_")
    job.write_corpus_chunks(spark, d, n_docs=48, n_chunks=4)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _run_to_completion(spark, corpus_dir, out_dir, cp_dir):
    q = job.run_stream(spark, corpus_dir, out_dir, cp_dir, available_now=True)
    q.awaitTermination(300)
    return job.read_results(spark, out_dir).collect()


def _stop_after_first_batch(q):
    deadline = time.time() + 120
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["numInputRows"] > 0:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)


def _state_widths(q):
    return {op["numShufflePartitions"] for p in q.recentProgress
            for op in p.get("stateOperators") or []}


def _as_dict(rows):
    return {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
            for r in rows}


SHUFFLE = "spark.sql.shuffle.partitions"
PROVIDER = "spark.sql.streaming.stateStore.providerClass"
STARTERS = {
    "findings": job.run_stream,
    "salted": job.run_salted_domain_stream,
    "media": job.run_media_stream,
    "neardup": neardup.run_near_dup_stream,
}


@pytest.mark.parametrize("name", sorted(STARTERS))
def test_stream_state_is_one_store_per_core(spark, corpus_dir, name):
    """Every stream starter runs its state operators one store per core,
    whatever the caller's batch shuffle width, and leaves that width
    as the caller set it."""
    cores = spark.sparkContext.defaultParallelism
    batch_width = spark.conf.get(SHUFFLE)
    spark.conf.set(SHUFFLE, str(cores + 3))
    base = tempfile.mkdtemp(prefix=f"width_{name}_")
    try:
        q = STARTERS[name](spark, corpus_dir, f"{base}/out", f"{base}/cp",
                           available_now=True)
        q.awaitTermination(300)
        assert _state_widths(q) == {cores}
        assert spark.conf.get(SHUFFLE) == str(cores + 3)
    finally:
        spark.conf.set(SHUFFLE, batch_width)
        shutil.rmtree(base, ignore_errors=True)


# the upsert key of each update-mode stream: its stateful aggregation's
# grouping key, which the sink's key_bucket follows
UPSERT_KEYS = {
    "findings": ("window_start", "query_name"),
    "salted": ("window_start", "domain", "salt"),
    "media": ("window_start", "decode_status"),
}


@pytest.fixture(scope="module")
def media_dir(spark):
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from streaming_soak import write_chunk

    d = tempfile.mkdtemp(prefix="media_pages_")
    for lo in (0, 40, 80):  # 3 time-ordered chunks, every 2nd page a blob
        write_chunk(spark, d, lo, lo + 40, media_frac=0.5)
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="module", params=sorted(UPSERT_KEYS))
def drained_update_stream(request, spark, corpus_dir, media_dir):
    """One update-mode stream drained from a fresh checkpoint: its name,
    query, Spark job ids, the persistent RDDs it left and its sink dir."""
    name = request.param
    pages = media_dir if name == "media" else corpus_dir
    base = tempfile.mkdtemp(prefix=f"sink_{name}_")
    pinned = spark.sparkContext._jsc.getPersistentRDDs
    before = set(pinned().keys())
    q = STARTERS[name](spark, pages, f"{base}/out", f"{base}/cp",
                       available_now=True)
    q.awaitTermination(300)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    yield name, q, jobs, set(pinned().keys()) - before, f"{base}/out"
    shutil.rmtree(base, ignore_errors=True)


def test_update_sink_is_one_job_per_batch(drained_update_stream):
    """The exactly-once sink runs one Spark action per micro-batch (no
    pinned batch, no second metrics write) and leaves no cache."""
    _name, q, jobs, left, _out = drained_update_stream
    assert q.lastProgress["batchId"] > 0
    assert len(jobs) == q.lastProgress["batchId"] + 1
    assert not left


def test_update_sink_buckets_are_state_partitions(spark,
                                                  drained_update_stream):
    """Each writer task writes one file per epoch, its rows' bucket is
    the partition that produced them, and every upsert key stays in one
    bucket across all epochs."""
    name, _q, _jobs, _left, out = drained_update_stream
    findings = os.path.join(out, "findings")
    dirs = glob.glob(os.path.join(findings, "epoch=*", "key_bucket=*"))
    assert dirs
    for d in dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    rows = spark.read.parquet(findings).collect()
    assert rows and all(r.key_bucket == r.src_partition for r in rows)
    buckets, epochs = defaultdict(set), defaultdict(set)
    for r in rows:
        key = tuple(r[k] for k in UPSERT_KEYS[name])
        buckets[key].add(r.key_bucket)
        epochs[key].add(r.batch_id)
    assert all(len(b) == 1 for b in buckets.values())
    # some key is rewritten in a later epoch, so the check spans epochs
    assert any(len(e) > 1 for e in epochs.values())


def test_stream_session_keeps_caller_runtime_conf(spark, corpus_dir):
    """A conf the caller set at runtime reaches the stream (here: the
    state store provider) and stays set on the caller's session."""
    hdfs = ("org.apache.spark.sql.execution.streaming.state."
            "HDFSBackedStateStoreProvider")
    rocksdb = spark.conf.get(PROVIDER)
    spark.conf.set(PROVIDER, hdfs)
    base = tempfile.mkdtemp(prefix="runtime_conf_")
    try:
        q = job.run_stream(spark, corpus_dir, f"{base}/out", f"{base}/cp",
                           available_now=True)
        q.awaitTermination(300)
        metrics = [set(op["customMetrics"]) for p in q.recentProgress
                   for op in p.get("stateOperators") or []]
        assert metrics
        assert not any(k.startswith("rocksdb") for m in metrics for k in m)
        assert spark.conf.get(PROVIDER) == hdfs
    finally:
        spark.conf.set(PROVIDER, rocksdb)
        shutil.rmtree(base, ignore_errors=True)


def test_old_checkpoint_resumes_at_its_width(spark, corpus_dir):
    """A checkpoint written at the caller's batch width (the stream built
    on the caller's session) resumes through run_stream at that width,
    and its counts equal the batch golden."""
    cores = spark.sparkContext.defaultParallelism
    old_width = cores + 3
    batch_width = spark.conf.get(SHUFFLE)
    base = tempfile.mkdtemp(prefix="old_cp_")
    try:
        spark.conf.set(SHUFFLE, str(old_width))
        counts = job.windowed_findings(job.pages_stream(spark, corpus_dir),
                                       dedup=True)
        q = (counts.writeStream.outputMode("update")
             .option("checkpointLocation", f"{base}/cp")
             .foreachBatch(job.exactly_once_batch_writer(f"{base}/out"))
             .start())
        _stop_after_first_batch(q)
        assert _state_widths(q) == {old_width}
        spark.conf.set(SHUFFLE, batch_width)

        q = job.run_stream(spark, corpus_dir, f"{base}/out", f"{base}/cp",
                           available_now=True)
        q.awaitTermination(300)
        assert _state_widths(q) == {old_width}
        got = _as_dict(job.read_results(spark, f"{base}/out").collect())
        want = _as_dict(job.windowed_findings(
            spark.read.parquet(corpus_dir), dedup=True).collect())
        assert want and got == want
    finally:
        spark.conf.set(SHUFFLE, batch_width)
        shutil.rmtree(base, ignore_errors=True)


def test_stream_end_to_end_and_resume(spark, corpus_dir):
    base = tempfile.mkdtemp(prefix="stream_")
    try:
        # uninterrupted run
        full = _run_to_completion(spark, corpus_dir, f"{base}/out1", f"{base}/cp1")
        assert len(full) > 0
        ref = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs) for r in full}

        # interrupted run: stop after the first progress, then resume
        q = job.run_stream(spark, corpus_dir, f"{base}/out2", f"{base}/cp2")
        _stop_after_first_batch(q)

        resumed = _run_to_completion(spark, corpus_dir, f"{base}/out2", f"{base}/cp2")
        got = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs) for r in resumed}
        assert got == ref, "kill+resume must reproduce identical per-window counts"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_windowed_counts_match_batch(spark, corpus_dir):
    """Stream results == batch computation over the same corpus (unified
    semantics check)."""
    base = tempfile.mkdtemp(prefix="streamb_")
    try:
        stream_rows = _run_to_completion(spark, corpus_dir, f"{base}/out", f"{base}/cp")
        got = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
               for r in stream_rows}
        batch_pages = spark.read.parquet(corpus_dir)
        batch = job.windowed_findings(batch_pages, dedup=True).collect()
        expected = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
                    for r in batch}
        assert got == expected
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_stream_join(spark, corpus_dir):
    """Watermarked stream-stream join: every page finds its (possibly late)
    metadata record exactly once."""
    import tempfile
    from joern_spark.streaming.stateful import (join_pages_with_meta,
                                                synth_meta_stream_frame)

    base = tempfile.mkdtemp(prefix="ssj_")
    # write the deterministic meta twin as its own parquet stream source
    meta_dir = f"{base}/meta"
    synth_meta_stream_frame(spark.read.parquet(corpus_dir)).write.parquet(meta_dir)
    pages = job.pages_stream(spark, corpus_dir, files_per_trigger=4)
    meta = (spark.readStream
            .schema(spark.read.parquet(meta_dir).schema)
            .option("maxFilesPerTrigger", 4).parquet(meta_dir))
    joined = join_pages_with_meta(pages, meta)
    rows = []

    def sink(batch_df, batch_id):
        rows.extend(batch_df.collect())

    q = (joined.writeStream.outputMode("append")
         .option("checkpointLocation", f"{base}/cp")
         .foreachBatch(sink).trigger(availableNow=True).start())
    q.awaitTermination(300)

    n_pages = spark.read.parquet(corpus_dir).count()
    assert len(rows) == n_pages, f"expected {n_pages} joined rows, got {len(rows)}"
    assert {r.fetch_status for r in rows} <= {200, 404}


def test_watermark_drops_too_late_rows(spark):
    """Watermark late-drop guarantee: with a single stateful operator
    (spark.sql.streaming.statefulOperator.allowMultiple=false), rows
    arriving behind the watermark are dropped and their window never
    emits in append mode.  (With the default allowMultiple=true — which
    our chained dedup+agg job needs — Spark 3.4+ intentionally relaxes
    input-side late filtering to the previous-batch watermark, so
    too-late rows may still be aggregated; the exactly-once sink and
    state eviction are unaffected.)"""
    import tempfile
    from pyspark.sql import functions as F
    from joern_spark.sources.corpus import make_pages

    base = tempfile.mkdtemp(prefix="late_")
    pages_dir = f"{base}/pages"
    offsets = ["INTERVAL 10 HOURS", "INTERVAL 0 HOURS", "INTERVAL 20 HOURS"]
    for off in offsets:
        (make_pages(spark, n_docs=8, n_partitions=1)
         .withColumn("warc_ts", F.col("warc_ts") + F.expr(off))
         .coalesce(1).write.mode("append").parquet(pages_dir))
        time.sleep(2)

    spark.conf.set("spark.sql.streaming.statefulOperator.allowMultiple", "false")
    try:
        counts = job.windowed_findings(job.pages_stream(spark, pages_dir))
        rows = []
        q = (counts.writeStream.outputMode("append")
             .option("checkpointLocation", f"{base}/cp")
             .foreachBatch(lambda df, bid: rows.extend(df.collect()))
             .trigger(availableNow=True).start())
        q.awaitTermination(300)
        dropped = sum(s.get("numRowsDroppedByWatermark", 0)
                      for p in q.recentProgress
                      for s in (p.get("stateOperators") or []))
    finally:
        spark.conf.set("spark.sql.streaming.statefulOperator.allowMultiple", "true")

    emitted = {str(r.window_start) for r in rows}
    assert any(w.startswith("2024-01-01 10:") for w in emitted), emitted
    assert not any(w.startswith("2024-01-01 00:") for w in emitted), emitted
    assert dropped > 0, "late findings must be counted as dropped by the watermark"


def test_merge_upsert_semantics(spark):
    """MERGE stand-in: matched keys replaced, unmatched inserted, others
    untouched (streaming/merge.py)."""
    import os

    from joern_spark.streaming.merge import merge_upsert

    base = tempfile.mkdtemp(prefix="merge_")
    target = os.path.join(base, "t")
    try:
        initial = spark.createDataFrame(
            [("w1", "qa", 1), ("w1", "qb", 2), ("w2", "qa", 3)],
            ["window_start", "query_name", "n_matches"])
        merge_upsert(spark, target, initial, ["window_start", "query_name"])
        updates = spark.createDataFrame(
            [("w1", "qa", 10), ("w3", "qc", 7)],
            ["window_start", "query_name", "n_matches"])
        pinned = spark.sparkContext._jsc.getPersistentRDDs
        before = set(pinned().keys())
        merge_upsert(spark, target, updates, ["window_start", "query_name"])
        # a merge releases both its pins: `updates` and the merged table
        assert not set(pinned().keys()) - before
        got = {(r.window_start, r.query_name): r.n_matches
               for r in spark.read.parquet(target).collect()}
        assert got == {("w1", "qa"): 10, ("w1", "qb"): 2,
                       ("w2", "qa"): 3, ("w3", "qc"): 7}
        # idempotent re-merge
        merge_upsert(spark, target, updates, ["window_start", "query_name"])
        again = {(r.window_start, r.query_name): r.n_matches
                 for r in spark.read.parquet(target).collect()}
        assert again == got
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_merge_upsert_prunes_untouched_buckets(spark):
    """A merge must rewrite ONLY the key_bucket partitions its updates
    touch — untouched bucket directories stay byte-identical (the
    partition-pruned stand-in for Iceberg merge-on-read)."""
    import glob
    import hashlib
    import os

    from joern_spark.streaming.merge import merge_upsert

    base = tempfile.mkdtemp(prefix="mergeprune_")
    target = os.path.join(base, "t")

    def snapshot():
        out = {}
        for p in glob.glob(os.path.join(target, "key_bucket=*", "*.parquet")):
            with open(p, "rb") as f:
                out[os.path.relpath(p, target)] = hashlib.md5(f.read()).hexdigest()
        return out

    try:
        initial = spark.createDataFrame(
            [(f"w{i}", "qa", i) for i in range(50)],
            ["window_start", "query_name", "n_matches"])
        merge_upsert(spark, target, initial, ["window_start", "query_name"])
        before = snapshot()
        updates = spark.createDataFrame(
            [("w1", "qa", 100)], ["window_start", "query_name", "n_matches"])
        merge_upsert(spark, target, updates, ["window_start", "query_name"])
        after = snapshot()
        touched = {k for k in before if before[k] != after.get(k)}
        gone = {k for k in before if k not in after}
        changed_buckets = {k.split("/")[0] for k in touched | gone
                           | {k for k in after if k not in before}}
        assert len(changed_buckets) == 1, changed_buckets
        # every other bucket's files are byte-identical
        untouched = {k for k in before if k.split("/")[0] not in changed_buckets}
        assert untouched and all(before[k] == after[k] for k in untouched)
        # and the merge semantics still hold
        got = {(r.window_start, r.query_name): r.n_matches
               for r in spark.read.parquet(target).collect()}
        assert got[("w1", "qa")] == 100 and got[("w2", "qa")] == 2
        assert len(got) == 50
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compaction_matches_read_results(spark, corpus_dir):
    """compact_findings folds epoch history into a current-state table whose
    content equals the latest-wins read path; the epoch data files are
    written partitioned (no single-task coalesce on the data path)."""
    import glob
    import os

    from joern_spark.streaming.merge import compact_findings

    base = tempfile.mkdtemp(prefix="compact_")
    try:
        out = f"{base}/out"
        _run_to_completion(spark, corpus_dir, out, f"{base}/cp")
        ref = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
               for r in job.read_results(spark, out).collect()}
        merged = compact_findings(spark, out, f"{base}/current")
        got = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
               for r in spark.read.parquet(f"{base}/current").collect()}
        assert got == ref
        assert merged.count() == len(ref)
        # the sink wrote key-bucketed epoch dirs
        assert glob.glob(os.path.join(out, "findings", "epoch=*", "key_bucket=*"))
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_fragment_assembly_stateful(spark):
    """Partial-CPG-fragment state (north_star): html chunks arrive out of
    order across micro-batches; the state store buffers fragments per url
    and each document's CPG is built exactly once, at completion — results
    equal the unchunked batch scan."""
    import os

    from joern_spark.cpg.build import build_cpg
    from joern_spark.extract import extract_script_text
    from joern_spark.query.cpgql import Q
    from joern_spark.query.scan import default_bundle
    from joern_spark.sources.corpus import make_pages
    from joern_spark.streaming.stateful import (assemble_cpg_fragments,
                                                chunked_pages)

    base = tempfile.mkdtemp(prefix="frag_")
    try:
        pages = make_pages(spark, n_docs=20, n_partitions=2)
        chunks = chunked_pages(pages, n_parts=3)
        # write scrambled chunks as several files → several micro-batches,
        # so most documents complete across batch boundaries
        chunks_dir = os.path.join(base, "chunks")
        chunks.repartition(5).write.parquet(chunks_dir)

        stream = (spark.readStream
                  .schema(spark.read.parquet(chunks_dir).schema)
                  .option("maxFilesPerTrigger", 1).parquet(chunks_dir))
        assembled = assemble_cpg_fragments(stream)
        rows = []

        def sink(batch_df, batch_id):
            rows.extend(batch_df.collect())

        q = (assembled.writeStream.outputMode("append")
             .option("checkpointLocation", os.path.join(base, "cp"))
             .foreachBatch(sink).trigger(availableNow=True).start())
        q.awaitTermination(300)

        got = {r.url: (r.n_parts, r.n_nodes, r.n_findings) for r in rows}
        assert len(got) == 20  # every document completed exactly once
        # expected: unchunked batch build per page
        for p in pages.collect():
            cpg = build_cpg(extract_script_text(bytes(p.html).decode()), p.url)
            qq = Q(cpg)
            nf = sum(1 for query in default_bundle()
                     if int(query.matcher(cpg, qq)) > 0)
            assert got[p.url] == (3, len(cpg.nodes), nf), p.url
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_multi_kill_chaos_resume(spark, corpus_dir):
    """north_rule "resumable from ANY checkpoint": the stream is killed
    after each micro-batch (1 file per trigger → 4 batches), so every
    restart resumes from a different checkpoint epoch; the final counts
    must equal an uninterrupted run's."""
    base = tempfile.mkdtemp(prefix="chaos_")
    try:
        full = _run_to_completion(spark, corpus_dir, f"{base}/ref_out",
                                  f"{base}/ref_cp")
        ref = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
               for r in full}

        out, cp = f"{base}/out", f"{base}/cp"
        for _attempt in range(3):
            q = job.run_stream(spark, corpus_dir, out, cp,
                               available_now=True)
            deadline = time.time() + 120
            while time.time() < deadline and q.isActive:
                if q.lastProgress and q.lastProgress["numInputRows"] > 0:
                    break
                time.sleep(0.25)
            q.stop()
            q.awaitTermination(60)

        resumed = _run_to_completion(spark, corpus_dir, out, cp)
        got = {(str(r.window_start), r.query_name): (r.n_matches, r.n_docs)
               for r in resumed}
        assert got == ref, \
            "multi-kill resume must reproduce identical per-window counts"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_salted_domain_counts_skewed_stream(spark):
    """Hot-domain skew path (north_rule salting): a corpus with ~30% of
    pages on one domain, streamed through the SALTED per-domain rollup
    (stage-1 salted stateful agg + read-side merge), must equal the plain
    batch groupBy(window, domain) counts — including across kill+resume —
    and the hot domain's state must split across salts."""
    import os
    import tempfile

    from joern_spark.sources.corpus import PAGE_SCHEMA, page_for

    base = tempfile.mkdtemp(prefix="salt_")
    try:
        import datetime
        rows = []
        for i in range(96):
            url, ts, html, text = page_for(i)
            if i % 10 < 3:  # ~30% reassigned to one hot netloc
                url = f"https://hot-skew.example.com/page-{i}"
            rows.append((i, url,
                         datetime.datetime.fromtimestamp(
                             ts, tz=datetime.timezone.utc),
                         html, text, "en"))
        pages_dir = f"{base}/pages"
        for lo in range(0, 96, 24):  # 4 time-ordered chunks
            spark.createDataFrame(rows[lo:lo + 24], PAGE_SCHEMA) \
                .coalesce(1).write.mode("append").parquet(pages_dir)

        # interrupted first run, then availableNow drain from checkpoint
        q = job.run_salted_domain_stream(spark, pages_dir, f"{base}/out",
                                         f"{base}/cp")
        _stop_after_first_batch(q)
        q = job.run_salted_domain_stream(spark, pages_dir, f"{base}/out",
                                         f"{base}/cp", available_now=True)
        q.awaitTermination(300)

        got = {(str(r.window_start), r.domain): r.n_docs
               for r in job.read_salted_domain_counts(spark, f"{base}/out")
               .collect()}
        batch = spark.read.parquet(pages_dir)
        domain = F.regexp_extract("url", r"https://([^/]+)/", 1).alias("domain")
        exp = {(str(r.window_start), r.domain): r.n_docs
               for r in (batch.select(F.window("warc_ts", job.WINDOW)
                                      .alias("win"), domain)
                         .groupBy(F.col("win.start").alias("window_start"),
                                  "domain")
                         .agg(F.count(F.lit(1)).alias("n_docs"))).collect()}
        assert got == exp
        assert any(d == "hot-skew.example.com" for (_w, d) in got)
        # the hot domain's partials really are salted (more than one salt)
        findings = spark.read.parquet(os.path.join(f"{base}/out", "findings"))
        n_salts = (findings.where(F.col("domain") == "hot-skew.example.com")
                   .select("salt").distinct().count())
        assert n_salts > 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_media_stream_golden_and_resume(spark):
    """Binary media blobs through the streaming path (file source →
    Arrow decode UDF → watermarked windowed state → exactly-once epoch
    sink): per-window per-decode_status counts must equal the batch run
    of the same function, including after a kill+resume, and the status
    mix must include both 'ok' and unsupported classes."""
    import os
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from streaming_soak import write_chunk

    base = tempfile.mkdtemp(prefix="media_stream_")
    pages_dir = f"{base}/pages"
    try:
        # every 2nd page carries a blob; 3 time-ordered chunks
        for lo in (0, 160, 320):
            write_chunk(spark, pages_dir, lo, lo + 160, files=1,
                        media_frac=0.5)
        expected = {(str(r.window_start), r.decode_status):
                    (r.n_media, r.media_bytes)
                    for r in job.windowed_media_features(
                        spark.read.parquet(pages_dir)).collect()}
        statuses = {s for (_w, s) in expected}
        assert "ok" in statuses and "png_unsupported_mode" in statuses \
            and "unknown_format" in statuses

        # uninterrupted run
        q = job.run_media_stream(spark, pages_dir, f"{base}/out1",
                                 f"{base}/cp1", available_now=True)
        q.awaitTermination(300)
        got = {(str(r.window_start), r.decode_status):
               (r.n_media, r.media_bytes)
               for r in job.read_media_counts(spark, f"{base}/out1").collect()}
        assert got == expected

        # interrupted run: kill after first progress, resume, drain
        q = job.run_media_stream(spark, pages_dir, f"{base}/out2",
                                 f"{base}/cp2")
        for _ in range(600):
            if q.lastProgress:
                break
            time.sleep(0.1)
        q.stop()
        q2 = job.run_media_stream(spark, pages_dir, f"{base}/out2",
                                  f"{base}/cp2", available_now=True)
        q2.awaitTermination(300)
        got2 = {(str(r.window_start), r.decode_status):
                (r.n_media, r.media_bytes)
                for r in job.read_media_counts(spark, f"{base}/out2").collect()}
        assert got2 == expected
    finally:
        shutil.rmtree(base, ignore_errors=True)
