"""Driver contract for the spark-graft builder (PySpark target).

`queries()` returns one callable per implemented operator (SURVEY.md §2 +
the training-data pipeline ops); `oracle_sql()` returns the DuckDB-ANSI
equivalent for every SQL-expressible one.  Column names/aliases match
exactly between both sides.

Conventions for cross-engine value-hash parity:
- money/value sums  → `round(sum(x)*100) :: bigint` ("cents").
- ratios            → `floor(x * 1e6) :: bigint` ("micro-units").
- cosine            → `round(x, 6)` on float64 accumulation.
- hashes            → md5 hex strings (identical in both engines).
- timestamps        → session timeZone pinned to UTC inside the callables.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from joern_spark.pipeline import dedup, multimodal, similarity, text, windows
from joern_spark.session import load_table
from joern_spark.sparkutil import persist_result


def _utc(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# ---------------------------------------------------------------------------
# Relational operators (joins, aggregations, semi/anti, top-k)
# ---------------------------------------------------------------------------

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity") * 100).cast("long").alias("sum_qty_c"),
            F.round(F.sum("l_extendedprice") * 100).cast("long").alias("sum_base_price_c"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("long")
            .alias("sum_disc_price_c"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # NOTE (r8): an orders⋈broadcast(customer)-first reorder was tried and
    # MEASURED 3x slower at sf1 (7.5s vs 2.3s — the joined oc side lost its
    # broadcastability estimate and both exchanges came back plus a sort);
    # the original order stays (see OPTIMIZATION_r08.md).
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("long")
            .alias("revenue_c")
        )
        .orderBy(F.desc("revenue_c"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue_c", "o_orderpriority")
    )


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # NOTE (r8): a dims-first reorder (customer⋈nation⋈region, then orders,
    # lineitem last — the q3 shape) removed both SortMergeJoin exchanges but
    # CHANGED the partial-sum accumulation order of the double-typed
    # revenue aggregate, flipping one group's round(sum*100) by one cent at
    # sf1 against the oracle.  round-of-double-sum parity is plan-order
    # lottery, so the verified original join order stays (left alone
    # deliberately; see OPTIMIZATION_r08.md).
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) * 100)
            .cast("long")
            .alias("revenue_c"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def part_types_with_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    # distinct the probe side's join key first: the semi-join then sees
    # ~|distinct partkeys| rows instead of the 6M-row lineitem scan, the
    # distinct's partial aggregation collapses the shuffle map-side, and
    # AQE broadcast-joins the (now small) key set (guide §2.3 "aggregate
    # before you shuffle"; before: SortMergeJoin LeftSemi shuffling all of
    # lineitem AND part)
    li_keys = li.select("l_partkey").distinct()
    return (
        p.join(li_keys, p.p_partkey == li_keys.l_partkey, "left_semi")
        .groupBy("p_type")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


def region_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    c = load_table(spark, sf_dir, "customer")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal") * 100).cast("long").alias("acctbal_c"),
        )
    )


# ---------------------------------------------------------------------------
# Event-time windowing (batch forms of the streaming ops)
# ---------------------------------------------------------------------------

def events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.tumbling_counts(load_table(spark, sf_dir, "events"))


def events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.sliding_counts(load_table(spark, sf_dir, "events"))


def events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.session_stats(load_table(spark, sf_dir, "events"))


def events_top_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return windows.top_users_by_window(load_table(spark, sf_dir, "events"))


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP-style sequence pattern: signup followed by a purchase within 1h
    (stream-stream-join shape; batch form here, same join in streaming)."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events")
    s = ev.where(F.col("event_type") == "signup").select(
        F.col("user_id").alias("u"), F.col("ts").alias("signup_ts"))
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"), F.col("ts").alias("purchase_ts"), "value")
    j = s.join(p, (F.col("u") == F.col("u2"))
               & (F.col("purchase_ts") > F.col("signup_ts"))
               & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")))
    return j.groupBy(F.col("u").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.round(F.sum("value") * 100).cast("long").alias("value_cents"),
    )


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over (event_type, user bucket) — grouping-sets
    operator coverage; NULL dimensions mark the rollup rows."""
    _utc(spark)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("int"))
    return (ev.cube("event_type", "user_bucket")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.sum("value") * 100).cast("long").alias("value_cents")))


def events_user_totals_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof two-stage aggregation (pipeline.skew.salted_agg) — result
    is semantically identical to a plain GROUP BY, which is the oracle."""
    from joern_spark.pipeline.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        F.col("user_id"),
        [(F.lit(1), "count", "sum", "n_events"),
         (F.col("value"), "sum", "sum", "value_sum")],
        n_salts=8,
        salt_on=F.col("event_id"),
    )
    return out.select(
        F.col("key").alias("user_id"),
        F.col("n_events"),
        F.round(F.col("value_sum") * 100).cast("long").alias("value_cents"),
    )


# ---------------------------------------------------------------------------
# Training-data pipeline: text analysis + dedup + similarity
# ---------------------------------------------------------------------------

def doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_count(load_table(spark, sf_dir, "documents"))


def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(load_table(spark, sf_dir, "documents"))


def doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load_table(spark, sf_dir, "documents"))


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(load_table(spark, sf_dir, "documents"))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup.minhash_signature(load_table(spark, sf_dir, "documents"))
    # flatten for stable oracle comparison: (doc_id, seed, minhash value).
    # posexplode_OUTER: plain posexplode makes InferFiltersFromGenerate push a
    # `size(minhash) > 0` filter below the projections, re-inlining the whole
    # minhash expression tree into a non-codegen per-row Filter (30x slower);
    # the signature always has 16 elements, so outer semantics are identical.
    return sig.select(
        "doc_id", F.posexplode_outer("minhash").alias("seed", "mh")
    )


def dedup_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = dedup.minhash_signature(load_table(spark, sf_dir, "documents"))
    return dedup.lsh_candidate_pairs(sig)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signature(docs))
    j = dedup.ngram_jaccard(docs, pairs)
    out = persist_result(j.select(
        "doc_a", "doc_b", F.floor(F.col("jaccard") * 1e6).cast("long").alias("jaccard_micro")
    ))
    pairs.unpersist(blocking=False)
    return out


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


def corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite training-data cleaning pipeline (C4/Gopher order):
    en-only + quality floor + token band, exact dedup (min doc_id per
    md5) and near-dup collapse (min doc_id per LSH connected
    component), end to end over the documents table.  Oracle: DuckDB
    recomputes the identical survivor set — the recursive-CTE closure
    for the components, a window-min for the exact stage, and the
    integer-unit quality/lang formulas shared with doc_quality /
    doc_lang_id."""
    from joern_spark.pipeline.clean import corpus_clean as _clean

    return _clean(load_table(spark, sf_dir, "documents"))


def corpus_clean_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corpus_clean through the cluster-SHARING seam: the minhash→LSH→CC
    chain is computed explicitly and handed to `corpus_clean(clusters=)`
    — the 100 TB deployment shape, where the chain is computed once per
    corpus build and shared across every consumer (measured at sf1:
    33.6 s recompute vs 2.9 s shared, docs/CLEAN_shared_sf1_r7.json).
    Same oracle as corpus_clean: the survivor set is identical by
    construction, which is exactly what this driver-gated entry pins."""
    from joern_spark.pipeline.clean import corpus_clean as _clean

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signature(docs))
    clusters = dedup.connected_dup_clusters(pairs)
    pairs.unpersist(blocking=False)
    out = _clean(docs, clusters=clusters)
    # the survivor frame is persisted+materialized inside corpus_clean, so
    # the caller-owned clusters cache can be released here
    clusters.unpersist(blocking=False)
    return out


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition rollup: docs / tokens / subword-estimate
    totals per (pred_lang, quality decile) — the reporting aggregate of
    a corpus build.  Pure column math + one small-key groupBy."""
    from joern_spark.pipeline.clean import corpus_stats as _stats

    return _stats(load_table(spark, sf_dir, "documents"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate pairs (iterative-join
    propagate + pointer-jump rounds while the residual graph is large, a
    driver union-find for the rest) — pairs (a,b),(b,c)
    collapse into one cluster.  Oracle: DuckDB computes the same
    components with a recursive transitive-closure CTE over the same
    banding pipeline.

    The returned frame is persisted and CALLER-OWNED: release it with
    `df.unpersist()` after consuming the result."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(dedup.minhash_signature(docs))
    clusters = dedup.connected_dup_clusters(pairs)
    pairs.unpersist(blocking=False)
    return clusters


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 8)
    return similarity.cosine_topk(emb, queries_df, k=5)


def sim_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine pairs over a deterministic 1-in-10 sample,
    thresholded — the exactness baseline for embedding near-dup."""
    from joern_spark.pipeline.similarity import brute_pair_cosines

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") % 10 == 0)
    # blocked all-pairs kernel (similarity.brute_pair_cosines): each vector
    # ships G≈√(8·cores) times instead of once per pair — the theta-join +
    # per-pair Arrow scoring serialized O(N²·dim) bytes through one task.
    # Math is bit-identical to the previous per-pair kernel and the SQL
    # oracle (sequential float64 fold, HALF_UP 6dp round, a<b once).
    return brute_pair_cosines(emb, threshold=0.5)


def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 8)
    return similarity.ann_topk_lsh(emb, queries_df, k=5)


def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (inverted-file counterpart to the sign-LSH path):
    16-cell coarse quantizer LLOYD-TRAINED for two k-means steps on an
    exact-integer fixed-point grid (first-K deterministic init), corpus
    assigned in one zero-shuffle pass, queries probe their 4 nearest
    cells, exact cosine on candidates only.  Full SQL oracle — the
    integer-mean centroids and the 6dp-rounded cell argmax are both
    engine-portable, so DuckDB recomputes the SAME trained codebook."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 8)
    return similarity.ann_topk_ivf(emb, queries_df, k=5)


def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: synthetic blobs with REAL format headers
    (PNG IHDR / WAV RIFF / MP4 tkhd) → mapInPandas byte-level header
    decode.  The oracle recomputes every field from media_id arithmetic
    (the generator's parameters), so this checks the decoder round-trips
    the actual bytes.  16 edge blobs (ids 64-79, cycling id % 8) make
    the decode_status column non-vacuous: paletted PNG and 8-bit WAV
    DECODE (their pixel/sample stats are oracle-recomputed from the
    closed forms), while mdat-less MP4, unknown bytes, 16-bit PNG,
    float WAV, 24-bit WAV and truncated MP4 each exercise one specific
    non-ok status — all part of the oracle."""
    media = multimodal.synthetic_media(spark, 64, n_edge=16)
    feats = multimodal.extract_media_features(media)
    return feats.select("media_id", "media_type", "n_bytes",
                        "width", "height", "n_channels", "sample_rate",
                        "mean_r", "mean_g", "mean_b", "pixel_entropy",
                        "wav_rms", "wav_zero_crossings",
                        "mp4_mdat_bytes", "mp4_byte_mean",
                        "mp4_byte_entropy", "decode_status")


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the CPG pipeline end-to-end on sf0.001 — documents →
    synthetic web pages with embedded JS → extract → per-document CPG →
    taint-query scan → per-query finding counts."""
    from joern_spark.query.scan import scan_findings
    from joern_spark.sources.corpus import pages_from_documents

    sf_dir = "/root/testdata/sf0.001"
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 64)
    # a narrow filter can collapse parallelism — spread the Arrow build work
    pages = pages_from_documents(docs).repartition(spark.sparkContext.defaultParallelism)
    findings = scan_findings(pages)
    return (
        findings.groupBy("query_name")
        .agg(
            F.count(F.lit(1)).alias("n_docs_flagged"),
            F.sum("n_matches").alias("n_matches"),
        )
        .orderBy("query_name")
    )


# ---------------------------------------------------------------------------
# CPG engine queries (rows-only checks — graph construction from JS is not
# SQL-expressible; the pytest golden suite is the correctness oracle here)
# ---------------------------------------------------------------------------

def cpg_node_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label CPG node counts over pages derived from `documents`."""
    from joern_spark.cpg.spark_build import build_cpg_rows, split_cpg_tables
    from joern_spark.sources.corpus import pages_from_documents

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 128)
    pages = pages_from_documents(docs).repartition(spark.sparkContext.defaultParallelism)
    nodes, _edges = split_cpg_tables(build_cpg_rows(pages))
    return nodes.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))


def cpg_build_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship scan over pages derived from `documents` (rows-only)."""
    from joern_spark.query.scan import scan_findings
    from joern_spark.sources.corpus import pages_from_documents

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 256)
    pages = pages_from_documents(docs).repartition(spark.sparkContext.defaultParallelism)
    findings = scan_findings(pages)
    return (
        findings.groupBy("query_name")
        .agg(F.count(F.lit(1)).alias("n_docs_flagged"),
             F.sum("n_matches").alias("n_matches"))
    )


def cpg_web_taint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-taint query bundle (querydb tainted-sink shapes: SQL/command
    injection, DOM XSS, open redirect, regex injection, string-eval
    timeouts, hardcoded/insecure credentials) over 1024 deterministic
    pages that embed a positive/negative snippet mix; counts per query.
    Oracle: fixture recomputed by the pure-Python engine
    (tools/gen_cpg_fixtures.py)."""
    from joern_spark.query.scan import scan_findings, web_taint_bundle
    from joern_spark.sources.corpus import make_taint_pages

    pages = make_taint_pages(spark, n_docs=1024,
                             n_partitions=spark.sparkContext.defaultParallelism)
    return (
        scan_findings(pages, bundle=web_taint_bundle())
        .groupBy("query_name")
        .agg(F.count(F.lit(1)).alias("n_docs_flagged"),
             F.sum("n_matches").alias("n_matches"))
    )


def cpg_cross_page_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-DOCUMENT taint flows over the site corpus (512 pages): a
    library page's function returns user input, an app page of the SAME
    domain feeds that function's result into eval — the flow exists only
    across the page boundary.  Summarize-then-join: per-page reachableBy
    summaries in one narrow Arrow pass, then a (domain, func_name) join
    of the two small summary frames (query/crosspage.py).  Oracle:
    fixture recomputed by the pure-Python engine."""
    from joern_spark.query.crosspage import cross_page_flows
    from joern_spark.sources.corpus import make_site_pages

    pages = make_site_pages(spark, n_docs=512,
                            n_partitions=spark.sparkContext.defaultParallelism)
    return cross_page_flows(pages)


def cpg_cross_page_flows_transitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE cross-document taint over the chain corpus (256 pages):
    page A defines getParam (returns user input), page B wraps it in
    buildUrl, page C wraps that in navTo, page D evals navTo() — no page
    pair contains the flow.  One narrow Arrow pass builds def/call/wrap
    summaries; the closure runs on the tiny summary graph via the same
    iterative-join BFS as corpus reachability (reachable_pairs), k-limited
    like the engine.  Oracle: a recursive CTE in DuckDB computes the same
    closure INDEPENDENTLY over the fixture summary rows (which the
    pure-Python engine recomputes)."""
    from joern_spark.query.crosspage import cross_page_flows_transitive
    from joern_spark.sources.corpus import make_chain_pages

    pages = make_chain_pages(spark, n_docs=256,
                             n_partitions=spark.sparkContext.defaultParallelism)
    return cross_page_flows_transitive(pages)


def cpg_scan_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sustained-throughput flagship: 4096 synthetic pages → extract → CPG →
    scan, sized to amortize worker startup (the north_star docs/sec metric;
    bench.py divides 4096 by this query's wall time).  Generation is fused
    into the scan stage (scan_generated_pages): one Python stage over the
    source, the same plan shape a parquet/Iceberg pages table gives
    scan_findings — the chained generator-UDF form pays an extra Arrow
    round-trip that only exists in the synthetic harness."""
    from joern_spark.query.scan import scan_generated_pages

    return (
        scan_generated_pages(spark, n_docs=4096,
                             n_partitions=spark.sparkContext.defaultParallelism)
        .groupBy("query_name")
        .agg(F.count(F.lit(1)).alias("n_docs_flagged"),
             F.sum("n_matches").alias("n_matches"))
    )


def cpg_reachable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level reachability via iterative DataFrame self-joins over the
    REACHING_DEF edge table (the north_star's scale-path operator)."""
    from joern_spark.cpg.spark_build import build_cpg_tables
    from joern_spark.dataflow.reachable import reachable_pairs
    from joern_spark.sources.corpus import pages_from_documents

    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 64)
    pages = pages_from_documents(docs).repartition(spark.sparkContext.defaultParallelism)
    tables = build_cpg_tables(pages)
    try:
        nodes, edges = tables
        sources = nodes.where((F.col("label") == "IDENTIFIER") & (F.col("name") == "sz")) \
            .select("url", "node_id")
        sinks = nodes.where((F.col("label") == "CALL") & F.col("code").rlike("^read.*")) \
            .select("url", "node_id")
        pairs = reachable_pairs(edges, sources, sinks)
    finally:
        tables.unpersist()
    out = persist_result(pairs.groupBy("url").agg(F.count(F.lit(1)).alias("n_pairs")))
    pairs.unpersist(blocking=False)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_orders": q3_top_orders,
        "q5_nation_revenue": q5_nation_revenue,
        "customers_without_orders": customers_without_orders,
        "part_types_with_sales": part_types_with_sales,
        "region_customer_counts": region_customer_counts,
        "events_tumbling": events_tumbling,
        "events_sliding": events_sliding,
        "events_sessions": events_sessions,
        "events_top_users": events_top_users,
        "events_funnel": events_funnel,
        "events_user_totals_salted": events_user_totals_salted,
        "events_cube": events_cube,
        "doc_token_counts": doc_token_counts,
        "doc_lang_id": doc_lang_id,
        "doc_quality": doc_quality,
        "doc_fingerprints": doc_fingerprints,
        "dedup_exact": dedup_exact,
        "dedup_minhash_signatures": dedup_minhash_signatures,
        "dedup_lsh_pairs": dedup_lsh_pairs,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_simhash": dedup_simhash,
        "sim_cosine_topk": sim_cosine_topk,
        "sim_near_dup_pairs": sim_near_dup_pairs,
        "sim_ann_lsh": sim_ann_lsh,
        "sim_ann_ivf": sim_ann_ivf,
        "dedup_clusters": dedup_clusters,
        "corpus_clean": corpus_clean,
        "corpus_clean_shared": corpus_clean_shared,
        "corpus_stats": corpus_stats,
        "media_features": media_features,
        "cpg_node_stats": cpg_node_stats,
        "cpg_build_flows": cpg_build_flows,
        "cpg_scan_throughput": cpg_scan_throughput,
        "cpg_web_taint": cpg_web_taint,
        "cpg_cross_page_flows": cpg_cross_page_flows,
        "cpg_cross_page_flows_transitive": cpg_cross_page_flows_transitive,
        "cpg_reachable_pairs": cpg_reachable_pairs,
    }


# DuckDB oracle SQL.  Tables are pre-registered views.  String functions and
# arithmetic chosen to match Spark's semantics exactly (verified by
# tests/test_oracle_parity.py which replicates the driver's compare).

_TOKS = "regexp_split_to_array(trim(text), '\\s+')"

_MINHASH_CTE = f"""
-- tok/sh are MATERIALIZED: DuckDB inlines plain CTEs, and a token-array
-- reference inside the per-element shingle lambda re-evaluates the regexp
-- split per ELEMENT (quadratic per row — 91s for the shingle stage alone at
-- sf1 vs 1.1s materialized); cand is MATERIALIZED because the closure
-- oracles reference it twice (edges UNION) and jaccard joins it twice.
WITH tok AS MATERIALIZED (
  SELECT doc_id, trim(text) AS t, {_TOKS} AS toks FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN len(toks) >= 3 THEN
           list_transform(range(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
         ELSE [substr(t, 1, 1000)] END AS shingles
  FROM tok
),
hpair AS (
  SELECT doc_id,
         ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS h1,
         ('0x' || substr(md5(s), 16, 15))::BIGINT % 2147483646 + 1 AS h2
  FROM sh, unnest(shingles) AS u(s)
),
mh AS (
  SELECT doc_id, seed,
         min((h1 + seed * h2) % 2147483647) AS mh
  FROM hpair, range(0, 16) AS r(seed)
  GROUP BY doc_id, seed
)
"""

_BANDS_CTE = _MINHASH_CTE + """
, sig AS (
  SELECT doc_id, list(mh ORDER BY seed) AS sig FROM mh GROUP BY doc_id
),
bands AS (
  SELECT doc_id, b.band_idx,
         md5(sig[b.band_idx*4 + 1] || '|' || sig[b.band_idx*4 + 2] || '|' ||
             sig[b.band_idx*4 + 3] || '|' || sig[b.band_idx*4 + 4]) AS band_hash
  FROM sig, range(0, 4) AS b(band_idx)
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b
  FROM bands a JOIN bands b2
    ON a.band_idx = b2.band_idx AND a.band_hash = b2.band_hash
   AND a.doc_id < b2.doc_id
)
"""


def oracle_sql() -> dict[str, str]:
    sqls = {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(l_quantity)*100) AS BIGINT) AS sum_qty_c,
                   CAST(round(sum(l_extendedprice)*100) AS BIGINT) AS sum_base_price_c,
                   CAST(round(sum(l_extendedprice*(1-l_discount))*100) AS BIGINT) AS sum_disc_price_c,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_orders": """
            SELECT l_orderkey,
                   CAST(round(sum(l_extendedprice*(1-l_discount))*100) AS BIGINT) AS revenue_c,
                   o_orderpriority
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue_c DESC, l_orderkey ASC
            LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT r_name, n_name,
                   CAST(round(sum(l_extendedprice*(1-l_discount))*100) AS BIGINT) AS revenue_c,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "part_types_with_sales": """
            SELECT p_type, count(*) AS n_parts FROM part p
            WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
            GROUP BY p_type
        """,
        "region_customer_counts": """
            SELECT r_name, count(*) AS n_customers,
                   CAST(round(sum(c_acctbal)*100) AS BIGINT) AS acctbal_c
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "events_tumbling": """
            SELECT date_trunc('hour', ts) AS window_start, event_type,
                   count(*) AS n_events,
                   CAST(round(sum(value)*100) AS BIGINT) AS value_cents
            FROM events GROUP BY 1, 2
        """,
        "events_sliding": """
            SELECT time_bucket(INTERVAL '15 minutes', ts)
                     - k.k * INTERVAL '15 minutes' AS window_start,
                   count(*) AS n_events
            FROM events, range(0, 4) AS k(k)
            GROUP BY 1
        """,
        "events_sessions": """
            WITH flagged AS (
              SELECT user_id, ts, value,
                     CASE WHEN ts > coalesce(
                         lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                           + INTERVAL '30 minutes',
                         TIMESTAMP '1900-01-01 00:00:00')
                       THEN 1 ELSE 0 END AS new_session
              FROM events
            ),
            sid AS (
              SELECT *, CAST(sum(new_session) OVER (
                        PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
              FROM flagged
            )
            SELECT user_id, session_seq,
                   min(ts) AS session_start,
                   max(ts) AS last_event_ts,
                   count(*) AS n_events,
                   CAST(round(sum(value)*100) AS BIGINT) AS value_cents
            FROM sid GROUP BY user_id, session_seq
        """,
        "events_top_users": """
            WITH per AS (
              SELECT date_trunc('day', ts) AS window_start, user_id,
                     CAST(round(sum(value)*100) AS BIGINT) AS value_cents
              FROM events GROUP BY 1, 2
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                        PARTITION BY window_start
                        ORDER BY value_cents DESC, user_id ASC) AS rank
              FROM per
            )
            SELECT window_start, user_id, value_cents, rank
            FROM ranked WHERE rank <= 3
        """,
        "events_funnel": """
            SELECT s.user_id,
                   count(*) AS n_conversions,
                   CAST(round(sum(p.value)*100) AS BIGINT) AS value_cents
            FROM (SELECT user_id, ts AS signup_ts FROM events WHERE event_type = 'signup') s
            JOIN (SELECT user_id, ts AS purchase_ts, value FROM events WHERE event_type = 'purchase') p
              ON s.user_id = p.user_id
             AND p.purchase_ts > s.signup_ts
             AND p.purchase_ts <= s.signup_ts + INTERVAL '1 hour'
            GROUP BY s.user_id
        """,
        "events_cube": """
            SELECT event_type, CAST(user_id % 4 AS INT) AS user_bucket,
                   count(*) AS n_events,
                   CAST(round(sum(value)*100) AS BIGINT) AS value_cents
            FROM events
            GROUP BY CUBE (event_type, (CAST(user_id % 4 AS INT)))
        """,
        "events_user_totals_salted": """
            SELECT user_id, count(*) AS n_events,
                   CAST(round(sum(value)*100) AS BIGINT) AS value_cents
            FROM events GROUP BY user_id
        """,
        "doc_token_counts": f"""
            SELECT doc_id,
                   len({_TOKS}) AS n_tokens,
                   length(text) AS n_chars_text,
                   CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est
            FROM documents
        """,
        "doc_lang_id": f"""
            WITH t AS (
              SELECT doc_id,
                len(list_intersect({_TOKS}, ['the','a','of','and','to','in','is','it'])) AS en_hits,
                len(list_intersect({_TOKS}, ['el','la','de','que','y','en','un','es'])) AS es_hits,
                len(list_intersect({_TOKS}, ['der','die','das','und','zu','ist','ein','nicht'])) AS de_hits
              FROM documents
            )
            SELECT doc_id, en_hits, es_hits, de_hits,
                   CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                        WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                        WHEN de_hits > 0 THEN 'de'
                        ELSE 'unknown' END AS pred_lang
            FROM t
        """,
        "doc_quality": f"""
            WITH t AS (
              SELECT doc_id,
                     len({_TOKS}) AS n_tokens,
                     length(text) AS n_chars_text,
                     len(list_filter({_TOKS},
                        x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS stop_hits
              FROM documents
            )
            SELECT doc_id, n_tokens, n_chars_text,
                   CAST(floor((n_chars_text - (n_tokens - 1)) / n_tokens * 1e6) AS BIGINT) AS mean_token_len_micro,
                   CAST(floor(stop_hits / n_tokens * 1e6) AS BIGINT) AS stopword_ratio_micro,
                   CAST(floor(CASE WHEN n_tokens < 5 THEN 0.0
                        ELSE least(1.0, n_tokens / 100.0) * (1.0 - stop_hits / n_tokens)
                        END * 1e6) AS BIGINT) AS quality_micro
            FROM t
        """,
        "doc_fingerprints": f"""
            SELECT doc_id, md5(text) AS content_hash,
                   md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS bow_fingerprint
            FROM documents
        """,
        "dedup_exact": """
            SELECT md5(text) AS content_hash,
                   min(doc_id) AS survivor_doc_id,
                   count(*) AS n_dups
            FROM documents GROUP BY md5(text)
        """,
        "dedup_minhash_signatures": _MINHASH_CTE + """
            SELECT doc_id, CAST(seed AS INT) AS seed, mh FROM mh
        """,
        "dedup_lsh_pairs": _BANDS_CTE + """
            SELECT doc_a, doc_b FROM cand
        """,
        "dedup_ngram_jaccard": _BANDS_CTE + """
            , shd AS MATERIALIZED (
              SELECT doc_id, list_distinct(shingles) AS sh FROM sh
            )
            SELECT c.doc_a, c.doc_b,
                   CAST(floor(
                     len(list_intersect(a.sh, b.sh))
                     / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
                     * 1e6) AS BIGINT) AS jaccard_micro
            FROM cand c
            JOIN shd a ON a.doc_id = c.doc_a
            JOIN shd b ON b.doc_id = c.doc_b
        """,
        "dedup_simhash": f"""
            WITH tok AS (
              SELECT doc_id, md5(t) AS h, count(*) AS cnt
              FROM documents, unnest({_TOKS}) AS u(t)
              GROUP BY doc_id, md5(t)
            ),
            votes AS (
              SELECT doc_id, b.bt,
                     sum(CASE WHEN CAST(FLOOR(
                       (strpos('0123456789abcdef', substr(h, CAST(FLOOR(b.bt/4) AS INT)+1, 1)) - 1)
                       / CAST(POW(2, 3 - b.bt % 4) AS INT)) AS INT) % 2 = 1
                       THEN cnt ELSE -cnt END) AS v
              FROM tok, range(0, 64) AS b(bt)
              GROUP BY doc_id, b.bt
            )
            SELECT doc_id,
                   string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY bt) AS simhash_bits
            FROM votes GROUP BY doc_id
        """,
        "sim_cosine_topk": """
            WITH pairs AS (
              SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
                     round(
                       list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(q.embedding AS DOUBLE[]), CAST(q.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(c.embedding AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])))),
                       6) AS cosine
              FROM embeddings q, embeddings c
              WHERE q.vec_id < 8 AND q.vec_id != c.vec_id
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                        PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
              FROM pairs
            )
            SELECT query_id, rank, nbr_id, cosine FROM ranked WHERE rank <= 5
        """,
        "sim_near_dup_pairs": """
            SELECT * FROM (
              SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                     round(
                       list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))),
                       6) AS cosine
              FROM embeddings a, embeddings b
              WHERE a.vec_id % 10 = 0 AND b.vec_id % 10 = 0 AND a.vec_id < b.vec_id
            ) WHERE cosine >= 0.5
        """,
        # CPG queries: graph construction from JS is not SQL-expressible, so
        # the oracle is a checked-in fixture computed by the PURE-PYTHON
        # engine locally (tools/gen_cpg_fixtures.py) — it verifies the
        # DISTRIBUTED orchestration reproduces the local engine, which is
        # itself golden-verified against the reference's test suites.
        "cpg_node_stats": """
            SELECT label, CAST(n_nodes AS BIGINT) AS n_nodes
            FROM read_csv_auto('/root/repo/fixtures/cpg_node_stats_sf001.csv', header=true)
        """,
        "cpg_build_flows": """
            SELECT query_name, CAST(n_docs_flagged AS BIGINT) AS n_docs_flagged,
                   CAST(n_matches AS BIGINT) AS n_matches
            FROM read_csv_auto('/root/repo/fixtures/cpg_build_flows_sf001.csv', header=true)
        """,
        "cpg_scan_throughput": """
            SELECT query_name, CAST(n_docs_flagged AS BIGINT) AS n_docs_flagged,
                   CAST(n_matches AS BIGINT) AS n_matches
            FROM read_csv_auto('/root/repo/fixtures/cpg_scan_throughput.csv', header=true)
        """,
        "cpg_web_taint": """
            SELECT query_name, CAST(n_docs_flagged AS BIGINT) AS n_docs_flagged,
                   CAST(n_matches AS BIGINT) AS n_matches
            FROM read_csv_auto('/root/repo/fixtures/cpg_web_taint.csv', header=true)
        """,
        "cpg_cross_page_flows": """
            SELECT domain, func_name,
                   CAST(n_source_pages AS BIGINT) AS n_source_pages,
                   CAST(n_sink_pages AS BIGINT) AS n_sink_pages,
                   CAST(n_cross_flows AS BIGINT) AS n_cross_flows
            FROM read_csv_auto('/root/repo/fixtures/cpg_cross_page_flows.csv', header=true)
        """,
        # Transitive cross-page closure: the fixture holds per-page SUMMARY
        # rows (def/call/wrap, recomputed by the pure-Python engine) and
        # DuckDB computes the closure itself with a recursive CTE — an
        # independent implementation of the iterative-join BFS.
        "cpg_cross_page_flows_transitive": """
            WITH RECURSIVE s AS (
                SELECT * FROM read_csv_auto(
                    '/root/repo/fixtures/cpg_chain_summaries.csv',
                    header=true,
                    columns={'domain':'VARCHAR','url':'VARCHAR',
                             'kind':'VARCHAR','func_name':'VARCHAR',
                             'callee_name':'VARCHAR','tainted':'BOOLEAN'})
            ),
            tainted_fn(domain, name, origin) AS (
                SELECT domain, func_name, func_name
                FROM s WHERE kind = 'def' AND tainted
                UNION
                SELECT w.domain, w.func_name, t.origin
                FROM s w
                JOIN tainted_fn t
                  ON w.domain = t.domain AND w.callee_name = t.name
                WHERE w.kind = 'wrap' AND w.tainted
            )
            SELECT DISTINCT c.domain AS domain, t.origin AS origin_func,
                   c.func_name AS called_func
            FROM s c
            JOIN tainted_fn t
              ON c.domain = t.domain AND c.func_name = t.name
            WHERE c.kind = 'call' AND c.tainted
        """,
        "cpg_reachable_pairs": """
            SELECT url, CAST(n_pairs AS BIGINT) AS n_pairs
            FROM read_csv_auto('/root/repo/fixtures/cpg_reachable_pairs_sf001.csv', header=true)
        """,
        # Full ANN-LSH oracle: the plane pattern is pure integer arithmetic
        # (similarity._plane_matrix — sign = +1 iff
        # ((i*2654435761 + (42+1000*t+p)*40503) mod 97) < 48), so the whole
        # pipeline (8 tables × 4 planes, Hamming-1 query multiprobe,
        # candidate-only exact cosine, top-5) is SQL-expressible.  Sign
        # margins were measured ≥1.4e-5 across all SFs, so numpy-matmul vs
        # sequential list_dot_product summation order cannot flip a bit.
        "sim_ann_lsh": """
            WITH plane AS (
              SELECT t, p, list_transform(range(64), i ->
                       CASE WHEN ((i*2654435761 + (42 + 1000*t + p)*40503) % 97) < 48
                            THEN 1.0 ELSE -1.0 END) AS w
              FROM range(8) r1(t), range(4) r2(p)
            ),
            buckets AS (
              SELECT e.vec_id,
                     pl.t,
                     CAST(sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), pl.w) > 0
                                   THEN 1 << pl.p ELSE 0 END) AS BIGINT) AS bucket
              FROM embeddings e, plane pl
              GROUP BY e.vec_id, pl.t
            ),
            qbuckets AS (
              SELECT b.vec_id, b.t, xor(b.bucket, f.fl) AS bucket
              FROM buckets b, (VALUES (0),(1),(2),(4),(8)) f(fl)
              WHERE b.vec_id < 8
            ),
            cand AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
              FROM qbuckets q JOIN buckets c ON q.t = c.t AND q.bucket = c.bucket
              WHERE q.vec_id != c.vec_id
            ),
            scored AS (
              SELECT cand.query_id, cand.nbr_id,
                     round(
                       list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(ce.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])))),
                       6) AS cosine
              FROM cand
              JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.nbr_id
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                        PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, rank, nbr_id, cosine FROM ranked WHERE rank <= 5
        """,
        # IVF-flat oracle: the coarse quantizer is the first 16 corpus
        # vectors; cell assignment = argmax of the 6dp-rounded cosine
        # (ties by centroid id) — the rounding makes the argmax identical
        # between numpy's cumsum fold and list_dot_product.  Queries probe
        # their 4 nearest cells; exact cosine on candidates only.
        "sim_ann_ivf": """
            WITH cent0 AS (
              SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cw
              FROM embeddings WHERE vec_id < 16
            ),
            -- two Lloyd steps: assign to the codebook, then recompute
            -- each cell's centroid as the exact-integer fixed-point mean
            -- (sum of floor(x * 2^20) is order-free, so this reproduces
            -- the Spark-trained codebook bit-for-bit), twice
            cosr0 AS (
              SELECT e.vec_id, c.cid,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cw)
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(e.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(c.cw, c.cw))), 6) AS cr
              FROM embeddings e, cent0 c
            ),
            cells0 AS (
              SELECT vec_id, cid AS cell FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cr DESC, cid ASC) AS rn
                FROM cosr0) WHERE rn = 1
            ),
            comp0 AS (
              SELECT c0.cell AS cid, t.i AS i,
                     SUM(CAST(FLOOR(list_extract(
                           CAST(e.embedding AS DOUBLE[]), t.i)
                           * 1048576) AS BIGINT)) AS isum,
                     COUNT(*) AS cnt
              FROM cells0 c0
              JOIN embeddings e ON e.vec_id = c0.vec_id,
                   range(1, 65) t(i)
              GROUP BY c0.cell, t.i
            ),
            cent1 AS (
              SELECT cid,
                     list(CAST(isum AS DOUBLE) / (cnt * 1048576.0)
                          ORDER BY i) AS cw
              FROM comp0 GROUP BY cid
            ),
            cosr1 AS (
              SELECT e.vec_id, c.cid,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cw)
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(e.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(c.cw, c.cw))), 6) AS cr
              FROM embeddings e, cent1 c
            ),
            cells1 AS (
              SELECT vec_id, cid AS cell FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY cr DESC, cid ASC) AS rn
                FROM cosr1) WHERE rn = 1
            ),
            comp1 AS (
              SELECT c1.cell AS cid, t.i AS i,
                     SUM(CAST(FLOOR(list_extract(
                           CAST(e.embedding AS DOUBLE[]), t.i)
                           * 1048576) AS BIGINT)) AS isum,
                     COUNT(*) AS cnt
              FROM cells1 c1
              JOIN embeddings e ON e.vec_id = c1.vec_id,
                   range(1, 65) t(i)
              GROUP BY c1.cell, t.i
            ),
            cent AS (
              SELECT cid,
                     list(CAST(isum AS DOUBLE) / (cnt * 1048576.0)
                          ORDER BY i) AS cw
              FROM comp1 GROUP BY cid
            ),
            cosr AS (
              SELECT e.vec_id, c.cid,
                     round(list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cw)
                           / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                                    CAST(e.embedding AS DOUBLE[])))
                            * sqrt(list_dot_product(c.cw, c.cw))), 6) AS cr
              FROM embeddings e, cent c
            ),
            ranked_cells AS (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY cr DESC, cid ASC) AS rn
              FROM cosr
            ),
            cells AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1),
            qcells AS (SELECT vec_id, cid AS cell FROM ranked_cells
                       WHERE rn <= 4 AND vec_id < 8),
            cand AS (
              SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nbr_id
              FROM qcells q JOIN cells c ON q.cell = c.cell
              WHERE q.vec_id != c.vec_id
            ),
            scored AS (
              SELECT cand.query_id, cand.nbr_id,
                     round(
                       list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))
                       / (sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(ce.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[])))),
                       6) AS cosine
              FROM cand
              JOIN embeddings qe ON qe.vec_id = cand.query_id
              JOIN embeddings ce ON ce.vec_id = cand.nbr_id
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                        PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC) AS rank
              FROM scored
            )
            SELECT query_id, rank, nbr_id, cosine FROM ranked WHERE rank <= 5
        """,
        # Connected components over the SAME banding pipeline: DuckDB
        # closes the pairs transitively with a recursive CTE (independent
        # of the Spark side's min-label-propagation loop); cluster id =
        # min doc_id of the component.
        "dedup_clusters": _BANDS_CTE.replace(
            "\nWITH tok AS", "\nWITH RECURSIVE tok AS") + """
            , edges AS (
              SELECT doc_a AS a, doc_b AS b FROM cand
              UNION
              SELECT doc_b, doc_a FROM cand
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            )
            SELECT a AS doc_id, least(a, min(b)) AS cluster_id
            FROM reach GROUP BY a
        """,
        # The composite cleaning pipeline: same banding+closure CTEs as
        # dedup_clusters, a window-min for the exact stage, and the
        # doc_quality / doc_lang_id integer formulas — DuckDB recomputes
        # the survivor set end-to-end.
        "corpus_clean": _BANDS_CTE.replace(
            "\nWITH tok AS", "\nWITH RECURSIVE tok AS") + f"""
            , edges AS (
              SELECT doc_a AS a, doc_b AS b FROM cand
              UNION
              SELECT doc_b, doc_a FROM cand
            ),
            reach(a, b) AS (
              SELECT a, b FROM edges
              UNION
              SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
            ),
            clus AS (
              SELECT a AS doc_id, least(a, min(b)) AS cluster_id
              FROM reach GROUP BY a
            ),
            feat AS (
              SELECT doc_id,
                     len({_TOKS}) AS n_tokens,
                     len(list_filter({_TOKS},
                        x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS stop_hits,
                     len(list_intersect({_TOKS}, ['the','a','of','and','to','in','is','it'])) AS en_hits,
                     len(list_intersect({_TOKS}, ['el','la','de','que','y','en','un','es'])) AS es_hits,
                     len(list_intersect({_TOKS}, ['der','die','das','und','zu','ist','ein','nicht'])) AS de_hits,
                     min(doc_id) OVER (PARTITION BY md5(text)) AS exact_keep
              FROM documents
            ),
            scored AS (
              SELECT doc_id, n_tokens, exact_keep,
                     CAST(floor(CASE WHEN n_tokens < 5 THEN 0.0
                          ELSE least(1.0, n_tokens / 100.0) * (1.0 - stop_hits / n_tokens)
                          END * 1e6) AS BIGINT) AS quality_micro,
                     CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                          WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                          WHEN de_hits > 0 THEN 'de'
                          ELSE 'unknown' END AS pred_lang
              FROM feat
            )
            SELECT s.doc_id, s.pred_lang, s.n_tokens, s.quality_micro
            FROM scored s
            WHERE s.pred_lang = 'en'
              AND s.quality_micro >= 200000
              AND s.n_tokens BETWEEN 15 AND 95
              AND s.doc_id = s.exact_keep
              AND NOT EXISTS (SELECT 1 FROM clus c
                              WHERE c.doc_id = s.doc_id
                                AND c.cluster_id != c.doc_id)
        """,
        "corpus_stats": f"""
            WITH t AS (
              SELECT len({_TOKS}) AS n_tokens,
                     CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est,
                     len(list_filter({_TOKS},
                        x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS stop_hits,
                     len(list_intersect({_TOKS}, ['the','a','of','and','to','in','is','it'])) AS en_hits,
                     len(list_intersect({_TOKS}, ['el','la','de','que','y','en','un','es'])) AS es_hits,
                     len(list_intersect({_TOKS}, ['der','die','das','und','zu','ist','ein','nicht'])) AS de_hits
              FROM documents
            ),
            s AS (
              SELECT CASE WHEN en_hits >= es_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                          WHEN es_hits >= de_hits AND es_hits > 0 THEN 'es'
                          WHEN de_hits > 0 THEN 'de'
                          ELSE 'unknown' END AS pred_lang,
                     CAST(floor(
                       CAST(floor(CASE WHEN n_tokens < 5 THEN 0.0
                            ELSE least(1.0, n_tokens / 100.0) * (1.0 - stop_hits / n_tokens)
                            END * 1e6) AS BIGINT) / 100000.0) AS BIGINT) AS quality_decile,
                     n_tokens, n_subword_est
              FROM t
            )
            SELECT pred_lang, quality_decile,
                   count(*) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                   CAST(sum(n_subword_est) AS BIGINT) AS total_subword_est
            FROM s GROUP BY pred_lang, quality_decile
        """,
        # media_features oracle: the synthetic blobs carry REAL format
        # headers whose fields are pure arithmetic on media_id
        # (multimodal._png_blob/_wav_blob/_mp4_blob); the Spark side must
        # PARSE them back from the bytes.  n_bytes = header + 16·(1+id%7)
        # payload (WAV hdr 44, MP4 boxes 132; PNG is now a FULL valid image:
        # 8 sig + 25 IHDR + 12+idat + 12 IEND with idat = 11 + h*(1+3w)
        # zlib stored bytes → n_bytes = 68 + h*(1+3w)).  The pixel stats
        # are recomputed from the generator's closed-form gradient
        # (multimodal.png_pixel_value: (x*3 + y*7 + c*11 + id) % 256) —
        # fully independent of the Spark side's inflate+unfilter decode.
        "media_features": """
            WITH m AS (SELECT range AS media_id FROM range(64)),
            png AS (
              SELECT media_id,
                     16 + (media_id % 32) * 4 AS w,
                     16 + ((media_id * 7) % 32) * 4 AS h
              FROM m WHERE media_id % 3 = 0
            ),
            pix AS (
              -- range() cannot lateral-reference w/h in DuckDB: generate
              -- the max extent (140) and filter per-image
              SELECT png.media_id, c.c AS chan,
                     (x.x * 3 + y.y * 7 + c.c * 11 + png.media_id) % 256 AS v
              FROM png, range(0, 3) c(c), range(0, 140) x(x), range(0, 140) y(y)
              WHERE x.x < png.w AND y.y < png.h
            ),
            chan_mean AS (
              SELECT media_id, chan,
                     CAST(sum(v) AS DOUBLE) / count(*) AS mv
              FROM pix GROUP BY media_id, chan
            ),
            vcount AS (
              SELECT media_id, v, count(*) AS cnt
              FROM pix GROUP BY media_id, v
            ),
            ent AS (
              SELECT vc.media_id,
                     round(-sum((CAST(cnt AS DOUBLE) / (3.0 * w * h))
                                * log2(CAST(cnt AS DOUBLE) / (3.0 * w * h))),
                           6) AS e
              FROM vcount vc JOIN png ON vc.media_id = png.media_id
              GROUP BY vc.media_id, w, h
            ),
            -- WAV payload = md5(str(id)) raw bytes x (1 + id%7); data chunk
            -- reinterpreted as little-endian int16 (the generator's exact
            -- construction, rebuilt from DuckDB's own md5)
            wav AS (
              SELECT media_id, 8 * (1 + media_id % 7) AS n_samples,
                     md5(CAST(media_id AS VARCHAR)) AS hex
              FROM m WHERE media_id % 3 = 1
            ),
            wsamp AS (
              SELECT media_id, k,
                     CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
              FROM (
                SELECT w.media_id, k.k AS k,
                       ('0x' || substr(w.hex, ((2*k.k) % 16)*2 + 1, 2))::INT
                       + 256 * ('0x' || substr(w.hex, ((2*k.k+1) % 16)*2 + 1, 2))::INT AS u
                FROM wav w, range(0, 56) k(k)
                WHERE k.k < w.n_samples
              )
            ),
            wrms AS (
              SELECT media_id,
                     sqrt(CAST(sum(s*s) AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS rms
              FROM wsamp GROUP BY media_id
            ),
            wzc AS (
              SELECT media_id,
                     CAST(sum(CASE WHEN prev_s IS NOT NULL
                                    AND ((s < 0) != (prev_s < 0))
                              THEN 1 ELSE 0 END) AS BIGINT) AS zc
              FROM (SELECT media_id, s,
                           lag(s) OVER (PARTITION BY media_id ORDER BY k) AS prev_s
                    FROM wsamp)
              GROUP BY media_id
            ),
            -- MP4 mdat payload = md5(str(id)) raw bytes x (1 + id%7);
            -- byte mean (exact int sum / count) + byte entropy, rebuilt
            -- from DuckDB's own md5 like the WAV samples
            mp4 AS (
              SELECT media_id, 16 * (1 + media_id % 7) AS n_pay,
                     md5(CAST(media_id AS VARCHAR)) AS hex
              FROM m WHERE media_id % 3 = 2
            ),
            mbyte AS (
              SELECT mp4.media_id, j.j AS j,
                     ('0x' || substr(mp4.hex, (j.j % 16)*2 + 1, 2))::INT AS b
              FROM mp4, range(0, 112) j(j)
              WHERE j.j < mp4.n_pay
            ),
            mmean AS (
              SELECT media_id, CAST(sum(b) AS DOUBLE) / count(*) AS bm,
                     count(*) AS n
              FROM mbyte GROUP BY media_id
            ),
            mcnt AS (
              SELECT media_id, b, count(*) AS cnt
              FROM mbyte GROUP BY media_id, b
            ),
            ment AS (
              SELECT mc.media_id,
                     round(-sum((CAST(cnt AS DOUBLE) / n)
                                * log2(CAST(cnt AS DOUBLE) / n)), 6) AS me
              FROM mcnt mc JOIN mmean ON mc.media_id = mmean.media_id
              GROUP BY mc.media_id, n
            ),
            -- paletted edge PNGs (id % 8 = 0): decoded through the
            -- 64-entry closed-form palette — channel c of pixel (x,y)
            -- is (((x*3 + y*7 + id) % 64) * 5 + c*11 + id) % 256
            epng AS (
              SELECT media_id,
                     16 + (media_id % 32) * 4 AS w,
                     16 + ((media_id * 7) % 32) * 4 AS h
              FROM (SELECT range AS media_id FROM range(64, 80))
              WHERE media_id % 8 = 0
            ),
            eppix AS (
              SELECT epng.media_id, c.c AS chan,
                     (((x.x * 3 + y.y * 7 + epng.media_id) % 64) * 5
                      + c.c * 11 + epng.media_id) % 256 AS v
              FROM epng, range(0, 3) c(c), range(0, 140) x(x),
                   range(0, 140) y(y)
              WHERE x.x < epng.w AND y.y < epng.h
            ),
            ep_mean AS (
              SELECT media_id, chan,
                     CAST(sum(v) AS DOUBLE) / count(*) AS mv
              FROM eppix GROUP BY media_id, chan
            ),
            ep_vcount AS (
              SELECT media_id, v, count(*) AS cnt
              FROM eppix GROUP BY media_id, v
            ),
            ep_ent AS (
              SELECT vc.media_id,
                     round(-sum((CAST(cnt AS DOUBLE) / (3.0 * w * h))
                                * log2(CAST(cnt AS DOUBLE) / (3.0 * w * h))),
                           6) AS e
              FROM ep_vcount vc JOIN epng ON vc.media_id = epng.media_id
              GROUP BY vc.media_id, w, h
            ),
            -- 8-bit edge WAVs (id % 8 = 1): one unsigned sample per
            -- payload byte, midpoint 128 → s = byte - 128, rebuilt from
            -- DuckDB's own md5 like the 16-bit samples
            ewav AS (
              SELECT media_id, 16 * (1 + media_id % 7) AS n_samples,
                     md5(CAST(media_id AS VARCHAR)) AS hex
              FROM (SELECT range AS media_id FROM range(64, 80))
              WHERE media_id % 8 = 1
            ),
            ewsamp AS (
              SELECT w.media_id, k.k AS k,
                     ('0x' || substr(w.hex, (k.k % 16)*2 + 1, 2))::INT
                     - 128 AS s
              FROM ewav w, range(0, 112) k(k)
              WHERE k.k < w.n_samples
            ),
            ewrms AS (
              SELECT media_id,
                     sqrt(CAST(sum(s*s) AS DOUBLE)
                          / CAST(count(*) AS DOUBLE)) AS rms
              FROM ewsamp GROUP BY media_id
            ),
            ewzc AS (
              SELECT media_id,
                     CAST(sum(CASE WHEN prev_s IS NOT NULL
                                    AND ((s < 0) != (prev_s < 0))
                              THEN 1 ELSE 0 END) AS BIGINT) AS zc
              FROM (SELECT media_id, s,
                           lag(s) OVER (PARTITION BY media_id ORDER BY k)
                             AS prev_s
                    FROM ewsamp)
              GROUP BY media_id
            )
            SELECT m.media_id,
                   CASE m.media_id % 3 WHEN 0 THEN 'image/png'
                                       WHEN 1 THEN 'audio/wav'
                                       ELSE 'video/mp4' END AS media_type,
                   CAST(CASE m.media_id % 3
                          WHEN 0 THEN 68 + png.h * (1 + 3 * png.w)
                          WHEN 1 THEN 44 + 16*(1 + m.media_id % 7)
                          ELSE 132 + 16*(1 + m.media_id % 7) END AS BIGINT) AS n_bytes,
                   CAST(CASE m.media_id % 3
                          WHEN 0 THEN png.w
                          WHEN 2 THEN 320 + (m.media_id % 8) * 16 END AS INT) AS width,
                   CAST(CASE m.media_id % 3
                          WHEN 0 THEN png.h
                          WHEN 2 THEN 240 + ((m.media_id * 3) % 8) * 16 END AS INT) AS height,
                   CAST(CASE m.media_id % 3
                          WHEN 1 THEN 1 + m.media_id % 2 END AS INT) AS n_channels,
                   CAST(CASE m.media_id % 3
                          WHEN 1 THEN 8000 * (1 + m.media_id % 5) END AS INT) AS sample_rate,
                   r.mv AS mean_r, g.mv AS mean_g, b.mv AS mean_b,
                   ent.e AS pixel_entropy,
                   wrms.rms AS wav_rms, wzc.zc AS wav_zero_crossings,
                   CAST(CASE m.media_id % 3
                          WHEN 2 THEN 16 * (1 + m.media_id % 7)
                        END AS BIGINT) AS mp4_mdat_bytes,
                   mmean.bm AS mp4_byte_mean, ment.me AS mp4_byte_entropy,
                   'ok' AS decode_status
            FROM m
            LEFT JOIN png ON m.media_id = png.media_id
            LEFT JOIN chan_mean r ON m.media_id = r.media_id AND r.chan = 0
            LEFT JOIN chan_mean g ON m.media_id = g.media_id AND g.chan = 1
            LEFT JOIN chan_mean b ON m.media_id = b.media_id AND b.chan = 2
            LEFT JOIN ent ON m.media_id = ent.media_id
            LEFT JOIN wrms ON m.media_id = wrms.media_id
            LEFT JOIN wzc ON m.media_id = wzc.media_id
            LEFT JOIN mmean ON m.media_id = mmean.media_id
            LEFT JOIN ment ON m.media_id = ment.media_id
            UNION ALL
            -- edge blobs (ids 64-79, cycling media_id % 8): paletted
            -- PNG (0) and 8-bit WAV (1) fully DECODE — their stats come
            -- from the ep_*/ew* CTEs above; the remaining classes each
            -- exercise one specific non-ok status while header fields
            -- that still parse stay populated
            SELECT e.media_id,
                   CASE e.media_id % 8
                     WHEN 0 THEN 'image/png'
                     WHEN 1 THEN 'audio/wav'
                     WHEN 2 THEN 'video/mp4'
                     WHEN 3 THEN 'application/octet-stream'
                     WHEN 4 THEN 'image/png'
                     WHEN 5 THEN 'audio/wav'
                     WHEN 6 THEN 'audio/wav'
                     ELSE 'video/mp4'
                   END AS media_type,
                   CAST(CASE e.media_id % 8
                          WHEN 0 THEN 272 + (16 + ((e.media_id * 7) % 32) * 4)
                                       * (1 + 16 + (e.media_id % 32) * 4)
                          WHEN 1 THEN 44 + 16*(1 + e.media_id % 7)
                          WHEN 2 THEN 124
                          WHEN 3 THEN 22
                          WHEN 4 THEN 33
                          WHEN 5 THEN 44 + 16*(1 + e.media_id % 7)
                          WHEN 6 THEN 44 + 16*(1 + e.media_id % 7)
                          ELSE 128 + 16*(1 + e.media_id % 7)
                        END AS BIGINT) AS n_bytes,
                   CAST(CASE
                          WHEN e.media_id % 8 IN (0, 4)
                            THEN 16 + (e.media_id % 32) * 4
                          WHEN e.media_id % 8 IN (2, 7)
                            THEN 320 + (e.media_id % 8) * 16
                        END AS INT) AS width,
                   CAST(CASE
                          WHEN e.media_id % 8 IN (0, 4)
                            THEN 16 + ((e.media_id * 7) % 32) * 4
                          WHEN e.media_id % 8 IN (2, 7)
                            THEN 240 + ((e.media_id * 3) % 8) * 16
                        END AS INT) AS height,
                   CAST(CASE WHEN e.media_id % 8 IN (1, 5, 6)
                          THEN 1 + e.media_id % 2 END AS INT) AS n_channels,
                   CAST(CASE WHEN e.media_id % 8 IN (1, 5, 6)
                          THEN 8000 * (1 + e.media_id % 5)
                        END AS INT) AS sample_rate,
                   er.mv AS mean_r, eg.mv AS mean_g, eb.mv AS mean_b,
                   ep_ent.e AS pixel_entropy,
                   ewrms.rms AS wav_rms, ewzc.zc AS wav_zero_crossings,
                   CAST(NULL AS BIGINT) AS mp4_mdat_bytes,
                   NULL AS mp4_byte_mean, NULL AS mp4_byte_entropy,
                   CASE e.media_id % 8
                     WHEN 0 THEN 'ok'
                     WHEN 1 THEN 'ok'
                     WHEN 2 THEN 'mp4_no_mdat'
                     WHEN 3 THEN 'unknown_format'
                     WHEN 4 THEN 'png_unsupported_mode'
                     WHEN 5 THEN 'wav_unsupported_codec'
                     WHEN 6 THEN 'wav_unsupported_bits'
                     ELSE 'mp4_malformed'
                   END AS decode_status
            FROM (SELECT range AS media_id FROM range(64, 80)) e
            LEFT JOIN ep_mean er ON e.media_id = er.media_id AND er.chan = 0
            LEFT JOIN ep_mean eg ON e.media_id = eg.media_id AND eg.chan = 1
            LEFT JOIN ep_mean eb ON e.media_id = eb.media_id AND eb.chan = 2
            LEFT JOIN ep_ent ON e.media_id = ep_ent.media_id
            LEFT JOIN ewrms ON e.media_id = ewrms.media_id
            LEFT JOIN ewzc ON e.media_id = ewzc.media_id
        """,
    }
    # the sharing seam returns the identical survivor set by construction;
    # gating it on the SAME oracle is the point (clusters precomputed vs
    # recomputed must be indistinguishable to a consumer)
    sqls["corpus_clean_shared"] = sqls["corpus_clean"]
    return sqls
