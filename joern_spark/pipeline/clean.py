"""End-to-end corpus cleaning — the composite pipeline a training-data
build actually runs over a web crawl, assembled from the individually
oracle-checked stages in `text.py` / `dedup.py`:

    language filter → quality floor → token-count band
        → exact dedup (keep min doc_id per content hash)
        → near-dup collapse (keep min doc_id per LSH component)

Design notes (100 TB scale):
- The per-document features (tokens, quality, language, content hash)
  are folded into ONE projection over the scan — no doc_id self-joins
  between the feature frames (pure column expressions, whole-stage
  codegen, zero exchanges).
- Exact dedup is a single hash-partitioned window (`min(doc_id) OVER
  (PARTITION BY content_hash)`): one narrow (hash → min) shuffle of
  (hash, id) pairs, never the text.
- Near-dup collapse reuses `connected_dup_clusters` (distributed CC
  rounds while the residual graph is large, a driver union-find for the
  rest, over the banded LSH pairs); the dropped set is |docs-in-any-pair|
  sized and joins back by doc_id as a plain equi-join (anti), which AQE
  broadcasts whenever the duplicate rate is low — the common case.
- Dedup runs on the FULL corpus, filters on the survivors ("dedup
  before filter", the usual crawl-pipeline order): the representative
  of a duplicate family is chosen globally (min doc_id), so a family
  whose representative fails the quality gate is dropped entirely —
  deterministic, and exactly what the oracle recomputes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from joern_spark.pipeline import dedup, text
from joern_spark.sparkutil import persist_result, spread


def corpus_clean(
    docs: DataFrame,
    lang: str = "en",
    quality_floor: int = 200_000,
    min_tokens: int = 15,
    max_tokens: int = 95,
    text_col: str = "text",
    clusters: DataFrame | None = None,
) -> DataFrame:
    """Return the cleaned corpus: (doc_id, pred_lang, n_tokens,
    quality_micro) for every surviving document.

    A document survives iff it passes the language/quality/length gates
    AND is the min-doc_id representative of both its exact-hash group
    and its near-dup connected component.  All thresholds are integer
    comparisons (micro-unit quality), so the survivor set is
    engine-portable bit-for-bit.

    `clusters` optionally supplies a precomputed (doc_id, cluster_id)
    frame (the `connected_dup_clusters` output shape).  At 100 TB the
    minhash→LSH→CC chain is the dominant cost of this pipeline and a
    real corpus build computes it ONCE and feeds it to every consumer;
    with `clusters` given, corpus_clean costs one projection + a window
    + an anti-join, and the caller keeps ownership of the frame (it is
    not unpersisted here).  Default (None) recomputes the chain
    end-to-end, matching the oracle.
    """
    docs = spread(docs, by="doc_id")
    toks = text.tokens(F.col(text_col))
    feats = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        text.quality_micro_col(text_col).alias("quality_micro"),
        text.pred_lang_col(text_col).alias("pred_lang"),
        F.md5(F.col(text_col)).alias("content_hash"),
    )
    exact_min = F.min("doc_id").over(Window.partitionBy("content_hash"))
    feats = feats.withColumn("exact_keep", exact_min)

    own_clusters = clusters is None
    if own_clusters:
        pairs = dedup.lsh_candidate_pairs(
            dedup.minhash_signature(docs, text_col))
        clusters = dedup.connected_dup_clusters(pairs)  # persisted, ours
        pairs.unpersist(blocking=False)
    near_dropped = (clusters.where(F.col("doc_id") != F.col("cluster_id"))
                    .select("doc_id"))

    kept = (
        feats.where(
            (F.col("pred_lang") == lang)
            & (F.col("quality_micro") >= quality_floor)
            & F.col("n_tokens").between(min_tokens, max_tokens)
            & (F.col("doc_id") == F.col("exact_keep"))
        )
        .join(near_dropped, "doc_id", "left_anti")
        .select("doc_id", "pred_lang", "n_tokens", "quality_micro")
    )
    # When we built the clusters ourselves, connected_dup_clusters hands
    # back a persisted frame — materialize the survivor set, then
    # release that upstream cache so repeated calls hold ONE cached
    # frame.  A caller-supplied `clusters` frame stays caller-owned.
    out = persist_result(kept)
    if own_clusters:
        clusters.unpersist(blocking=False)
    return out


def corpus_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus composition rollup: documents / whitespace tokens /
    subword-estimate totals per (predicted language, quality decile).

    One projection + one partial-aggregated groupBy on a ~40-value key —
    the reporting query a corpus build runs after `corpus_clean` (here
    over the raw corpus so the rollup is an independent operator, not a
    derivative of the clean output).
    """
    feats = spread(docs, by="doc_id").select(
        text.pred_lang_col(text_col).alias("pred_lang"),
        F.floor(text.quality_micro_col(text_col) / F.lit(100000.0))
        .cast("long").alias("quality_decile"),
        F.size(text.tokens(F.col(text_col))).alias("n_tokens"),
        F.ceil(F.length(F.col(text_col)) / F.lit(4)).cast("long")
        .alias("n_subword_est"),
    )
    return feats.groupBy("pred_lang", "quality_decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.sum("n_subword_est").cast("long").alias("total_subword_est"),
    )
