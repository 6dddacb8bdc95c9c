"""Deduplication operators over `documents`:

- exact dedup        : hash-groupBy on md5(text) — one shuffle, map-side
                       partial aggregation for free.
- MinHash signatures : shingle → 16 seeded md5 minima, all JVM-side
                       (`transform` over a seed array + `array_min`), no
                       Python and no shuffle.
- LSH candidates     : band the signature (4 bands × 4 rows), hash each
                       band, self-join on (band_idx, band_hash).  At scale
                       the join key space is uniform md5 output → no skew;
                       band table is `explode`d so the shuffle carries
                       (doc_id, band) pairs only, never the text.
- SimHash            : 64-bit sign-of-weighted-bits over token hashes,
                       computed via explode + groupBy(bit) — two narrow
                       shuffles of integer rows.
- n-gram Jaccard     : exact verification on LSH candidate pairs only
                       (never all-pairs).
- embedding near-dup : cosine > threshold on LSH-candidate or brute pairs
                       (see similarity.py).

Everything uses lexicographic-min over md5 hex strings as the hash order,
which is engine-portable (identical in DuckDB for the oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE = 3


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: md5(text) → (hash, survivor doc_id, count).

    Map-side combine makes this a single narrow shuffle of (hash, id) pairs.
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


# (a column-level `shingles()` helper used to live here; it re-tokenized
# the text once per array element — a per-row O(k·n) trap.  Use `shingled`,
# which stages tokenization as its own projection.)


def shingled(df: DataFrame, text_col: str = "text", k: int = SHINGLE) -> DataFrame:
    """(doc_id, sh array<string>) with tokenization staged so each step is
    computed once per row: text → toks → shingles."""
    t = df.select("doc_id", F.split(F.trim(F.col(text_col)), r"\s+").alias("toks"),
                  F.trim(F.col(text_col)).alias("_t"))
    make = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("toks") - F.lit(k), F.lit(0))),
        lambda i: F.concat_ws(" ", *[F.element_at(F.col("toks"), (i + j + 1).cast("int")) for j in range(k)]),
    )
    return t.select(
        "doc_id",
        F.when(F.size("toks") >= k, make).otherwise(F.array(F.substring("_t", 1, 1000))).alias("sh"),
    )


MINHASH_PRIME = 2147483647  # 2^31-1; double-hashing modulus


def _py_shingles(text: str, k: int = SHINGLE) -> list[str]:
    """Python twin of `shingled` (identical output: split(trim, \\s+),
    k-token windows, <k-token fallback to the first 1000 chars)."""
    import re

    # `trim` in both engines strips ASCII space ONLY, and the engines'
    # regex \s is ASCII ([\t\n\f\r ]) — Python's unicode-aware strip()/\s
    # would diverge on tabs/newlines at the edges (oracle keeps an empty
    # leading token) and on NBSP/unicode whitespace.
    t = text.strip(" ") if text is not None else ""
    toks = re.split(r"[\t\n\f\r ]+", t) if t != "" else [""]
    if len(toks) < k:
        return [t[:1000]]
    return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]


def minhash_signature(df: DataFrame, text_col: str = "text", n_hashes: int = N_HASHES) -> DataFrame:
    """MinHash via double hashing: ONE md5 per shingle, then
    sig[i] = min over shingles of (h1 + i*h2) mod p, where h1/h2 are the
    two 60-bit halves of the digest (the standard Kirsch-Mitzenmacher
    construction).  All arithmetic is engine-portable (the DuckDB oracle
    computes the identical function in SQL).

    Execution: one mapInPandas pass, numpy for the (shingles × hashes)
    min-reduction — Catalyst evaluates higher-order lambdas INTERPRETED
    per element (no codegen), which made the pure-expression form ~6×
    slower at sf0.1 despite being "built-in".  No shuffle either way.
    """
    import hashlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    from joern_spark.sparkutil import spread

    p = MINHASH_PRIME
    seeds = np.arange(n_hashes, dtype=np.int64)
    out_schema = StructType([
        StructField("doc_id", LongType()),
        StructField("minhash", ArrayType(LongType())),
    ])
    m60 = (1 << 60) - 1

    def run(batches):
        for pdf in batches:
            # near-dup corpora repeat shingles heavily across documents —
            # hash each distinct shingle ONCE per batch (task-local memo;
            # never persisted across runs).  bytes→int is the same value
            # as the old int(hexdigest[:15], 16) / int(hexdigest[15:30],
            # 16) nibble slices: digest[:8]>>4 = first 60 bits,
            # digest[7:15] & (2^60-1) = bits 60..119.
            memo: dict[str, tuple[int, int]] = {}
            sigs = []
            for text in pdf[text_col]:
                shs = _py_shingles(text)
                n = len(shs)
                h1 = np.empty(n, dtype=np.int64)
                h2 = np.empty(n, dtype=np.int64)
                for j, s in enumerate(shs):
                    v = memo.get(s)
                    if v is None:
                        d = hashlib.md5(s.encode("utf-8")).digest()
                        v = memo[s] = (
                            (int.from_bytes(d[:8], "big") >> 4) % p,
                            (int.from_bytes(d[7:15], "big") & m60) % (p - 1) + 1,
                        )
                    h1[j] = v[0]
                    h2[j] = v[1]
                # (n_shingles, n_hashes): h1 + i*h2 < 2^31 + 15*2^31 — exact in int64
                sig = ((h1[:, None] + seeds[None, :] * h2[:, None]) % p).min(axis=0)
                sigs.append(sig.tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "minhash": sigs})

    return spread(df.select("doc_id", text_col), by="doc_id").mapInPandas(run, out_schema)


def lsh_candidate_pairs(
    sig_df: DataFrame, n_bands: int = N_BANDS, rows_per_band: int = ROWS_PER_BAND
) -> DataFrame:
    """LSH banding: band_hash = md5(concat of the band's minhashes); docs
    colliding in any band become a candidate pair.

    The self-join is on (band_idx, band_hash): md5 keys are uniform, so the
    shuffle is skew-free by construction; each side carries only
    (doc_id, band_idx, band_hash).
    """
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(
                        "|",
                        *[F.element_at("minhash", b * rows_per_band + r + 1) for r in range(rows_per_band)],
                    )
                ).alias("band_hash"),
            )
            for b in range(n_bands)
        ]
    )
    banded = sig_df.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", "band.band_idx", "band.band_hash"
    )
    # materialize before the self-join: both join sides would otherwise
    # recompute the full minhash lineage (signature = the expensive part)
    banded = banded.persist()
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def ngram_jaccard(df: DataFrame, pairs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (LSH output), via distinct
    shingle sets.  Join order: pairs (small) broadcast against docs.

    Only CANDIDATE documents are shingled: a semi-join on the pair ids
    prunes the corpus before the shingle projection (Catalyst's
    higher-order `transform` lambda runs interpreted per element, so
    shingling all of `df` cost more than the joins themselves — guide
    §2.3 "project early": compute the expensive column after the
    selective filter, and the equi-join shuffle carries shingle arrays
    for |docs-in-any-pair| rows, not the corpus).

    `pairs` is referenced twice (candidate ids + the verify join), so it
    is persisted here — without the cache each reference re-executes the
    upstream LSH self-join.  The cached frame is pair-sized and stays
    registered for the session (the same contract as the banded frame in
    `lsh_candidate_pairs`)."""
    pairs = pairs.persist()
    cand_ids = (pairs.selectExpr("stack(2, doc_a, doc_b) AS (doc_id)")
                .distinct())
    df = df.join(cand_ids, "doc_id", "left_semi")
    docs = shingled(df, text_col).select("doc_id", F.array_distinct("sh").alias("sh"))
    j = (
        pairs.join(docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return j.select(
        "doc_a",
        "doc_b",
        (inter / union).alias("jaccard"),
    )


def simhash(df: DataFrame, text_col: str = "text", n_bits: int = 64) -> DataFrame:
    """64-bit SimHash as a bit-string column (portable: avoids signed-int64
    overflow differences across engines).

    Semantics (the DuckDB oracle computes the identical function in SQL):
    per distinct token (tokens = split(trim(text), \\s+)), md5 hex → 16
    nibbles → 64 bits MSB-first per nibble; count-weighted vote per bit
    (+cnt if set, −cnt if not); bit = 1 iff vote sum > 0.

    Execution: ONE mapInPandas pass, numpy bit matrix per document — fully
    map-side.  The pure-expression form exploded to 64 rows per distinct
    token (≈48M shuffled rows at sf0.1) to feed two groupBys; per-document
    independence makes that shuffle pure overhead.
    """
    import hashlib
    import re
    from collections import Counter

    import numpy as np
    import pandas as pd
    from pyspark.sql.types import StringType, StructField, StructType

    from joern_spark.sparkutil import spread

    out_schema = StructType([
        StructField("doc_id", df.schema["doc_id"].dataType),
        StructField("simhash_bits", StringType()),
    ])

    def run(batches):
        for pdf in batches:
            # Batch-vectorized: tokenize every doc, hash each DISTINCT
            # token of the batch once (the corpus vocabulary repeats
            # across documents), then per doc one integer matvec
            # cnt @ (2*bits-1) — int64 sums are exact and order-free, so
            # the votes are bit-identical to the old per-token loop.
            # bits: np.unpackbits over digest[:8] is MSB-first per byte —
            # the same bit order as the old hex-nibble LUT (bit bt =
            # nibble bt//4 read MSB-first = bit 7-(bt%8) of byte bt//8).
            vocab: dict[str, int] = {}
            tok_rows: list[str] = []
            per_doc: list[tuple] = []
            for text in pdf[text_col]:
                # ASCII-only trim/\s to match the engine/oracle semantics
                # (see _py_shingles).
                t = text.strip(" ") if text is not None else ""
                toks = re.split(r"[\t\n\f\r ]+", t) if t != "" else [""]
                c = Counter(toks)
                idx = np.empty(len(c), dtype=np.int64)
                cnt = np.empty(len(c), dtype=np.int64)
                for j, (tok, n) in enumerate(c.items()):
                    k = vocab.get(tok)
                    if k is None:
                        k = vocab[tok] = len(tok_rows)
                        tok_rows.append(tok)
                    idx[j] = k
                    cnt[j] = n
                per_doc.append((idx, cnt))
            digests = np.frombuffer(
                b"".join(hashlib.md5(tok.encode("utf-8")).digest()[: n_bits // 8]
                         for tok in tok_rows),
                dtype=np.uint8).reshape(len(tok_rows), n_bits // 8)
            signs = 2 * np.unpackbits(digests, axis=1).astype(np.int64) - 1
            out = []
            for idx, cnt in per_doc:
                votes = cnt @ signs[idx]
                out.append("".join("1" if v > 0 else "0" for v in votes))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash_bits": out})

    return spread(df.select("doc_id", text_col), by="doc_id").mapInPandas(run, out_schema)


def _local_components(edge_rows) -> dict[int, int]:
    """Driver-side union-find (path-halving) over an edge list; returns
    doc_id → component-min label for every endpoint.  The small-regime
    twin of the iterative-join loop below — same output by construction
    (asserted against the distributed path in tests)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    roots: dict[int, int] = {}
    for x in parent:
        r = find(x)
        if r not in roots or x < roots[r]:
            roots[r] = x
    return {x: roots[find(x)] for x in parent}


def connected_dup_clusters(pairs: DataFrame,
                           max_iterations: int = 32,
                           _stats: dict | None = None,
                           local_threshold: int | None = None) -> DataFrame:
    """Connected components over near-duplicate pairs — the step AFTER
    pair detection in a real dedup pipeline (keep one representative per
    component, not per pair: pairs (a,b), (b,c) must collapse to ONE
    cluster even though (a,c) never collided).

    Algorithm: min-label propagation PLUS pointer jumping, one of each
    per round (the two-step shape of the large-star/small-star and
    hash-to-min families of MapReduce CC algorithms):

    1. propagate: every doc takes the min of its own label and its
       graph-neighbors' labels (edges⋈labels + a (doc_id) min-agg);
    2. jump:      every doc then takes its LABEL's label (labels⋈labels
       on label = doc_id) — label values are always doc ids inside the
       same component, so the self-join is total.

    Propagation alone needs O(component diameter) rounds — linear for
    the chain-shaped components that template families produce at
    corpus scale.  The jump step squares the "who already knows the
    min" relation each round, so the distance-to-min covered after r
    rounds grows as ~2^r: convergence in O(log n) rounds on ANY
    component shape (a 1000-doc chain converges in ~10 rounds, not
    ~1000 — asserted by a fixture test).  Per round: two joins + one
    aggregation, all on doc-sized frames (never the corpus text),
    co-keyed on doc_id; at 10^12 docs the frames are
    |docs-in-any-pair|, orders of magnitude below N.

    Raises RuntimeError if the component min has not reached every node
    within `max_iterations` rounds (silently returning half-merged
    labels would be a WRONG dedup, not a slow one; with pointer jumping
    32 rounds cover components of ~2^32 diameter — non-convergence
    means the pair source is pathological).

    Returns (doc_id, cluster_id) for every doc in at least one pair,
    cluster_id = min doc_id of the component.  The returned frame is
    persisted and caller-owned; `pairs` stays cached if the caller cached
    it.  `_stats`, when passed, receives {"rounds": r, "edges": n} and the
    per-round `sparkutil.Rounds` trace for observability/tests.
    """
    import logging

    from joern_spark.sparkutil import (BROADCAST_THRESHOLD, Rounds,
                                       adaptive_paused)

    spark = pairs.sparkSession
    if local_threshold is None:
        local_threshold = BROADCAST_THRESHOLD
    with Rounds(max_iterations, _stats) as rounds:
        # materialize the (expensive-lineage) pair frame ONCE: its count
        # both decides the regime and pre-computes the input of either
        # path.  A frame the caller already cached stays the caller's.
        pairs_p = rounds.persist(pairs)
        n_pairs = pairs_p.count()
        if 2 * n_pairs < local_threshold:
            # SMALL-GRAPH SHORT-CIRCUIT (r8): below the same row bound this
            # loop already uses to broadcast the label frame, every round's
            # `F.broadcast(labels)` collects a label set of this size to the
            # driver anyway — r rounds of that traffic, plus 2-4 driver jobs
            # per round, cost ~2 s at bench scale for a graph a union-find
            # folds in milliseconds.  One bounded collect (≤ local_threshold
            # rows of two int64s) replaces the whole loop; the large regime
            # is untouched and tests force local_threshold=0 to pin the
            # distributed algorithm against this solver's output.  The
            # union-find is direction- and duplicate-insensitive, so the
            # directed-dedup (stack + distinct) stage is skipped entirely,
            # and the label frame goes back through Arrow (pandas input),
            # not the pickled-list path (~1 s at 5k rows).
            import uuid

            import pandas as pd

            labels_map = _local_components(
                (r.doc_a, r.doc_b) for r in pairs_p.collect())
            ids = sorted(labels_map)
            out = spark.createDataFrame(
                pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64"),
                              "cluster_id": pd.Series(
                                  [labels_map[i] for i in ids], dtype="int64")}),
                schema="doc_id long, cluster_id long")
            # plan-identity guard: two local-relation frames with identical
            # rows canonicalize to the SAME plan, so unpersisting one (e.g.
            # corpus_clean's own-clusters path releasing its internal frame)
            # would evict a caller-owned twin from the cache.  A unique
            # constant filter (always true, folded at runtime) makes each
            # call's plan distinct — the distributed path gets this for
            # free from its per-call localCheckpoint RDD ids.
            tag = uuid.uuid4().hex
            out = out.where(F.lit(tag) == F.lit(tag)).persist()
            out.count()
            logging.getLogger(__name__).info(
                "connected_dup_clusters: %d pairs, local union-find", n_pairs)
            if _stats is not None:
                _stats["rounds"] = 0
                _stats["edges"] = 2 * n_pairs
                _stats["local"] = True
            return out
        # both edge directions in ONE pass over the (cached) pairs
        edges = rounds.persist(pairs_p.selectExpr(
            "stack(2, doc_a, doc_b, doc_b, doc_a) AS (a, b)").distinct())
        n_edges = edges.count()
        rounds.release(pairs_p)
        small = n_edges < BROADCAST_THRESHOLD
        if small:
            # a small CC problem should not schedule default-parallelism
            # empty tasks per round: narrow the cached edge partitions once
            # (coalesce reads the cache, no shuffle) so every per-round
            # join over `edges` runs 8 tasks, not the cluster width
            edges = edges.coalesce(8)
        else:
            # the edge frame is STATIC across rounds but is the largest
            # side of every propagate join — pre-hash it on the join key
            # once so each round's join reuses the cached partitioning
            # (Exchange reuse) instead of re-shuffling all edges per round
            e0 = edges
            edges = rounds.persist(edges.repartition(F.col("b")))
            edges.count()
            rounds.release(e0)
        labels = rounds.persist(edges.select(F.col("a").alias("doc_id"))
                                .distinct().withColumn("label", F.col("doc_id")))
        converged = False
        # small regime (same playbook as dataflow/reachable.py, shared
        # threshold + AQE pause in sparkutil): the label/edge frames are
        # chain-tip-sized, so broadcast the label side and skip AQE's
        # per-stage re-planning round-trips; large graphs keep shuffle
        # joins + AQE
        with adaptive_paused(spark, small, shuffle_partitions=8):
            for _ in rounds:
                # -- step 1: neighbor-min propagation --------------------
                lbl = F.broadcast(labels) if small else labels
                nbr_min = (edges.join(lbl, edges.b == labels.doc_id)
                           .groupBy(F.col("a").alias("doc_id"))
                           .agg(F.min("label").alias("nbr_label")))
                if small:
                    nbr_min = F.broadcast(nbr_min)
                # fold the convergence test into the update (a separate
                # new-vs-old join would cost one more stage per round)
                prop = rounds.persist(
                    labels.join(nbr_min, "doc_id", "left")
                    .select("doc_id",
                            F.least(F.col("label"),
                                    F.coalesce("nbr_label", "label"))
                            .alias("label"),
                            (F.col("nbr_label") < F.col("label"))
                            .alias("chg")))
                # -- step 2: pointer jump (label := label-of-label) ------
                mapping = prop.select(F.col("doc_id").alias("m_id"),
                                      F.col("label").alias("m_label"))
                if small:
                    mapping = F.broadcast(mapping)
                # checkpointed, not persisted: the jump references `prop`
                # on BOTH join sides, so without lineage truncation the
                # logical plan DOUBLES per round — exponential tree growth
                # that OOMs the driver's plan builder by ~round 10.
                new_labels, _ = rounds.checkpoint(
                    prop.join(mapping, prop.label == F.col("m_id"), "left")
                    .select("doc_id",
                            F.least(F.col("label"),
                                    F.coalesce("m_label", "label"))
                            .alias("label"),
                            (F.col("chg")
                             | (F.col("m_label") < F.col("label")))
                            .alias("chg")))
                changed = new_labels.where(F.col("chg")).count()
                rounds.release(prop, labels)
                labels = new_labels
                if changed == 0:
                    converged = True
                    break
            n_rounds = len(rounds.trace)
            logging.getLogger(__name__).info(
                "connected_dup_clusters: %d edges, %d rounds, converged=%s",
                n_edges, n_rounds, converged)
            if _stats is not None:
                _stats["rounds"] = n_rounds
                _stats["edges"] = n_edges
            if not converged:
                raise RuntimeError(
                    f"connected_dup_clusters did not converge within "
                    f"{max_iterations} rounds ({n_edges} edges)")
            # materialized before `rounds` releases the labels it reads
            out = (labels.select("doc_id", F.col("label").alias("cluster_id"))
                   .persist())
            out.count()
    return out
