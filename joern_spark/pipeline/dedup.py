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

    Returns (doc_a, doc_b) with doc_a < doc_b, materialized by
    `sparkutil.persist_result` and caller-owned: release it with
    `unpersist()`.
    """
    from joern_spark.sparkutil import cached, persist_result

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
    # pinned for the self-join: both join sides would otherwise
    # recompute the full minhash lineage (signature = the expensive part).
    # Unpinned, Spark reuses the exchange (ReusedExchange) and finds the
    # same pairs, but it is slower: `bench_extra.py time dedup_lsh_pairs`
    # at sf0.1 on a 4-CPU host, 6 alternating pairs (median of reps 2-5),
    # 1.99 s pinned against 2.58 s unpinned, pinned faster in 6 of 6.
    with cached(banded):
        a = banded.alias("a")
        b = banded.alias("b")
        return persist_result(
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

    `pairs` is read twice (candidate ids + the verify join): pass a
    materialized frame, such as the one `lsh_candidate_pairs` returns, or
    each read re-executes the upstream LSH self-join.  The result is lazy
    and reads `pairs`, so the caller releases `pairs` only after
    materializing it."""
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
    node → smallest node of its group for every endpoint.  It finishes
    the residual graph of `connected_dup_clusters` (asserted against the
    distributed rounds in tests)."""
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

    Distributed rounds run only while the residual graph is large; the
    driver union-find finishes the rest.  Every doc carries a label,
    initially its own id.  The residual graph R is the distinct
    (label(a), label(b)) over the edges whose endpoint labels differ,
    counted in directed edge rows (both directions of a pair), so at the
    start R is the edge set itself: n distinct pairs are 2n rows.

    While |R| ≥ `local_threshold` (default `BROADCAST_THRESHOLD`), one
    distributed round of min-label propagation plus a pointer jump runs
    (the two-step shape of the large-star/small-star and hash-to-min
    families of MapReduce CC algorithms) and R is recomputed:

    1. propagate: every doc takes the min of its own label and its
       neighbours' labels (edges⋈labels + a (doc_id) min-agg; in the
       first round the labels are the ids, so a min-agg alone);
    2. jump:      every doc then takes its LABEL's label (labels⋈labels
       on label = doc_id).

    Once |R| < `local_threshold`, R is collected in one direction: fewer
    than `local_threshold`/2 rows of two int64s, plus any self-loops when
    no round ran.  `_local_components` merges its label classes and one
    broadcast join relabels every doc; when no round ran, the union-find
    over the edges is itself the answer.

    Why that is exact: a label is always a doc id from the doc's own
    component, labels only fall, and so the component minimum m always
    labels itself.  Within one component every edge either joins two
    docs of one label class or becomes an R edge between two classes,
    so the classes of a component are connected in R and no R edge
    crosses components.  The union-find group of a component's labels
    therefore holds exactly its classes, and its smallest member is m.
    R is empty exactly when every component has one class, labelled m:
    the loop has converged and the driver has nothing to merge.

    On a chain whose ids rise away from its minimum the jump doubles the
    distance each round, so a 1,000-doc chain converges in ~10 rounds
    (asserted by a fixture test).  Propagation plus jump is not
    logarithmic on every shape, though: a chain with ids in random order
    can take a number of rounds linear in its length.  Raises
    RuntimeError if R still holds at least `local_threshold` rows (any
    row, for a threshold of 0) after `max_iterations` rounds — silently
    returning half-merged labels would be a WRONG dedup, not a slow one.

    Returns (doc_id, cluster_id) for every doc in at least one pair,
    cluster_id = min doc_id of the component.  The returned frame is
    persisted by `sparkutil.persist_result` and caller-owned; `pairs` is
    read once, and the caller may release it once this returns.
    `_stats`, when passed, receives {"rounds": distributed rounds,
    "edges": directed edge rows, "residual": the directed rows the driver
    finished, "local": no distributed round ran} and the per-round
    `sparkutil.Rounds` trace.
    """
    import logging

    import pandas as pd

    from joern_spark.sparkutil import (BROADCAST_THRESHOLD, Rounds,
                                       persist_result)

    spark = pairs.sparkSession
    if local_threshold is None:
        local_threshold = BROADCAST_THRESHOLD
    # an empty residual is finished whatever the threshold
    finish_below = max(local_threshold, 1)
    with Rounds(max_iterations, _stats) as rounds:
        # both edge directions in one pass over the pairs.  Checkpointed,
        # like every frame the loop reads more than once (`Rounds`): AQE
        # sizes it to the data, where a persisted shuffle would keep all
        # `spark.sql.shuffle.partitions` partitions, and every round plans
        # from a leaf instead of the pairs' lineage.
        edges, n_edges = rounds.checkpoint(
            pairs.selectExpr("stack(2, doc_a, doc_b, doc_b, doc_a) AS (a, b)")
            .distinct())
        n_res = edges.where(F.col("a") != F.col("b")).count()
        # before the first round every doc labels itself and R is the edges
        labels = residual = None
        n_rounds = 0
        for _ in rounds:
            if n_res < finish_below:
                break
            # -- step 1: neighbour-min propagation -----------------------
            if labels is None:
                prop = (edges.groupBy(F.col("b").alias("doc_id"))
                        .agg(F.min(F.least("a", "b")).alias("label")))
            else:
                nbr_min = (edges.join(labels, edges.b == labels.doc_id)
                           .groupBy(F.col("a").alias("doc_id"))
                           .agg(F.min("label").alias("nbr_label")))
                prop = (labels.join(nbr_min, "doc_id")
                        .select("doc_id", F.least("label", "nbr_label")
                                .alias("label")))
            # -- step 2: pointer jump (label := label-of-label) ----------
            # a label is a doc id, so the self-join is total.  The jump
            # reads `prop` on BOTH join sides: checkpointed, it runs once
            # and the plan does not double every round.
            prop, _ = rounds.checkpoint(prop)
            mapping = prop.select(F.col("doc_id").alias("m_id"),
                                  F.col("label").alias("m_label"))
            new_labels, _ = rounds.checkpoint(
                prop.join(mapping, prop.label == mapping.m_id)
                .select("doc_id", F.least("label", "m_label").alias("label")))
            rounds.release(prop, labels, residual)
            labels = new_labels
            # -- step 3: the residual graph under the new labels ---------
            la = labels.select(F.col("doc_id").alias("a"),
                               F.col("label").alias("la"))
            lb = labels.select(F.col("doc_id").alias("b"),
                               F.col("label").alias("lb"))
            residual, n_res = rounds.checkpoint(
                edges.join(la, "a").join(lb, "b")
                .where(F.col("la") != F.col("lb"))
                .select(F.col("la").alias("a"), F.col("lb").alias("b"))
                .distinct())
            n_rounds += 1
        logging.getLogger(__name__).info(
            "connected_dup_clusters: %d edges, %d rounds, residual %d",
            n_edges, n_rounds, n_res)
        if _stats is not None:
            _stats.update(rounds=n_rounds, edges=n_edges, residual=n_res,
                          local=n_rounds == 0)
        if n_res >= finish_below:
            raise RuntimeError(
                f"connected_dup_clusters did not converge within "
                f"{max_iterations} rounds ({n_edges} edges, residual "
                f"{n_res})")
        # -- the driver finishes R.  R is symmetric, so one direction holds
        # every undirected edge; with no round run the edges stand in for
        # R, self-loops included, so that every doc gets a root.
        roots = _local_components(
            (r.a, r.b) for r in (edges if labels is None else residual)
            .where(F.col("a") <= F.col("b")).collect())
        # pandas input goes through Arrow, not the pickled-list path
        finish = spark.createDataFrame(
            pd.DataFrame({"label": pd.Series(list(roots), dtype="int64"),
                          "root": pd.Series(list(roots.values()),
                                            dtype="int64")}),
            schema="label long, root long")
        if labels is None:
            out = finish.select(F.col("label").alias("doc_id"),
                                F.col("root").alias("cluster_id"))
        else:
            out = (labels.join(F.broadcast(finish), "label", "left")
                   .select("doc_id",
                           F.coalesce("root", "label").alias("cluster_id")))
        # materialized before `rounds` releases the frames it reads
        out = persist_result(out)
    return out
