"""Similarity search over `embeddings(vec_id, embedding: array<float>, label)`.

- `cosine_topk`      : brute-force cosine top-k — the exactness baseline.
                       Dot products via JVM-side `aggregate`/`zip_with` on
                       double-cast arrays (no Python), top-k via window
                       row_number partitioned by query id.
- `random_hyperplane_buckets` + `ann_topk_lsh` : the scale path — sign-LSH
                       (random hyperplanes, seeded deterministic) buckets
                       vectors; candidate set = same-bucket vectors only,
                       then exact cosine within bucket.  At 100 TB the
                       brute-force cross join is O(N·Q); the LSH variant
                       shards the join on bucket id (uniform) so each
                       executor sees only its bucket's candidates.

Scale notes: the query side is broadcast (queries ≪ corpus); the corpus
side never shuffles for brute force (map-side cross with broadcast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cos(a: str, b: str):
    """Cosine between two array<double> columns, float64 accumulation,
    rounded to 6 dp for engine portability."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.round(dot / (na * nb), 6)


def cos_pandas_udf():
    """Arrow-vectorized cosine over two array<double> columns — the hot-pair
    path.  Catalyst higher-order lambdas run INTERPRETED per element (no
    codegen; measured 66x at sf1 pair counts), so pair-wise scoring uses
    this numpy kernel instead.  np.cumsum accumulates LEFT-TO-RIGHT in
    float64 — bit-identical to the Catalyst/DuckDB sequential fold, so the
    6-dp rounded value matches the SQL oracle exactly (numpy's pairwise
    `.sum()` would differ in the last ulp and can flip a rounding
    boundary).  Factory function: pandas_udf needs an active session."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _kernel(A, B):
        dots = np.cumsum(A * B, axis=1)[:, -1]
        na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
        nb = np.sqrt(np.cumsum(B * B, axis=1)[:, -1])
        with np.errstate(divide="ignore", invalid="ignore"):
            c = dots / (na * nb)  # zero-norm / null element → nan → null
        c = np.where(np.isfinite(c), c, np.nan)
        # HALF_UP like Catalyst F.round / DuckDB round (np.round is
        # half-EVEN and could disagree on an exact .5e-6 boundary)
        return np.sign(c) * np.floor(np.abs(c) * 1e6 + 0.5) / 1e6

    @pandas_udf("double")
    def cos(ea, eb):
        if not len(ea):
            return pd.Series([], dtype="float64")
        # Fast path: dense equal-length batch (null ELEMENTS become NaN
        # under dtype=float64 and fall out as null).  A null array or
        # ragged lengths make np.array raise — fall back to a per-row
        # guarded pass so one bad row degrades to null instead of
        # failing the whole Arrow batch (a Catalyst expression would
        # null the row, not the stage).
        try:
            A = np.array(ea.tolist(), dtype=np.float64)
            B = np.array(eb.tolist(), dtype=np.float64)
            if A.ndim == 2 and A.shape == B.shape:
                return pd.Series(_kernel(A, B))
        except (ValueError, TypeError):
            pass
        out = np.full(len(ea), np.nan)
        for i, (a, b) in enumerate(zip(ea, eb)):
            if a is None or b is None or len(a) != len(b) or not len(a):
                continue
            try:
                out[i] = _kernel(
                    np.array([list(a)], dtype=np.float64),
                    np.array([list(b)], dtype=np.float64))[0]
            except (ValueError, TypeError):
                pass
        return pd.Series(out)

    return cos


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k: every query vs every corpus vector.

    `queries` is expected to be small → broadcast, so the cross join is
    map-side (no shuffle of the corpus).  Ties break on neighbor id for
    determinism.  (r8: a fused mapInPandas kernel holding the query
    matrix in-closure was tried to cut the pair-row Arrow bytes; at bench
    scale the extra driver job cost more than the bytes saved — measured
    1.2-1.5 s vs 0.85-1.0 s — so the broadcast cross join stays.)
    """
    from joern_spark.sparkutil import spread

    c = spread(corpus.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
    ), by="nbr_id")
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
    )
    scored = c.crossJoin(F.broadcast(q)).where(F.col("query_id") != F.col("nbr_id"))
    cos = cos_pandas_udf()  # Arrow kernel, value-identical to _cos
    scored = scored.select("query_id", "nbr_id",
                           cos(F.col("q_emb"), F.col("c_emb")).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "cosine")
    )


def random_hyperplane_buckets(df: DataFrame, n_planes: int = 8, seed: int = 42, dim: int = 64) -> DataFrame:
    """Sign-LSH bucket id per vector: bit p = sign(dot(v, plane_p)).

    Planes are a deterministic pseudo-random ±1 pattern derived from
    (seed, plane, dim-index) via a pure arithmetic hash — identical in any
    engine, no RNG state.  Output: (vec_id, bucket string of n_planes bits).
    """
    emb = F.col("embedding").cast("array<double>")
    bit_exprs = []
    for p in range(n_planes):
        # ±1 pattern: sign = 1 if ((i*2654435761 + (seed+p)*40503) mod 97) < 48
        proj = F.aggregate(
            F.zip_with(
                emb,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda v, i: v
                * F.when(((i * 2654435761 + (seed + p) * 40503) % 97) < 48, F.lit(1.0)).otherwise(F.lit(-1.0)),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit_exprs.append(F.when(proj > 0, F.lit("1")).otherwise(F.lit("0")))
    return df.select("vec_id", "embedding", F.concat(*bit_exprs).alias("bucket"))


def _plane_matrix(n_tables: int, n_planes: int, seed: int = 42, dim: int = 64):
    """±1 plane matrix (n_tables·n_planes, dim) — the SAME arithmetic hash
    pattern as `random_hyperplane_buckets` (sign = +1 iff
    ((i*2654435761 + (seed_t+p)*40503) mod 97) < 48, seed_t = seed+1000·t),
    so table t / plane p is identical in any engine, no RNG state."""
    import numpy as np

    i = np.arange(dim, dtype=np.int64)
    rows = []
    for t in range(n_tables):
        st = seed + 1000 * t
        for p in range(n_planes):
            h = (i * 2654435761 + (st + p) * 40503) % 97
            rows.append(np.where(h < 48, 1.0, -1.0))
    return np.stack(rows)  # (n_tables * n_planes, dim)


def _multi_table_buckets(df: DataFrame, n_tables: int, n_planes: int,
                         dim: int = 64, multiprobe: int = 0) -> DataFrame:
    """(vec_id, embedding, table, bucket): L independent hash tables of k
    planes each (standard LSH construction — recall grows with L).

    ONE pass over the input (VERDICT r1 item 3): all n_tables·n_planes
    projections are a single numpy matmul per Arrow batch inside
    mapInPandas, and the table/bucket rows are emitted directly from the
    batch — no per-table corpus re-scan, no Catalyst lambda per bit.

    multiprobe=r additionally emits every bucket within Hamming distance
    ≤ r of the true bucket (query-side recall lever: probing neighbor
    buckets is free when the probed side is broadcast-small).
    """
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, FloatType, IntegerType, LongType, StructField, StructType,
    )

    planes = _plane_matrix(n_tables, n_planes, dim=dim)  # captured in closure
    weights = (1 << np.arange(n_planes, dtype=np.int64))
    # bucket-id flips for Hamming-distance-1 probes: XOR with each bit
    flips = [0] + ([int(w) for w in weights] if multiprobe >= 1 else [])

    # (r8: an ids-only bucket variant that re-attached embeddings to the
    # deduped candidates by key was tried — it cut the stage's Arrow bytes
    # ~8x but the two re-attach joins cost more than the bytes saved at
    # bench scale, measured 3.0-3.4 s vs 1.9-2.3 s for sim_ann_lsh — the
    # embedded-bucket form stays)
    out_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("table", IntegerType()),
        StructField("bucket", LongType()),
    ])

    def run(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            if not len(pdf):
                continue
            emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            bits = (emb @ planes.T) > 0                        # (B, T*P)
            bits = bits.reshape(len(pdf), n_tables, n_planes)
            buckets = (bits * weights).sum(axis=2)             # (B, T)
            reps = n_tables * len(flips)
            vec_ids = np.repeat(pdf["vec_id"].to_numpy(), reps)
            embs = pdf["embedding"].iloc[
                np.repeat(np.arange(len(pdf)), reps)].reset_index(drop=True)
            tables = np.tile(np.repeat(np.arange(n_tables), len(flips)), len(pdf))
            probed = np.stack(
                [buckets ^ fl for fl in flips], axis=2).reshape(-1)
            yield pd.DataFrame({
                "vec_id": vec_ids, "embedding": embs,
                "table": tables.astype(np.int32), "bucket": probed,
            })

    from joern_spark.sparkutil import spread

    return spread(df.select("vec_id", "embedding"),
                  by="vec_id").mapInPandas(run, out_schema)


_ROW_BLK = 1024    # rows per chunk in the cell-assign kernel
_CENT_BLK = 128    # centroids per chunk (bounds the broadcast temporary)
IVF_QUANT = 1 << 20  # fixed-point grid for the exact-integer Lloyd mean


def _chunked_fold_dots(A, C):
    """Sequential-fold (cumsum) dot products A·Cᵀ → (rows, K) float64,
    chunked over rows AND centroids: the unchunked broadcast temporary is
    B×K×dim — a worker-memory cliff once K grows ~√N (16k centroids ×
    10k-row Arrow batch × 64 dim × 8 B ≈ 80 GB).  Chunking bounds it at
    _ROW_BLK×_CENT_BLK×dim (~64 MB) regardless of K.  The per-(row,
    centroid) accumulation order is untouched — left-to-right in float64
    — so values stay bit-identical to the unchunked form and to DuckDB's
    sequential list_dot_product fold."""
    import numpy as np

    out = np.empty((A.shape[0], C.shape[0]), dtype=np.float64)
    for r0 in range(0, A.shape[0], _ROW_BLK):
        Ar = A[r0:r0 + _ROW_BLK]
        for c0 in range(0, C.shape[0], _CENT_BLK):
            Cb = C[c0:c0 + _CENT_BLK]
            out[r0:r0 + _ROW_BLK, c0:c0 + _CENT_BLK] = np.cumsum(
                Ar[:, None, :] * Cb[None, :, :], axis=2)[:, :, -1]
    return out


def _dense_valid(emb, dim: int):
    """(A float64 matrix, valid row indices) for a pandas Series of
    embeddings.  Fast path: dense equal-length batch; a null or ragged
    row falls back to per-row filtering so one bad embedding drops out
    of the index instead of failing the whole Arrow batch (same contract
    as cos_pandas_udf)."""
    import numpy as np

    try:
        A = np.stack(emb.to_numpy()).astype(np.float64)
        if A.ndim != 2 or A.shape[1] != dim:
            raise ValueError
        return A, np.arange(len(emb))
    except (ValueError, TypeError):
        valid = np.array(
            [i for i, v in enumerate(emb)
             if v is not None and len(v) == dim
             and not any(x is None for x in v)], dtype=np.int64)
        if not len(valid):
            return np.empty((0, dim)), valid
        return np.array([list(emb.iloc[i]) for i in valid],
                        dtype=np.float64), valid


def _ivf_cells(df: DataFrame, cent_ids, cent_mat, n_cells_out: int) -> DataFrame:
    """(vec_id, embedding, cell): the `n_cells_out` nearest coarse-
    quantizer cells per vector, ranked by 6dp-rounded cosine (ties broken
    by ascending centroid id — the rounding makes the argmax
    engine-portable; a raw float argmax could flip on summation-order
    ulps between numpy and a SQL engine's fold).

    One pass: cell assignment for the whole batch is a single
    cumsum-reduction against the (K, dim) centroid matrix inside
    mapInPandas — np.cumsum accumulates left-to-right in float64,
    bit-identical to DuckDB's sequential list_dot_product fold, so the
    rounded values (and therefore the cells) match the SQL oracle
    exactly.  Zero shuffle; the centroid matrix rides the closure
    (model-sized: K vectors)."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType,
    )

    C = cent_mat.astype(np.float64)                       # (K, dim), id-sorted
    ids = np.asarray(cent_ids, dtype=np.int64)
    nc = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])         # (K,)

    out_schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
        StructField("cell", LongType()),
    ])

    def run(batches):
        import numpy as np
        import pandas as pd
        dim = C.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            emb = pdf["embedding"]
            A, valid = _dense_valid(emb, dim)
            if not len(valid):
                continue
            dots = _chunked_fold_dots(A, C)
            na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (na[:, None] * nc[None, :])
            cos = np.where(np.isfinite(cos), cos, -np.inf)  # zero-norm rows
            cosr = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
            # stable argsort on -cosr: ties keep ascending centroid order
            # (ids are pre-sorted ascending)
            order = np.argsort(-cosr, axis=1, kind="stable")[:, :n_cells_out]
            reps = order.shape[1]
            yield pd.DataFrame({
                "vec_id": np.repeat(pdf["vec_id"].to_numpy()[valid], reps),
                "embedding": emb.iloc[
                    np.repeat(valid, reps)].reset_index(drop=True),
                "cell": ids[order].reshape(-1),
            })

    from joern_spark.sparkutil import spread

    # spread ONLY this assign path (it feeds the candidate join + cosine
    # kernel): the Lloyd-train scans stay unspread — they are collect-
    # terminated one-job passes where an extra exchange is pure latency
    return spread(df.select("vec_id", "embedding"),
                  by="vec_id").mapInPandas(run, out_schema)


def _ivf_train_partials(df: DataFrame, cent_ids, cent_mat,
                        quant: int = IVF_QUANT) -> DataFrame:
    """One fused training scan: per Arrow batch, assign every vector to
    its nearest centroid (6dp-rounded cosine, ties → lowest centroid id
    — the same engine-portable rule as `_ivf_cells` rank 1) and emit
    per-cell PARTIAL sums on a fixed-point integer grid:

        (cell, cnt, isum[dim])  with  isum_i = Σ floor(x_i · quant)

    Integer sums are exact and ORDER-FREE, so the combined mean is
    bit-identical no matter how partitions combine — and a SQL engine
    computing the same grouped integer sum reproduces the trained
    centroids exactly (a float mean would differ in the last ulp with
    summation order and could flip a cell argmax).  Zero shuffle: the
    partials (≤ batches×K rows) are model-sized."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType,
    )

    C = cent_mat.astype(np.float64)
    nc = np.sqrt(np.cumsum(C * C, axis=1)[:, -1])

    out_schema = StructType([
        StructField("cell", LongType()),
        StructField("cnt", LongType()),
        StructField("isum", ArrayType(LongType())),
    ])
    ids = np.asarray(cent_ids, dtype=np.int64)

    def run(batches):
        import numpy as np
        import pandas as pd
        dim = C.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            A, valid = _dense_valid(pdf["embedding"], dim)
            if not len(valid):
                continue
            dots = _chunked_fold_dots(A, C)
            na = np.sqrt(np.cumsum(A * A, axis=1)[:, -1])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (na[:, None] * nc[None, :])
            good = np.isfinite(cos).any(axis=1)
            if not good.any():
                continue
            cos = np.where(np.isfinite(cos), cos, -np.inf)
            cosr = np.sign(cos) * np.floor(np.abs(cos) * 1e6 + 0.5) / 1e6
            # argmax picks the FIRST max → lowest centroid index; ids are
            # pre-sorted ascending, so this is the rn=1 tie rule
            best = np.argmax(cosr[good], axis=1)
            Q = np.floor(A[good] * quant).astype(np.int64)
            cells, cnts, isums = [], [], []
            for ci in np.unique(best):
                m = best == ci
                cells.append(int(ids[ci]))
                cnts.append(int(m.sum()))
                isums.append(Q[m].sum(axis=0).tolist())
            yield pd.DataFrame({"cell": cells, "cnt": cnts, "isum": isums})

    return df.select("embedding").mapInPandas(run, out_schema)


def _collect_codebook_init(corpus: DataFrame, n_centroids: int):
    """Deterministic init: the first K corpus vectors, id-sorted
    (model-sized collect — K vectors IS the codebook)."""
    import numpy as np

    cent = (corpus.where(F.col("vec_id") < n_centroids)
            .select("vec_id", F.col("embedding").cast("array<double>"))
            .collect())
    if not cent:
        raise ValueError(
            f"ann_topk_ivf: no centroid vectors (vec_id < {n_centroids}) "
            "in the corpus — pass an explicit codebook range")
    cent.sort(key=lambda r: r.vec_id)
    return ([r.vec_id for r in cent],
            np.array([r[1] for r in cent], dtype=np.float64))


def train_ivf_codebook(corpus: DataFrame, n_centroids: int = 16,
                       n_iters: int = 1, quant: int = IVF_QUANT):
    """Lloyd-trained IVF codebook: first-K deterministic init, then
    `n_iters` distributed k-means steps — assign (one corpus scan, the
    fused `_ivf_train_partials` kernel) + recompute centroids as the
    QUANTIZED-INTEGER mean of each cell:

        cw_i = (Σ floor(x_i · quant)) / (cnt · quant)

    The integer numerator is exact and order-free, so the trained
    centroids are bit-identical across partitionings AND across engines
    (the DuckDB oracle recomputes the identical codebook in SQL); the
    1/quant ≈ 1e-6 grid error is far below centroid noise.  Empty cells
    drop out (queries simply cannot probe them — same semantics both
    engines).  Driver-side combine touches only the model-sized partial
    rows (≤ batches×K); at 10^12 rows/cell the int64 numerator needs
    |x|·quant·N < 2^63 — a coarser grid or one tree-combine level
    restores headroom, same seam."""
    import numpy as np

    cent_ids, cent_mat = _collect_codebook_init(corpus, n_centroids)
    for _ in range(n_iters):
        sums: dict[int, "np.ndarray"] = {}
        cnts: dict[int, int] = {}
        for r in _ivf_train_partials(corpus, cent_ids, cent_mat,
                                     quant).collect():
            s = np.asarray(r.isum, dtype=np.int64)
            if r.cell in sums:
                sums[r.cell] += s
                cnts[r.cell] += r.cnt
            else:
                sums[r.cell] = s
                cnts[r.cell] = r.cnt
        cent_ids = sorted(sums)
        cent_mat = np.stack([
            sums[c].astype(np.float64) / (cnts[c] * float(quant))
            for c in cent_ids])
    return cent_ids, cent_mat


def ann_topk_ivf(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 n_centroids: int = 16, n_probe: int = 4,
                 train_iters: int = 2,
                 codebook: tuple | None = None) -> DataFrame:
    """IVF-flat ANN: a coarse quantizer partitions the corpus into K
    cells; queries probe their n_probe nearest cells and score exactly
    only inside them — the inverted-file counterpart to the sign-LSH
    path (the two standard scale families for embedding search).

    The quantizer is Lloyd-trained (`train_ivf_codebook`: first-K
    deterministic init + `train_iters` exact-integer k-means steps, so
    the SQL oracle reproduces the codebook bit-for-bit; train_iters=0
    recovers the untrained first-K stand-in).  Scale shape: ONE corpus
    scan per training step and one to assign cells (zero shuffle, the
    chunked cumsum-reduction against K centroids — worker memory bounded
    at _ROW_BLK×_CENT_BLK×dim regardless of K); the query side (probed
    cells) is broadcast, so the candidate join is map-side; exact cosine
    runs on candidates only.  At 10^12 vectors, K grows ~sqrt(N) and
    `cell` becomes the table's physical partition key, so a probe prunes
    (K - n_probe)/K of the corpus at the SCAN.

    `codebook` optionally supplies a pretrained (cent_ids, cent_mat)
    pair (the `train_ivf_codebook` output) — the index-build seam: at
    10^12 vectors the codebook is trained ONCE per corpus build (each
    Lloyd step is a full corpus scan) and shared across every query
    batch, the same compute-once contract as
    `corpus_clean(clusters=...)`.  Default (None) trains in-call,
    matching the SQL oracle end-to-end."""
    if codebook is None:
        codebook = train_ivf_codebook(corpus, n_centroids,
                                      n_iters=train_iters)
    cent_ids, cent_mat = codebook

    c = _ivf_cells(corpus, cent_ids, cent_mat, 1).select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
        "cell",
    )
    q = _ivf_cells(queries, cent_ids, cent_mat, n_probe).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
        "cell",
    )
    # no dropDuplicates: each corpus vector sits in EXACTLY one cell
    # (n_cells_out=1) and a query's probed cells are distinct, so a
    # (query_id, nbr_id) pair can match at most once — the dedup was a
    # provably-empty exchange (removed r8; the multi-table LSH path keeps
    # its dedup, where tables genuinely duplicate pairs)
    cand = (c.join(F.broadcast(q), ["cell"])
            .where(F.col("query_id") != F.col("nbr_id"))
            .select("query_id", "nbr_id", "q_emb", "c_emb"))
    cos = cos_pandas_udf()  # Arrow kernel, value-identical to _cos
    scored = cand.select("query_id", "nbr_id",
                         cos(F.col("q_emb"), F.col("c_emb")).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "cosine")
    )


def ann_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int = 5,
                 n_planes: int = 4, n_tables: int = 8,
                 multiprobe: int = 1) -> DataFrame:
    """Approximate top-k via multi-table sign-LSH: candidates = union over
    L tables of same-bucket vectors (queries multiprobe Hamming-1 buckets),
    then exact cosine on candidates only.

    The corpus side is scanned ONCE and never shuffled (the query side is
    broadcast, so the bucket join is map-side); the only shuffles carry
    candidate pairs.  Recall grows with n_tables and multiprobe radius
    (the scale levers) and n_planes grows with log N to bound bucket size;
    exactness baseline is `cosine_topk` (recall asserted ≥0.7 in tests).
    """
    c = _multi_table_buckets(corpus, n_tables, n_planes).select(
        F.col("vec_id").alias("nbr_id"),
        F.col("embedding").cast("array<double>").alias("c_emb"),
        "table", "bucket",
    )
    q = _multi_table_buckets(queries, n_tables, n_planes,
                             multiprobe=multiprobe).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("q_emb"),
        "table", "bucket",
    )
    cand = (c.join(F.broadcast(q), ["table", "bucket"])
            .where(F.col("query_id") != F.col("nbr_id"))
            .select("query_id", "nbr_id", "q_emb", "c_emb")
            .dropDuplicates(["query_id", "nbr_id"]))
    cos = cos_pandas_udf()  # Arrow kernel, value-identical to _cos
    scored = cand.select("query_id", "nbr_id",
                         cos(F.col("q_emb"), F.col("c_emb")).alias("cosine"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "nbr_id", "cosine")
    )


def brute_pair_cosines(emb: DataFrame, threshold: float = 0.5,
                       id_col: str = "vec_id", emb_col: str = "embedding",
                       n_blocks: int | None = None,
                       _stats: dict | None = None) -> DataFrame:
    """All-pairs (vec_a < vec_b) cosine over a (sampled) vector set,
    thresholded — the exactness baseline behind `sim_near_dup_pairs`.

    Blocked pair generation (guide §8 "move big rows once"): the naive
    theta-join `a.vec_id < b.vec_id` + per-pair scoring ships BOTH
    embeddings of EVERY pair through Arrow — O(N²·dim) bytes (each vector
    serialized N times).  Here every vector is shipped G ≈ √(8·cores)
    times instead: vectors are hash-assigned to G blocks, each vector is
    exploded to its G block-pair groups, and one applyInPandas kernel per
    unordered block pair (p ≤ q) scores the cross product with the SAME
    left-to-right float64 fold and HALF_UP 6dp rounding as
    `cos_pandas_udf` — values (and the ≥ threshold survivor set) are
    bit-identical to the per-pair kernel and the SQL oracle.  Shuffle
    bytes: N·G·dim, pairs never cross the wire; the kernel emits only the
    thresholded survivors.  (All-pairs stays O(N²) compute by design —
    this is the labeled brute-force baseline; the scale twins are
    `ann_topk_lsh`/`embedding_near_dups`.)

    Bad vectors degrade, they never fail the group: a pair is scored only
    between two vectors of one length (`cos_pandas_udf`'s rule), so a null
    embedding scores no pairs and neither does a ragged one unless another
    vector shares its length.  `_stats`, when passed, receives
    {"bad_vectors": accumulator}; after an action its value counts the
    null vectors plus those whose length is not the most common one of
    their hash block."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    bad = spark.sparkContext.accumulator(0)
    if _stats is not None:
        _stats["bad_vectors"] = bad
    G = n_blocks or max(2, int((8 * spark.sparkContext.defaultParallelism) ** 0.5))

    base = emb.select(
        F.col(id_col).alias("vid"),
        F.col(emb_col).cast("array<double>").alias("e"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(G)).alias("blk"),
    )
    ex = (base.select("vid", "e", "blk",
                      F.explode(F.sequence(F.lit(0), F.lit(G - 1))).alias("q"))
          .select("vid", "e",
                  F.least("blk", "q").alias("gp"),
                  F.greatest("blk", "q").alias("gq"),
                  (F.col("blk") <= F.col("q")).alias("left_side")))

    out_cols = ["vec_a", "vec_b", "cosine"]

    def score(left, right, within):
        ids_l = left["vid"].to_numpy(dtype=np.int64)
        ids_r = right["vid"].to_numpy(dtype=np.int64)
        A = np.array(left["e"].tolist(), dtype=np.float64)
        B = A if within else np.array(right["e"].tolist(), dtype=np.float64)
        # sequential left-to-right fold over the dim axis — elementwise
        # acc = acc + a_k*b_k, the exact order of cos_pandas_udf's cumsum
        # and DuckDB's list_dot_product
        acc = np.zeros((A.shape[0], B.shape[0]))
        nl = np.zeros(A.shape[0])
        nr = np.zeros(B.shape[0])
        for k in range(A.shape[1]):
            acc += A[:, k, None] * B[None, :, k]
            nl += A[:, k] * A[:, k]
            nr += B[:, k] * B[:, k]
        with np.errstate(divide="ignore", invalid="ignore"):
            c = acc / (np.sqrt(nl)[:, None] * np.sqrt(nr)[None, :])
        c = np.where(np.isfinite(c), c, np.nan)
        cr = np.sign(c) * np.floor(np.abs(c) * 1e6 + 0.5) / 1e6
        with np.errstate(invalid="ignore"):
            mask = cr >= threshold                    # NaN compares False
        if within:
            mask &= ids_l[:, None] < ids_r[None, :]   # each pair once
        i, j = np.nonzero(mask)
        return pd.DataFrame({
            "vec_a": np.minimum(ids_l[i], ids_r[j]),
            "vec_b": np.maximum(ids_l[i], ids_r[j]),
            "cosine": cr[i, j],
        })

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        within = bool(pdf["gp"].iloc[0] == pdf["gq"].iloc[0])
        left = pdf[pdf["left_side"]]
        right = left if within else pdf[~pdf["left_side"]]
        dim_l = left["e"].map(lambda v: 0 if v is None else len(v))
        dim_r = dim_l if within else right["e"].map(
            lambda v: 0 if v is None else len(v))
        if within:
            # every vector sits in exactly one within-block group: count
            # its block's null and off-length vectors here
            sized = dim_l[dim_l > 0]
            usual = sized.mode().max() if len(sized) else 0
            bad.add(int(((dim_l == 0) | (dim_l != usual)).sum()))
        parts = [score(left[dim_l == d], right[dim_r == d], within)
                 for d in sorted(set(dim_l) & set(dim_r) - {0})]
        if not parts:
            return pd.DataFrame(columns=out_cols)
        return pd.concat(parts, ignore_index=True)

    return ex.groupBy("gp", "gq").applyInPandas(
        kernel, "vec_a bigint, vec_b bigint, cosine double")


def embedding_near_dups(corpus: DataFrame, threshold: float = 0.95, n_planes: int = 6) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH buckets + exact verify.

    Pairs are emitted once (a < b).  Bucketing bounds the pair blow-up to
    within-bucket; at 10^12 scale n_planes grows with log(N).
    """
    b = random_hyperplane_buckets(corpus, n_planes).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb"), "bucket"
    )
    a = b.alias("a")
    c = b.alias("c")
    cos = cos_pandas_udf()  # Arrow kernel — pair scoring is the hot path
    pairs = a.join(
        c,
        (F.col("a.bucket") == F.col("c.bucket")) & (F.col("a.vec_id") < F.col("c.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("c.vec_id").alias("vec_b"),
        cos(F.col("a.emb"), F.col("c.emb")).alias("cosine"),
    )
    return pairs.where(F.col("cosine") >= threshold)
