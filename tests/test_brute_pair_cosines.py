"""similarity.brute_pair_cosines: the blocked all-pairs kernel equals a
NumPy all-pairs reference, and a null or short vector scores no pairs and
is counted instead of failing its group."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from joern_spark.pipeline.similarity import brute_pair_cosines

DIM = 8
N_GOOD = 30
NULL_ID = 100
SHORT_ID = 101
THRESHOLD = 0.5


def _vectors():
    rng = np.random.default_rng(7)
    base = rng.normal(size=DIM)
    return {i: [float(x) for x in base + 0.9 * rng.normal(size=DIM)]
            for i in range(N_GOOD)}


def _reference(vecs):
    """{(a, b): cosine} over a < b: the float64 left-to-right fold and
    HALF_UP 6dp rounding of cos_pandas_udf."""
    out = {}
    ids = sorted(vecs)
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            va, vb = np.array(vecs[a]), np.array(vecs[b])
            dot = np.cumsum(va * vb)[-1]
            c = dot / (np.sqrt(np.cumsum(va * va)[-1])
                       * np.sqrt(np.cumsum(vb * vb)[-1]))
            c = np.sign(c) * np.floor(abs(c) * 1e6 + 0.5) / 1e6
            if c >= THRESHOLD:
                out[(a, b)] = float(c)
    return out


def test_brute_pair_cosines_matches_reference_and_counts_bad_vectors(spark):
    good = _vectors()
    rows = list(good.items()) + [(NULL_ID, None),
                                 (SHORT_ID, good[0][:DIM // 2])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = {}
    got = {(r.vec_a, r.vec_b): r.cosine
           for r in brute_pair_cosines(emb, threshold=THRESHOLD, n_blocks=3,
                                       _stats=stats).collect()}
    want = _reference(good)
    assert want and got == want
    assert stats["bad_vectors"].value == 2

    # survivors come from within-block and from cross-block groups
    blk = {r.vec_id: r.blk for r in emb.select(
        "vec_id", F.pmod(F.xxhash64("vec_id"), F.lit(3)).alias("blk"))
        .collect()}
    same = {blk[a] == blk[b] for a, b in got}
    assert same == {True, False}
