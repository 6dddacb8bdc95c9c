"""Regression tests for the round-2 ADVICE findings.

1. jsparser `_skip_type_annotation` must handle the lexer's fused
   `>>` / `>>>` / `>=`-family tokens inside nested generics.
2. `_py_shingles` / the SimHash tokenizer must use ASCII-only trim and
   \\s semantics so they stay byte-identical to the DuckDB oracle
   (`regexp_split_to_array(trim(text), '\\s+')`, RE2 ASCII \\s).
3. Sink bucket ids use `pmod`, never `abs(hash) % n` (Int.MinValue).
4. `reachable_pairs` and `connected_dup_clusters` release their
   per-round caches (no storage creep across repeated calls).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from joern_spark.frontends.js.jsparser import parse
from joern_spark.pipeline.dedup import _py_shingles


# ---------------------------------------------------------------- 1. generics

@pytest.mark.parametrize("src,n_stmts", [
    ("let x: Array<Array<number>> = [[1]]; let y = 2; console.log(y);", 3),
    ("let p: Promise<Map<K,V>> = q; let r = 1;", 2),
    ("let w: A<B<C<D>>> = v; w;", 2),
    ("function f(a: Array<Array<string>>, b: number) { return b; } f(1,2);", 2),
    ("let z: Map<string, Array<number>>= m; z;", 2),  # fused `>>=`
])
def test_nested_generic_annotations_do_not_swallow_statements(src, n_stmts):
    ast = parse(src)
    assert len(ast["body"]) == n_stmts


def test_nested_generic_initializer_survives():
    ast = parse("let x: Array<Array<number>> = [[1]];")
    init = ast["body"][0]["declarations"][0]["init"]
    assert init["type"] == "ArrayExpression"


# ------------------------------------------------------- 2. tokenizer parity

_EDGE_TEXTS = [
    "\tfoo bar baz qux",          # leading tab: oracle keeps an empty token
    "foo bar baz qux\n",          # trailing newline
    "foo bar baz qux quux",  # NBSP is NOT whitespace in ASCII \s
    "  foo bar baz qux  ",        # plain spaces: trimmed by both
    "foo bar baz qux quux",  # thin space (unicode)
]


@pytest.mark.parametrize("text", _EDGE_TEXTS)
def test_shingles_match_duckdb_oracle_on_edge_whitespace(text):
    con = duckdb.connect()
    toks = "regexp_split_to_array(trim(t), '\\s+')"
    sql = f"""
      SELECT CASE WHEN len({toks}) >= 3 THEN
               list_transform(range(1, len({toks}) - 1),
                 i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2])
             ELSE [substr(trim(t), 1, 1000)] END
      FROM (SELECT ? AS t)
    """
    oracle = con.execute(sql, [text]).fetchone()[0]
    assert _py_shingles(text) == oracle


def test_simhash_tokenizer_matches_duckdb_split():
    import re
    con = duckdb.connect()
    for text in _EDGE_TEXTS:
        oracle = con.execute(
            "SELECT regexp_split_to_array(trim(?), '\\s+')", [text]
        ).fetchone()[0]
        t = text.strip(" ")
        got = re.split(r"[\t\n\f\r ]+", t) if t != "" else [""]
        assert got == oracle, text


# ------------------------------------------------------------------ 3. pmod

def test_pmod_bucket_never_negative(spark):
    # Under ANSI (Spark 4 default) abs(Int.MinValue) THROWS; with ANSI off
    # it overflows negative and % keeps the sign.  pmod is total and safe.
    row = (spark.range(1)
           .select(F.pmod(F.lit(-2147483648), F.lit(8)).alias("b"))
           .collect()[0])
    assert 0 <= row.b < 8

    from joern_spark.streaming import job as jobmod
    import inspect
    src = inspect.getsource(jobmod)
    assert "F.abs(F.hash" not in src


# -------------------------------------------------------- 4. cache hygiene

def test_reachable_pairs_releases_frontier_caches(spark):
    """Neither loop leaves a persistent RDD behind beyond the frame it
    returns: reach in both regimes (per-round checkpoints) and the
    distributed connected-components loop."""
    from joern_spark.dataflow.reachable import reachable_pairs
    from joern_spark.pipeline.dedup import connected_dup_clusters

    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    def leaves_only_result(run, expect_rows):
        before = persistent()
        res = run()
        assert res.count() == expect_rows
        # only the (caller-owned) result frame may remain cached
        assert len(persistent() - before) <= 1
        res.unpersist(blocking=True)
        assert not persistent() - before

    edges = spark.createDataFrame(
        [("u", 1, 2, "REACHING_DEF", "x"), ("u", 2, 3, "REACHING_DEF", "x")],
        "url string, src long, dst long, label string, variable string")
    sources = spark.createDataFrame([("u", 1)], "url string, node_id long")
    sinks = spark.createDataFrame([("u", 3)], "url string, node_id long")
    for threshold in (None, 0):
        leaves_only_result(
            lambda: reachable_pairs(edges, sources, sinks,
                                    broadcast_threshold=threshold), 1)

    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "doc_a long, doc_b long")
    leaves_only_result(
        lambda: connected_dup_clusters(pairs, local_threshold=0), 5)
