"""The shared fixpoint helper (`sparkutil.Rounds`) and the loops built on
it: constant-size round plans, regime parity of corpus reachability
against an in-process BFS, release of every pinned block, cache
ownership of caller inputs, and the spread-probe memo."""

from __future__ import annotations

from collections import deque

import pytest
from pyspark import StorageLevel

from joern_spark import sparkutil
from joern_spark.dataflow.reachable import reachable_pairs
from joern_spark.pipeline.dedup import connected_dup_clusters
from joern_spark.sparkutil import Rounds, spread

CHAIN = 45  # REACHING_DEF hops: >= 10 rounds at four hops a round


def _persistent(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _bfs_pairs(edges, sources, sinks):
    """(url, source_id, sink_id) reachable backwards from each sink over
    REACHING_DEF edges, the sink itself included."""
    into: dict = {}
    for url, src, dst, label, _ in edges:
        if label == "REACHING_DEF":
            into.setdefault((url, dst), set()).add(src)
    out = set()
    for url, sink in sinks:
        seen = {sink}
        todo = deque([sink])
        while todo:
            for nxt in into.get((url, todo.popleft()), ()):
                if nxt not in seen:
                    seen.add(nxt)
                    todo.append(nxt)
        out |= {(url, s, sink) for u, s in sources if u == url and s in seen}
    return out


@pytest.fixture(scope="module")
def reach_graph(spark, tmp_path_factory):
    """A 45-hop def-use chain on one page plus a branching, re-joining
    graph with a cycle and a non-REACHING_DEF edge on another."""
    edges = [("chain", i, i + 1, "REACHING_DEF", "x") for i in range(CHAIN)]
    edges += [("branch", s, d, "REACHING_DEF", "v") for s, d in
              [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 4),
               (7, 6), (2, 8)]]
    edges += [("branch", 8, 9, "CFG", "")]
    sources = [("chain", i) for i in range(0, CHAIN + 1, 4)]
    sources += [("branch", i) for i in (1, 2, 7, 8)]
    sinks = [("chain", CHAIN), ("chain", 17), ("branch", 4), ("branch", 9),
             ("branch", 8)]
    # parquet, like the stored CPG tables: the scan carries size statistics
    path = str(tmp_path_factory.mktemp("reach") / "edges")
    spark.createDataFrame(
        edges, "url string, src long, dst long, label string, variable string"
    ).coalesce(1).write.parquet(path)
    frames = (spark.read.parquet(path),
              spark.createDataFrame(sources, "url string, node_id long"),
              spark.createDataFrame(sinks, "url string, node_id long"))
    return frames, _bfs_pairs(edges, sources, sinks)


@pytest.mark.parametrize("threshold", [None, 0],
                         ids=["default", "large-regime"])
def test_reach_matches_bfs_with_constant_plans(spark, reach_graph, threshold):
    (edges, sources, sinks), want = reach_graph
    stats: dict = {}
    res = reachable_pairs(edges, sources, sinks,
                          broadcast_threshold=threshold, _stats=stats)
    try:
        assert {tuple(r) for r in res.collect()} == want
    finally:
        res.unpersist()
    trace = stats["trace"]
    assert len(trace) >= 10
    # every round plans from a checkpointed leaf: the round's query has
    # the same handful of leaves in round 1 and round 20 (without the
    # truncation the count grew about 5x a round)
    assert max(r["leaves"] for r in trace) <= 16
    assert len({r["leaves"] for r in trace}) == 1


def test_rounds_releases_on_error(spark):
    before = _persistent(spark)
    with pytest.raises(RuntimeError):
        with Rounds(3) as rounds:
            for _ in rounds:
                rounds.checkpoint(spark.range(5))
                rounds.persist(spark.range(7)).count()
                raise RuntimeError("round failed")
    assert not _persistent(spark) - before


@pytest.mark.parametrize("local_threshold", [None, 0],
                         ids=["local", "distributed"])
def test_connected_dup_clusters_keeps_caller_cache(spark, local_threshold):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)],
                                  "doc_a long, doc_b long").persist()
    pairs.count()
    try:
        out = connected_dup_clusters(pairs, local_threshold=local_threshold)
        assert {tuple(r) for r in out.collect()} == {
            (1, 1), (2, 1), (3, 1), (7, 7), (8, 7)}
        out.unpersist()
        assert pairs.storageLevel != StorageLevel.NONE
    finally:
        pairs.unpersist()


def test_spread_memo_is_per_session(spark, monkeypatch):
    monkeypatch.setattr(sparkutil, "_SPREAD_PROBE_MEMO", {})
    df = spark.range(10).coalesce(1)
    assert spread(df, min_partitions=4).rdd.getNumPartitions() == 4
    (key,) = sparkutil._SPREAD_PROBE_MEMO
    # a stale entry claiming the plan is already wide
    sparkutil._SPREAD_PROBE_MEMO[key] = 10**6
    assert spread(df, min_partitions=4) is df
    # the same plan in a new session must be probed afresh
    other = spark.newSession().range(10).coalesce(1)
    assert spread(other, min_partitions=4).rdd.getNumPartitions() == 4


def test_spread_memo_is_bounded(spark, monkeypatch):
    monkeypatch.setattr(sparkutil, "_SPREAD_PROBE_MEMO", {})
    monkeypatch.setattr(sparkutil, "_SPREAD_PROBE_MEMO_CAP", 2)
    for n in range(1, 5):
        spread(spark.range(n).coalesce(1), min_partitions=2)
    assert len(sparkutil._SPREAD_PROBE_MEMO) == 2
