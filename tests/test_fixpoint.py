"""The shared fixpoint helper (`sparkutil.Rounds`) and the loops built on
it: constant-size round plans, corpus reachability against an in-process
BFS in its distributed, local and hybrid runs and under the hop cap, the
connected-components hand-over from distributed rounds to the driver,
release of every pinned block, the width and release of the results the
loops hand back, cache ownership of caller inputs, the session conf no
query may change, the one module that pins frames, the modules that only
tests import, and the spread-probe memo."""

from __future__ import annotations

import pathlib
from collections import deque

import pytest
from pyspark import StorageLevel

from joern_spark import sparkutil
from joern_spark.dataflow.reachable import reachable_pairs
from joern_spark.pipeline.dedup import connected_dup_clusters
from joern_spark.sparkutil import Rounds, spread

CHAIN = 45  # REACHING_DEF hops: >= 10 distributed rounds at two hops a round


def _persistent(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _bfs_pairs(edges, sources, sinks, max_hops=None):
    """(url, source_id, sink_id) reachable backwards from each sink over
    at most `max_hops` REACHING_DEF edges, the sink itself included."""
    into: dict = {}
    for url, src, dst, label, _ in edges:
        if label == "REACHING_DEF":
            into.setdefault((url, dst), set()).add(src)
    out = set()
    for url, sink in sinks:
        seen = {sink: 0}
        todo = deque([sink])
        while todo:
            cur = todo.popleft()
            if max_hops is not None and seen[cur] == max_hops:
                continue
            for nxt in into.get((url, cur), ()):
                if nxt not in seen:
                    seen[nxt] = seen[cur] + 1
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
    return frames, (edges, sources, sinks)


def _reach(*frames, **kw):
    res = reachable_pairs(*frames, **kw)
    try:
        return {tuple(r) for r in res.collect()}
    finally:
        res.unpersist()


@pytest.mark.parametrize("threshold", [None, 0],
                         ids=["default", "large-regime"])
def test_reach_matches_bfs_with_constant_plans(spark, reach_graph, threshold):
    frames, rows = reach_graph
    stats: dict = {}
    assert _reach(*frames, local_threshold=threshold,
                  _stats=stats) == _bfs_pairs(*rows)
    trace = stats["trace"]
    if threshold is None:
        # the 54 REACHING_DEF rows are far below the default threshold:
        # one grouped pass does every hop
        assert stats["local"] and stats["rounds"] == 0 and not trace
        assert stats["residual"] == stats["edges"] == CHAIN + 9
        return
    assert not stats["local"] and stats["rounds"] == len(trace) >= 10
    # every round plans from a checkpointed leaf: the round's query has
    # the same handful of leaves in round 1 and round 20 (without the
    # truncation the count grew about 5x a round)
    assert max(r["leaves"] for r in trace) <= 16
    assert len({r["leaves"] for r in trace}) == 1


@pytest.mark.parametrize("threshold", [None, 0, 50],
                         ids=["local", "distributed", "hybrid"])
@pytest.mark.parametrize("max_hops", [8, 9, 10])
def test_reach_stops_at_the_hop_cap(spark, reach_graph, threshold, max_hops):
    """`max_iterations` caps the hops whichever way they run: the chain's
    sources enter at 1, 5, 9, ... hops from a sink, so one hop too many
    shows at 8 and one too few at 9.  At 50 the two pages' 54 rows take
    two distributed rounds, the branch page is then done and the chain's
    45 rows finish locally."""
    frames, rows = reach_graph
    stats: dict = {}
    got = _reach(*frames, max_iterations=max_hops,
                 local_threshold=threshold, _stats=stats)
    assert got == _bfs_pairs(*rows, max_hops=max_hops)
    assert got != _bfs_pairs(*rows)  # the cap cuts the chain short
    if threshold == 50:
        assert stats["rounds"] == 2 and stats["hops"] == 4
        assert stats["local"] and stats["residual"] == CHAIN


def test_reach_hybrid_finish(spark, reach_graph):
    """60 extra pages whose sinks no REACHING_DEF edge leads into: their
    240 rows keep the residual at the threshold on entry, one distributed
    round finds nothing on them, and the two real pages finish locally."""
    (edges, sources, sinks), (e_rows, s_rows, k_rows) = reach_graph
    noise = [(f"n{u}", 0, d, "REACHING_DEF", "y")
             for u in range(60) for d in range(1, 5)]
    extra = spark.createDataFrame(noise, edges.schema)
    k_rows = k_rows + [(f"n{u}", 0) for u in range(60)]
    s_rows = s_rows + [(f"n{u}", 0) for u in range(60)]
    stats: dict = {}
    got = _reach(edges.unionByName(extra),
                 spark.createDataFrame(s_rows, sources.schema),
                 spark.createDataFrame(k_rows, sinks.schema),
                 local_threshold=294, _stats=stats)
    assert got == _bfs_pairs(e_rows + noise, s_rows, k_rows)
    assert stats["edges"] == 294
    assert stats["rounds"] == 1 and stats["local"]
    assert 0 < stats["residual"] < 294


@pytest.mark.parametrize("kind", ["long", "string"])
@pytest.mark.parametrize("threshold", [None, 0],
                         ids=["local", "distributed"])
def test_reach_keeps_ids_exact(spark, kind, threshold):
    """Ids past 2**53 would round through a float64; the crosspage summary
    graph's ids are strings.  Both come back as they went in."""
    def node(i):
        n = 2**53 + 1 + 2 * i
        return n if kind == "long" else f"f{n}"
    edges = [("u", node(i), node(i + 1), "REACHING_DEF", "x")
             for i in range(6)]
    sources = [("u", node(i)) for i in range(0, 7, 3)]
    sinks = [("u", node(6)), ("u", node(4))]
    want = _bfs_pairs(edges, sources, sinks)
    got = _reach(
        spark.createDataFrame(edges, f"url string, src {kind}, dst {kind}, "
                              "label string, variable string"),
        spark.createDataFrame(sources, f"url string, node_id {kind}"),
        spark.createDataFrame(sinks, f"url string, node_id {kind}"),
        local_threshold=threshold)
    assert got == want and len(want) == 5


def test_no_query_changes_session_conf(spark):
    """Queries share the caller's session, so none may set its conf; the
    stream runner sets the width only on its own cloned session."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "joern_spark"
    setters = {str(p.relative_to(pkg)) for p in pkg.rglob("*.py")
               if "conf.set(" in p.read_text()}
    assert setters == {"streaming/job.py"}

    watched = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = {k: spark.conf.get(k) for k in watched}
    edges = spark.createDataFrame(
        [("u", 1, 2, "REACHING_DEF", "x"), ("u", 2, 3, "REACHING_DEF", "x")],
        "url string, src long, dst long, label string, variable string")
    ends = spark.createDataFrame([("u", 1), ("u", 3)],
                                 "url string, node_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "doc_a long, doc_b long")
    for threshold in (None, 0):
        reachable_pairs(edges, ends, ends,
                        local_threshold=threshold).unpersist()
        assert {k: spark.conf.get(k) for k in watched} == before
        connected_dup_clusters(pairs, local_threshold=threshold).unpersist()
        assert {k: spark.conf.get(k) for k in watched} == before


def test_only_sparkutil_pins_frames():
    """Every pinned frame in the library, the jobs and the driver entry
    comes from `sparkutil` (`persist_result`, `cached`, `Rounds`), so each
    has one owner that releases it."""
    root = pathlib.Path(__file__).resolve().parents[1]
    files = [*(root / "joern_spark").rglob("*.py"), *(root / "jobs").glob("*.py"),
             root / "__spark_entry__.py"]
    pinners = {str(p.relative_to(root)) for p in files
               if any(call in p.read_text()
                      for call in (".persist(", ".cache(", "localCheckpoint("))}
    assert pinners == {"joern_spark/sparkutil.py"}


# modules kept although only tests import them, each for a named next step
TEST_ONLY_MODULES = {
    # ROADMAP direction 10: the stateful join and the partial-CPG-fragment
    # assembly are the stateful-join candidates its stream listener measures
    "joern_spark/streaming/stateful.py",
    # ROADMAP direction 11: the `CpgFrames` closures get a bench query
    "joern_spark/query/frames.py",
}


def test_every_module_is_imported_outside_tests():
    """A module of the library that no `.py` file outside `tests/`
    imports is reached only by its tests: wire it into a job, stream,
    bench query or tool, or delete it."""
    import ast

    root = pathlib.Path(__file__).resolve().parents[1]
    imported = {}
    for path in root.rglob("*.py"):
        rel = path.relative_to(root)
        if rel.parts[0] == "tests":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                names = [node.module, *(f"{node.module}.{a.name}"
                                        for a in node.names)]
            else:
                continue
            for name in names:
                imported.setdefault(name, set()).add(rel)
    unreached = set()
    for path in (root / "joern_spark").rglob("*.py"):
        rel = path.relative_to(root)
        parts = rel.with_suffix("").parts
        module = ".".join(parts[:-1] if parts[-1] == "__init__" else parts)
        users = {f for name, files in imported.items()
                 if name == module or name.startswith(module + ".")
                 for f in files}
        if not users - {rel}:
            unreached.add(str(rel))
    assert unreached == TEST_ONLY_MODULES


def test_cached_releases_on_error(spark):
    before = _persistent(spark)
    with pytest.raises(RuntimeError):
        with sparkutil.cached(spark.range(5)) as df:
            df.count()
            assert _persistent(spark) - before
            raise RuntimeError("scope failed")
    assert not _persistent(spark) - before


def test_rounds_releases_on_error(spark):
    before = _persistent(spark)
    with pytest.raises(RuntimeError):
        with Rounds(3) as rounds:
            for _ in rounds:
                rounds.checkpoint(spark.range(5))
                rounds.checkpoint(spark.range(7).distinct())
                raise RuntimeError("round failed")
    assert not _persistent(spark) - before


def _loop_results(spark, rows):
    """name -> a call returning one shuffled result a loop hands back:
    reachability and connected components in their local and distributed
    runs, the crosspage closure and the clean survivor set, all on inputs
    built in `spark`."""
    from joern_spark.pipeline.clean import corpus_clean
    from joern_spark.query.crosspage import cross_page_flows_transitive
    from joern_spark.session import load_table, testdata_dir
    from joern_spark.sources.corpus import make_chain_pages

    edges, sources, sinks = rows
    reach_in = (
        spark.createDataFrame(edges, "url string, src long, dst long, "
                              "label string, variable string"),
        spark.createDataFrame(sources, "url string, node_id long"),
        spark.createDataFrame(sinks, "url string, node_id long"))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)] + [(100, 101), (101, 102)],
        "doc_a long, doc_b long")
    pages = make_chain_pages(spark, n_docs=64)
    docs = load_table(spark, testdata_dir("0.001"), "documents")
    # three distributed rounds, not the chain's 23: a round at 512
    # partitions takes seconds
    return {
        "reach-local": lambda: reachable_pairs(*reach_in, max_iterations=6),
        "reach-distributed": lambda: reachable_pairs(
            *reach_in, max_iterations=6, local_threshold=0),
        "cc-local": lambda: connected_dup_clusters(pairs),
        "cc-distributed": lambda: connected_dup_clusters(pairs,
                                                         local_threshold=0),
        "crosspage": lambda: cross_page_flows_transitive(pages),
        "clean": lambda: corpus_clean(docs),
    }


LOOP_RESULTS = ["reach-local", "reach-distributed", "cc-local",
                "cc-distributed", "crosspage", "clean"]


@pytest.fixture(scope="module")
def wide_spark(spark):
    """A session as wide as a cluster deployment's batch shuffles."""
    wide = spark.newSession()
    wide.conf.set("spark.sql.shuffle.partitions", "512")
    return wide


def _rows_and_width(df):
    try:
        return ({tuple(r) for r in df.collect()},
                df.rdd.getNumPartitions())
    finally:
        df.unpersist()


@pytest.mark.parametrize("name", LOOP_RESULTS)
def test_loop_results_take_the_aqe_width(spark, wide_spark, reach_graph,
                                         name):
    """A result the loops hand back is as wide as its data, not as
    `spark.sql.shuffle.partitions`: persisted raw, every shuffle under it
    would keep all 512 partitions, and every join over it as many tasks."""
    _, rows = reach_graph
    want, _ = _rows_and_width(_loop_results(spark, rows)[name]())
    got, width = _rows_and_width(_loop_results(wide_spark, rows)[name]())
    assert got == want and want
    assert width <= spark.sparkContext.defaultParallelism


@pytest.mark.parametrize("name", LOOP_RESULTS)
def test_loop_results_leave_no_cache(spark, reach_graph, name):
    """Once the caller unpersists the result nothing the call pinned is
    left: not its intermediate caches, not the checkpoint under it."""
    _, rows = reach_graph
    call = _loop_results(spark, rows)[name]
    before = _persistent(spark)
    out = call()
    assert out.storageLevel.useMemory
    out.unpersist()
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


def _components(pairs):
    """doc -> smallest doc of its component, by graph search."""
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out: dict = {}
    for start in adj:
        if start in out:
            continue
        seen = {start}
        todo = [start]
        while todo:
            for nxt in adj[todo.pop()] - seen:
                seen.add(nxt)
                todo.append(nxt)
        low = min(seen)
        out.update((d, low) for d in seen)
    return out


def _clusters(spark, pairs, **kw):
    out = connected_dup_clusters(
        spark.createDataFrame(pairs, "doc_a long, doc_b long"), **kw)
    try:
        return {r.doc_id: r.cluster_id for r in out.collect()}
    finally:
        out.unpersist()


def test_connected_dup_clusters_hybrid_finish(spark):
    """200 two-doc chains and one 40-doc chain in random id order: 478
    directed edge rows enter the distributed loop, one round settles the
    short chains, and the driver finishes the long chain's residual."""
    import random

    ids = list(range(40))
    random.Random(5).shuffle(ids)
    pairs = [(1000 + 2 * i, 1001 + 2 * i) for i in range(200)]
    pairs += list(zip(ids, ids[1:]))
    stats: dict = {}
    got = _clusters(spark, pairs, _stats=stats, local_threshold=400)
    assert got == _components(pairs)
    assert stats["edges"] == 478
    assert stats["rounds"] >= 1 and not stats["local"]
    assert 0 < stats["residual"] < 400


def test_connected_dup_clusters_counts_directed_rows(spark):
    """n distinct pairs are 2n directed rows: at 2n == local_threshold
    the distributed loop must run (counting pairs would skip it).  A
    repeated pair counts once, a self-loop not at all, and its doc is
    still a cluster of its own."""
    pairs = [(2 * i, 2 * i + 1) for i in range(50)] + [(1, 0), (500, 500)]
    stats: dict = {}
    got = _clusters(spark, pairs, _stats=stats, local_threshold=100)
    assert got == _components(pairs)
    assert stats["rounds"] >= 1 and not stats["local"]
    # below the threshold the driver solves the graph with no round
    assert _clusters(spark, pairs, _stats=stats, local_threshold=101) == got
    assert stats["rounds"] == 0 and stats["local"]
    assert stats["residual"] == 100


def test_connected_dup_clusters_raises_and_releases(spark):
    """A residual still above the threshold after the round cap raises,
    and every block the loop pinned is released on the way out."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(999)],
                                  "doc_a long, doc_b long")
    before = _persistent(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_dup_clusters(pairs, local_threshold=0, max_iterations=2)
    assert _persistent(spark) == before


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
