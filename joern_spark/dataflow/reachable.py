"""Corpus-level reachability as iterative DataFrame self-joins.

`walk` is the engine's one per-url fixpoint loop: a BFS backwards along an
edge table across the WHOLE corpus at once — one distributed hash join per
hop, co-keyed on (url, node_id) so all traffic stays within a url's
partition group.  The iteration count is bounded by the longest path in
any document (small), NOT by corpus size.  `reachable_pairs` runs it over
REACHING_DEF edges from the sinks; the `CpgFrames` closures
(`query/frames.py`: `.ast`, `.dominates`, `.controls`, ...) run it from
their cursors with a constant `sink_id`.

Every join is keyed on `url`, so the work left after any round is the
residual: the edges of the urls whose frontier is non-empty.  Distributed
rounds run only while the residual is large; below `local_threshold` rows
one grouped Arrow pass finishes every url's BFS (connected components
finish their residual the same way, in their own loop).  No round changes
session configuration.

The visited-set subtraction replaces the reference engine's memo table
(Engine.scala:32-38).

`reachable_pairs` intentionally computes *reachability pairs* (source,
sink), not Joern-exact path enumerations — exact per-document flows come
from the in-UDF engine (joern_spark.dataflow.engine); tests assert the two
agree on reachable pairs for semantics-free edges.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_KEYS = ["url", "cur", "sink_id"]


def reachable_pairs(edges: DataFrame, sources: DataFrame, sinks: DataFrame,
                    max_iterations: int = 128,
                    local_threshold: int | None = None,
                    _stats: dict | None = None) -> DataFrame:
    """BFS backwards from sinks over REACHING_DEF edges.

    edges:   (url, src, dst, label, variable)
    sources: (url, node_id)
    sinks:   (url, node_id)
    returns: (url, source_id, sink_id) pairs where source reaches sink
             along at most `max_iterations` edges; persisted by
             `sparkutil.persist_result` and caller-owned.

    `walk` runs the BFS and takes `local_threshold` and `_stats`;
    `_stats` also receives the per-round `Rounds` trace.
    """
    from joern_spark.sparkutil import Rounds, persist_result
    seeds = sinks.select("url", F.col("node_id").alias("cur"),
                         F.col("node_id").alias("sink_id"))
    with Rounds(max_iterations, _stats) as rounds:
        visited = walk(rounds, edges.where(F.col("label") == "REACHING_DEF"),
                       seeds, max_iterations, local_threshold, _stats)
        # joined by column name: `visited` and `sources` may share
        # attribute ids when both are filters over one cached frame
        src = sources.select("url", F.col("node_id").alias("cur"))
        # materialize the (pair-sized) result before `rounds` releases the
        # checkpoint it is computed from
        result = persist_result(
            visited.join(src, ["url", "cur"])
            .select("url", F.col("cur").alias("source_id"), "sink_id")
            .distinct())
    return result


def walk(rounds, edges: DataFrame, seeds: DataFrame, max_hops: int,
         local_threshold: int | None = None,
         stats: dict | None = None) -> DataFrame:
    """Every (url, cur, sink_id) a seed reaches backwards, dst -> src, in
    at most `max_hops` hops; the seeds themselves included.

    edges: (url, src, dst)
    seeds: (url, cur, sink_id)

    Every frame it pins is owned by `rounds`, a `sparkutil.Rounds` of at
    least `max_hops` rounds: the caller materializes the result (or
    `keep()`s it) before that block exits.  A constant `sink_id` makes
    it a per-url set closure.

    The loop state is ONE frame, `visited` (url, cur, sink_id, new), with
    `new` marking the rows the last round added — the frontier.  Keeping
    the frontier inside `visited` keeps the anti-join's right side a
    single checkpointed relation: Spark 4.1 fails to re-resolve an
    anti-join over a UNION of checkpointed relations ("key not found").

    Each round first counts the residual, the edges of the urls that
    still have `new` rows.  While it holds at least `local_threshold`
    rows (default `BROADCAST_THRESHOLD`), a distributed round expands the
    frontier two hops (a deeper unpersisted hop chain would re-execute
    earlier shuffle joins per hop) into a `rounds` checkpoint, so the
    next round plans from one leaf.  Below it, `_finish_local` runs the
    rest of every url's BFS in one cogrouped pass.  A threshold of 0
    keeps every hop distributed.

    `stats`, when passed, receives {"rounds": distributed rounds, "hops":
    the hops they ran, "edges": the residual before the first round,
    "residual": the rows the local pass finished (0 if it did not run),
    "local": the local pass ran}.
    """
    from joern_spark.sparkutil import BROADCAST_THRESHOLD
    if local_threshold is None:
        local_threshold = BROADCAST_THRESHOLD
    # an empty residual is finished whatever the threshold
    finish_below = max(local_threshold, 1)
    # a fresh `url` attribute: `edges` and `seeds` may be filters over one
    # cached frame, and the local pass groups both sides by `url`
    rd = edges.select(F.col("url").alias("url"), "src", "dst")

    def expand(fr):
        return (fr.alias("f")
                .join(rd.alias("e"), on=[F.col("f.url") == F.col("e.url"),
                                         F.col("f.cur") == F.col("e.dst")])
                .select(F.col("f.url").alias("url"),
                        F.col("e.src").alias("cur"), "sink_id"))

    # distinct up front so the union-without-distinct invariant below
    # holds even if the caller's seeds frame carries duplicate rows
    visited, visited_n = rounds.checkpoint(
        seeds.distinct().withColumn("new", F.lit(True)))
    frontier_n, hops, n_rounds, n_edges = visited_n, 0, 0, 0
    local = False
    for _ in rounds:
        n_res = 0
        if frontier_n and hops < max_hops:
            residual = rd.join(visited.where("new"), "url", "left_semi")
            n_res = residual.count()
        if not n_rounds:
            n_edges = n_res
        if n_res < finish_below:
            local = n_res > 0
            break
        k = min(2, max_hops - hops)
        step = expand(visited.where("new").select(*_KEYS))
        if k == 2:
            step = step.union(expand(step))
        # the fresh rows are disjoint from `visited` by construction,
        # so a plain union is exact
        fresh = step.join(visited, _KEYS, "left_anti").distinct()
        nxt, n = rounds.checkpoint(
            visited.withColumn("new", F.lit(False))
            .unionByName(fresh.withColumn("new", F.lit(True))))
        rounds.release(visited)
        visited, frontier_n, visited_n = nxt, n - visited_n, n
        hops += k
        n_rounds += 1
    n_res = n_res if local else 0
    logging.getLogger(__name__).info(
        "walk: %d edges, %d rounds, residual %d", n_edges, n_rounds, n_res)
    if stats is not None:
        stats.update(rounds=n_rounds, hops=hops, edges=n_edges,
                     residual=n_res, local=local)
    if local:
        return _finish_local(residual, visited, max_hops - hops)
    return visited.select(*_KEYS)


def _finish_local(residual: DataFrame, visited: DataFrame,
                  hops_left: int) -> DataFrame:
    """Per url, a BFS from each sink's `new` rows over the residual edges,
    at most `hops_left` hops deep; returns every (url, cur, sink_id)
    visited.  `visited` holds every node within the hops run so far and
    its frontier every node at exactly that depth, so this reaches the
    same set as the distributed rounds would.  Arrow keeps ids as they
    are: 64-bit longs stay exact, and the crosspage summary graph's
    string ids take the same path."""
    import pyarrow as pa

    def finish(key, res, vis):
        out = vis.select(_KEYS)
        if not res.num_rows:
            return out
        into: dict = {}
        for s, d in zip(res["src"].to_pylist(), res["dst"].to_pylist()):
            if d is not None:  # a null never equi-joins
                into.setdefault(d, []).append(s)
        seen: dict = {}
        front: dict = {}
        for cur, sink, new in zip(*(vis[c].to_pylist()
                                    for c in ("cur", "sink_id", "new"))):
            seen.setdefault(sink, set()).add(cur)
            if new:
                front.setdefault(sink, []).append(cur)
        cur_col, sink_col = [], []
        for sink, level in front.items():
            got = seen[sink]
            for _ in range(hops_left):
                level = list(dict.fromkeys(
                    p for c in level for p in into.get(c, ()) if p not in got))
                if not level:
                    break
                got.update(level)
                cur_col += level
                sink_col += [sink] * len(level)
        fresh = pa.table({"url": [key[0].as_py()] * len(cur_col),
                          "cur": cur_col, "sink_id": sink_col},
                         schema=out.schema)
        return pa.concat_tables([out, fresh])

    return (residual.groupBy("url").cogroup(visited.groupBy("url"))
            .applyInArrow(finish, visited.select(*_KEYS).schema))
