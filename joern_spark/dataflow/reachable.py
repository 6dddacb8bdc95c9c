"""Corpus-level reachability as iterative DataFrame self-joins.

The scale path of the north_star: `reachable_pairs` computes which source
nodes reach which sink nodes along REACHING_DEF edges across the WHOLE
corpus at once — one distributed hash join per BFS hop, co-keyed on
(url, node_id) so all traffic stays within a url's partition group.  The
iteration count is bounded by the longest DDG path in any document (small),
NOT by corpus size.

The loop is ADAPTIVE on the one statistic the driver learns for free each
round — the frontier count, which the round's one materializing job
yields as the growth of the visited set:

- **small frontier** (< `broadcast_threshold` rows): the round's joins get
  explicit `broadcast(frontier)` / `broadcast(visited)` hints (no shuffle
  at all), 4 hops are batched per round (intra-round recompute of the
  unpersisted hop chain is a narrow re-probe, measured cheaper than extra
  rounds), and AQE is toggled OFF for the round's action — AQE's
  stage-by-stage re-planning adds one driver round-trip per shuffle stage,
  pure overhead when the driver has already sized every side (measured
  ~2x on per-round latency at sf0.1).
- **large frontier** (real cluster scale): no broadcast hints (Catalyst
  plans shuffle joins over the co-keyed tables), 2 hops per round (a
  deeper unpersisted hop chain would re-execute earlier shuffle joins
  per hop — O(hops^2) shuffles), and AQE stays ON for runtime coalescing
  and skew splitting.

The visited-set subtraction replaces the reference engine's memo table
(Engine.scala:32-38).

This intentionally computes *reachability pairs* (source, sink), not
Joern-exact path enumerations — exact per-document flows come from the
in-UDF engine (joern_spark.dataflow.engine); tests assert the two agree on
reachable pairs for semantics-free edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def reachable_pairs(edges: DataFrame, sources: DataFrame, sinks: DataFrame,
                    max_iterations: int = 128,
                    broadcast_threshold: int | None = None,
                    _stats: dict | None = None) -> DataFrame:
    """BFS backwards from sinks over REACHING_DEF edges.

    edges:   (url, src, dst, label, variable)
    sources: (url, node_id)
    sinks:   (url, node_id)
    returns: (url, source_id, sink_id) pairs where source reaches sink;
             persisted and caller-owned.

    `max_iterations` bounds the total HOP count (default 128, matching
    the pre-round-5 depth of 64 two-hop rounds).  The loop state is ONE
    frame, `visited` (url, cur, sink_id, new), with `new` marking the
    rows the last round added — the frontier.  Each round's `visited` is
    a `sparkutil.Rounds` checkpoint: its row count is the round's one
    job and yields the frontier size (the growth) that drives the
    adaptive plan above, and the next round plans from a single leaf.
    Keeping the frontier inside `visited` also keeps the anti-join's
    right side a single checkpointed relation: Spark 4.1 fails to
    re-resolve an anti-join over a UNION of checkpointed relations
    ("key not found: url#N").  `_stats`, when passed, receives the
    per-round trace (`Rounds`).

    Before the checkpoints each round persisted its frontier, and
    `visited` stayed a union of persisted frames, so every plan embedded
    the whole loop history (about 5x more plan leaves per round).
    Measured with `perfbench/run.py --workload graph --trace 1` on a
    4-core host, seeds 1, 13, 14 and 15: the reach phase took 14.7-17.4 s,
    9.9-11.6 s of it outside any Spark job; with a leaf per round it
    takes 4.7-6.6 s, 2.2-3.0 s outside jobs.
    """
    from joern_spark.sparkutil import (BROADCAST_THRESHOLD, Rounds,
                                       adaptive_paused)
    if broadcast_threshold is None:
        broadcast_threshold = BROADCAST_THRESHOLD
    spark = edges.sparkSession
    rd = (edges.where(F.col("label") == "REACHING_DEF")
          .select("url", "src", "dst"))
    keys = ["url", "cur", "sink_id"]

    def expand(fr, hint_broadcast):
        f = F.broadcast(fr) if hint_broadcast else fr
        return (
            f.alias("f")
            .join(rd.alias("e"), on=[F.col("f.url") == F.col("e.url"),
                                     F.col("f.cur") == F.col("e.dst")])
            .select(F.col("f.url").alias("url"), F.col("e.src").alias("cur"), "sink_id")
        )

    with Rounds(max_iterations, _stats) as rounds:
        # distinct up front so the union-without-distinct invariant below
        # holds even if the caller's sinks frame carries duplicate rows.
        # The seed is counted like every round: the sink set can itself be
        # corpus-scale, and the first round's broadcast decision must see
        # its true cardinality.
        visited, visited_n = rounds.checkpoint(
            sinks.select("url", F.col("node_id").alias("cur"),
                         F.col("node_id").alias("sink_id"))
            .distinct().withColumn("new", F.lit(True)))
        frontier_n = visited_n
        hops_done = 0
        for _ in rounds:
            small = frontier_n < broadcast_threshold
            k = min(4 if small else 2, max_iterations - hops_done)
            # with AQE paused nothing coalesces post-shuffle: the round's
            # one shuffle (the distinct) runs in 8 tasks, not the default
            # partition count
            with adaptive_paused(spark, small, shuffle_partitions=8):
                frontier = visited.where("new").select(*keys)
                # k hops per round; only the round's frontier gets a
                # broadcast hint — hinting (or persisting) the intra-round
                # hop frames forces one driver materialization job per
                # hop, which measured ~20x slower than letting the chain
                # re-probe.
                hops = [expand(frontier, small)]
                for _ in range(k - 1):
                    hops.append(expand(hops[-1], False))
                step = hops[0]
                for h in hops[1:]:
                    step = step.union(h)
                vis = (F.broadcast(visited) if visited_n < broadcast_threshold
                       else visited)
                # anti-join (vs everything seen) BEFORE distinct: the anti
                # is broadcast/narrow in the small regime, so the one
                # shuffle per round (the distinct) sees the reduced set.
                # The fresh rows are disjoint from `visited` by
                # construction, so a plain union is exact.
                fresh = step.join(vis, keys, "left_anti").distinct()
                nxt, n = rounds.checkpoint(
                    visited.withColumn("new", F.lit(False))
                    .unionByName(fresh.withColumn("new", F.lit(True))))
            rounds.release(visited)
            visited, frontier_n, visited_n = nxt, n - visited_n, n
            hops_done += k
            if frontier_n == 0 or hops_done >= max_iterations:
                break

        # the final visited⋈sources join runs with the caller's AQE
        # setting: `visited` can be far larger than the last frontier
        src = sources.select(F.col("url").alias("s_url"), F.col("node_id").alias("source_id"))
        result = (visited.join(src, on=[visited.url == src.s_url, visited.cur == src.source_id])
                  .select("url", "source_id", "sink_id").distinct().persist())
        # materialize the (pair-sized) result before `rounds` releases the
        # checkpoint it is computed from
        result.count()
    return result
