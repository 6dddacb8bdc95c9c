"""Shared helpers for the iterative-join loops (the per-url reachability
walk, which also runs the `CpgFrames` closures, and connected
components) and the one place in `joern_spark/` that pins a frame.

Every pinned frame has exactly one owner, and comes from one of two
helpers here:

- `persist_result(df)` materializes a result the caller owns; the
  caller releases it with `unpersist()` once nothing reads it.  A
  function that returns one hands that duty to its own caller.
- `cached(df)` pins a frame that one scope reads more than once and
  releases it when the scope exits, on error too.

No other module calls `.persist(`, `.cache(` or `localCheckpoint(`
(a source-scan test pins this).  So a query that releases what it is
handed leaves no cache behind, and a later query cannot read a frame
an earlier one leaked.

`Rounds` owns every block a fixpoint loop pins: each round's product is
local-checkpointed, so the next round plans from a leaf instead of the
whole loop history, and every checkpoint is released when the loop
exits, on success and on error.  A loop persists nothing itself: the
shuffled result it hands back goes through `persist_result`, which
stores it at the width AQE chose rather than `spark.sql.shuffle.partitions`
wide.

Reachability and connected components run distributed rounds only while
their residual (the edges still in play) holds at least
`BROADCAST_THRESHOLD` rows, then finish it in one local pass.  Neither
changes session configuration: AQE stays on for runtime coalescing and
skew splitting.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

# Below this many residual edge rows the reachability BFS finishes in
# one grouped pass and connected components finish on the driver.  One
# shared constant so the two loops cannot drift apart.
BROADCAST_THRESHOLD = 100_000


# planning metadata only (a partition count per session and plan); the
# cap keeps a long-lived process from growing it without bound
_SPREAD_PROBE_MEMO: dict = {}
_SPREAD_PROBE_MEMO_CAP = 256


def spread(df, min_partitions: int | None = None, by: str | None = None):
    """Floor the partition count of a CPU-heavy stage's input at the
    cluster width (default: `sc.defaultParallelism`).

    Rationale (spark_optimization_guide §2/§6): parquet scan tasks are
    row-group-granular — a table written as one file with one row group
    yields ONE non-empty scan partition no matter how
    `maxPartitionBytes`/`minPartitionNum` split the byte ranges, so every
    downstream narrow stage (mapInPandas kernels, codegen projections)
    runs single-task and leaves the other cores idle.  The driver-side
    partition probe makes this SCALE-ADAPTIVE, not a local[32] constant:
    at real corpus scale the scan already has ≥ cores partitions and this
    is a no-op (no shuffle is ever added to an already-parallel input);
    locally it converts a few-MB exchange into a cores-wide stage.  Only
    call it on cheap-to-plan frames (scans/selects): the probe builds the
    physical plan once.

    `by` names a (unique-ish) key column to HASH-repartition on.  Prefer
    it: a keyless round-robin repartition first pays a LOCAL SORT of its
    input inside the (single) upstream task (sortBeforeRepartition, on by
    default since SPARK-23207 so retried tasks reproduce their row→
    partition assignment) — measured 3x on a 1M-row single-row-group
    scan; a deterministic hash key needs no such sort and is retry-safe
    by construction (guide §2.5).
    """
    if df.isStreaming:  # micro-batch partitioning is the stream's own affair
        return df
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    try:
        # memoize the probe per (session, analyzed-plan semantic hash):
        # df.rdd builds the full physical plan (~130 ms measured), and a
        # bench session re-plans the SAME scans dozens of times.  This
        # caches planning METADATA (a partition count), never data or
        # results; if the underlying files change under an identical plan
        # in a long-lived session, the worst case is a stale spread
        # decision (an unneeded or skipped repartition) — correctness is
        # unaffected either way.
        # The JVM session UUID, not id() of its py4j wrapper: a wrapper's
        # id can be reused by a later session's wrapper once it is freed.
        key = (spark._jsparkSession.sessionUUID(),
               df._jdf.queryExecution().analyzed().semanticHash())
        current = _SPREAD_PROBE_MEMO.get(key)
        if current is None:
            current = df.rdd.getNumPartitions()
            if len(_SPREAD_PROBE_MEMO) >= _SPREAD_PROBE_MEMO_CAP:
                del _SPREAD_PROBE_MEMO[next(iter(_SPREAD_PROBE_MEMO))]
            _SPREAD_PROBE_MEMO[key] = current
    except Exception:  # planning-probe failure must never break the query
        return df
    if current >= target:
        return df
    from pyspark.sql import functions as F
    return df.repartition(target, F.col(by)) if by else df.repartition(target)


def persist_result(df: DataFrame) -> DataFrame:
    """Persist `df` as a caller-owned result, as many partitions wide as
    AQE makes it, and materialize it; the caller releases it with
    `unpersist()`.

    `df.persist()` would keep every shuffle of `df` at
    `spark.sql.shuffle.partitions` (8192 on a cluster, docs/DEPLOY.md):
    Spark builds a cached plan with the internal
    `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=false`, so
    AQE never coalesces its final shuffle, and every join over the result
    inherits that width.  So the frame is first local-checkpointed
    lazily, which runs its shuffles under AQE, and the checkpoint's leaf
    is persisted and counted in one job.  The checkpoint RDD is dropped
    right after: the cache holds the rows, and a `LogicalRDD` leaf is
    unique per call, so no other frame's cached twin can share (and be
    evicted with) its plan.  Like any local checkpoint, a cached block
    lost with its executor cannot be recomputed.

    Measured on a 4-CPU host, `perfbench/run.py --workload graph
    --seconds 10`, ten alternating pairs of the loops on this helper (and
    on a checkpointed connected-components `prop`) against raw
    `persist()`: median `wall_s` 7.84 -> 6.65 s (10 of 10 pairs); a
    traced run's Spark tasks fell 418 -> 76 (connected components 271 ->
    22, reachability 119 -> 26).  Setting the internal conf to true in `session.py` instead gave
    a similar gain in a prototype (7.57 -> 6.00 s, 4 of 5 pairs) but was
    not taken: it is internal, and it changes the width of every cached
    plan, not only of these results.
    """
    jdf = df._jdf.localCheckpoint(False)
    rdd = jdf.queryExecution().analyzed().rdd()
    out = DataFrame(jdf, df.sparkSession).persist()
    try:
        out.count()
    except BaseException:
        out.unpersist(blocking=False)
        raise
    finally:
        # Dataset.unpersist goes through the CacheManager, which does not
        # track checkpoint blocks: drop the RDD itself
        rdd.unpersist(False)
    return out


@contextmanager
def cached(df: DataFrame):
    """Pin `df` for the `with` block and release it on exit, on error
    too: for a frame the block reads more than once, whose reads all
    finish inside the block.

        with cached(frame):
            out = persist_result(frame.join(frame, ...))

    The pin is a plain `persist()`, so a shuffle in `df` stays
    `spark.sql.shuffle.partitions` wide (see `persist_result`): pin an
    input that is not shuffled, or one whose width is fixed already.
    """
    df.persist()
    try:
        yield df
    finally:
        df.unpersist(blocking=False)


class Rounds:
    """Materialization and release for one driver-side fixpoint loop.

        with Rounds(max_rounds, stats) as rounds:
            state, n = rounds.checkpoint(seed)
            for _ in rounds:
                nxt, m = rounds.checkpoint(step(state))
                rounds.release(state)
                state, n = nxt, m
                ...

    - Iterating yields at most `max_rounds` round numbers: the loop's cap.
      A loop that must converge raises from the `for ... else`.
    - `checkpoint(df)` local-checkpoints `df` and returns it with its row
      count (one job).  A persisted frame keeps its lineage in the
      logical plan, so a loop that feeds each round's persisted output into
      the next re-analyzes a plan that grows every round (the corpus BFS
      frontier measured 1 -> 15 -> 86 -> 456 -> 2392 plan leaves over five
      rounds); a checkpoint is a single leaf.  It is stored at most one
      shuffle wide (`spark.sql.shuffle.partitions`): a state grown by
      `union` would otherwise gain partitions, and tasks, every round.
    - Nothing is persisted: a raw persisted shuffle keeps all
      `spark.sql.shuffle.partitions` partitions (see `persist_result`), a
      checkpoint keeps the width AQE chose.  A frame the loop reads more
      than once is a checkpoint too; the shuffled result it returns goes
      through `persist_result`.
    - `release(*dfs)` drops owned checkpoints once nothing will read them.
      Leaving the `with` block releases every frame still owned.
    - `keep()` hands every frame still owned to a lazily returned result:
      their blocks are reclaimed by the ContextCleaner once that result is
      garbage-collected.

    Every checkpoint taken inside a round appends {"rows", "leaves",
    "wall_s"} to `trace` (and to `stats["trace"]` when a dict is given):
    the rows materialized, the analyzed-plan leaf count of the round's
    query and the time since the round started.  The leaf count is the
    plan-growth witness: it stays constant when lineage is truncated.
    """

    def __init__(self, max_rounds: int, stats: dict | None = None):
        self.max_rounds = max_rounds
        self.trace: list[dict] = []
        if stats is not None:
            stats["trace"] = self.trace
        # (frame, its checkpointed JVM RDD)
        self._owned: list[tuple[DataFrame, object]] = []
        self._t0: float | None = None

    def __enter__(self) -> "Rounds":
        return self

    def __exit__(self, *exc) -> None:
        self.release(*(df for df, _ in self._owned))

    def __iter__(self):
        for r in range(self.max_rounds):
            self._t0 = time.perf_counter()
            yield r

    def checkpoint(self, df: DataFrame) -> tuple[DataFrame, int]:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves().size()
        # lazy checkpoint + count of its RDD: the count is the job that
        # materializes the checkpoint, where eager=True would run its own
        # count and discard the number
        width = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        jdf = df.coalesce(width)._jdf.localCheckpoint(False)
        rdd = jdf.queryExecution().analyzed().rdd()
        rows = rdd.count()
        out = DataFrame(jdf, df.sparkSession)
        self._owned.append((out, rdd))
        if self._t0 is not None:
            self.trace.append({"rows": rows, "leaves": leaves,
                               "wall_s": time.perf_counter() - self._t0})
        return out, rows

    def keep(self) -> None:
        self._owned.clear()

    def release(self, *dfs: DataFrame) -> None:
        for df in dfs:
            for i, (owned, rdd) in enumerate(self._owned):
                if owned is df:
                    del self._owned[i]
                    # Dataset.unpersist goes through the CacheManager, which
                    # does not track checkpoint blocks: drop the RDD itself
                    rdd.unpersist(False)
                    break
