"""Shared helpers for the iterative-join loops (corpus BFS, connected
components, frame closures): the small-regime playbook and the per-round
materialize/release discipline live in ONE place.

`Rounds` owns every cache a fixpoint loop pins: each round's product is
eagerly local-checkpointed, so the next round plans from a leaf instead
of the whole loop history, and every block is released when the loop
exits, on success and on error.

`adaptive_paused` pauses AQE for the duration of a driver-side iterative
loop when the frames involved are known-small: AQE materializes each
shuffle stage with a driver round-trip to re-plan, which is pure
overhead once the driver has already sized every side (measured ~2x on
per-round latency at test scale).  Large regimes leave AQE on for
runtime coalescing and skew splitting.

LIMITATION (by design): `spark.conf` is session-global, so pausing AQE
is only safe while the session runs one query at a time — which is how
the bench, the driver and the batch jobs operate.  Concurrent queries in
a shared session should not call into these loops simultaneously; a
Spark-level fix would need per-query configuration, which Spark does not
offer for AQE.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import DataFrame

# Frames below this row count get broadcast hints inside iterative loops
# (and AQE paused); above it, shuffle joins + AQE.  One shared constant so
# the BFS and CC loops cannot drift apart.
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


@contextmanager
def adaptive_paused(spark, pause: bool, shuffle_partitions: int | None = None):
    """Temporarily disable AQE when `pause` (restoring the prior value,
    even on error).  No-op when `pause` is False.

    `shuffle_partitions`, when given and pausing, also lowers
    spark.sql.shuffle.partitions for the scope: with AQE off nothing
    coalesces post-shuffle, so a small-regime iterative loop otherwise
    pays the full default partition count in empty tasks per round
    (measured ~2x on the CC chain fixture at local[32])."""
    before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    before_sp = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        if pause:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            if shuffle_partitions is not None:
                spark.conf.set("spark.sql.shuffle.partitions",
                               str(shuffle_partitions))
        yield before
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", before)
        spark.conf.set("spark.sql.shuffle.partitions", before_sp)


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
    - `checkpoint(df)` eagerly local-checkpoints `df` and returns it with
      its row count (one job).  A persisted frame keeps its lineage in the
      logical plan, so a loop that feeds each round's persisted output into
      the next re-analyzes a plan that grows every round (the corpus BFS
      frontier measured 1 -> 15 -> 86 -> 456 -> 2392 plan leaves over five
      rounds); a checkpoint is a single leaf.  It is stored at most one
      shuffle wide (`spark.sql.shuffle.partitions`): a state grown by
      `union` would otherwise gain partitions, and tasks, every round.
    - `persist(df)` caches a frame the loop reads more than once.  A frame
      the caller already cached is returned as is and stays the caller's.
    - `release(*dfs)` drops owned frames once nothing will read them.
      Leaving the `with` block releases every frame still owned.
    - `keep(df)` hands an owned frame to a lazily returned result: its
      blocks are reclaimed by the ContextCleaner once that result is
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
        # (frame, checkpointed JVM RDD or None for a persisted frame)
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

    def persist(self, df: DataFrame) -> DataFrame:
        if df.storageLevel != StorageLevel.NONE:
            return df
        df = df.persist()
        self._owned.append((df, None))
        return df

    def keep(self, df: DataFrame) -> DataFrame:
        self._owned = [(d, r) for d, r in self._owned if d is not df]
        return df

    def release(self, *dfs: DataFrame) -> None:
        for df in dfs:
            for i, (owned, rdd) in enumerate(self._owned):
                if owned is df:
                    del self._owned[i]
                    # Dataset.unpersist goes through the CacheManager, which
                    # does not track checkpoint blocks: drop the RDD itself
                    if rdd is None:
                        df.unpersist(blocking=False)
                    else:
                        rdd.unpersist(False)
                    break
