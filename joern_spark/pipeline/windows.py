"""Event-time windowing operators over `events(event_id, ts, user_id,
event_type, value, props)`.

These are the batch forms; `joern_spark.streaming.job` reuses the exact
same expressions under `readStream` + `withWatermark` (Structured
Streaming's batch/stream unification means the plan is shared).

All money/value aggregates go through `round(sum*100) as bigint` style
normalization so results hash identically against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F



def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling-window counts + value sums per event_type."""
    w = F.window("ts", width)
    return (
        events.groupBy(w.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") * 100).cast("long").alias("value_cents"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


def sliding_counts(events: DataFrame, width: str = "1 hour", slide: str = "15 minutes") -> DataFrame:
    """Sliding-window event counts (width/slide must divide evenly)."""
    w = F.window("ts", width, slide)
    return (
        events.groupBy(w.alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "n_events")
    )


def session_stats(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session ends after `gap` of inactivity.

    Batch form uses the classic gaps-and-islands construction (lag + running
    sum) so the DuckDB oracle can express the identical computation;
    `session_window()` over a stream produces the same sessions.
    """
    gap_expr = F.expr(f"INTERVAL {gap}")
    by_user = Window.partitionBy("user_id").orderBy("ts")
    flagged = events.withColumn(
        "new_session",
        F.when(
            F.col("ts") > F.coalesce(F.lag("ts").over(by_user) + gap_expr, F.to_timestamp(F.lit("1900-01-01"))),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    with_sid = flagged.withColumn(
        "session_seq", F.sum("new_session").over(by_user.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        with_sid.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("last_event_ts"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value") * 100).cast("long").alias("value_cents"),
        )
        .select("user_id", "session_seq", "session_start", "last_event_ts", "n_events", "value_cents")
    )


def top_users_by_window(events: DataFrame, width: str = "1 day", k: int = 3) -> DataFrame:
    """Top-k users per tumbling window by spend — window function demo."""
    base = (
        events.groupBy(F.window("ts", width).alias("win"), "user_id")
        .agg(F.round(F.sum("value") * 100).cast("long").alias("value_cents"))
        .select(F.col("win.start").alias("window_start"), "user_id", "value_cents")
    )
    w = Window.partitionBy("window_start").orderBy(F.desc("value_cents"), F.asc("user_id"))
    return base.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
