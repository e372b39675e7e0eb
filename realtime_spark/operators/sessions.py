"""Gap-based sessionization of event streams (beyond-reference analytics over
the engine's event/connection logs — the batch analog of the reference's
connection-lifecycle accounting: joins/s, concurrent users, idle shutdown).

A session = maximal run of a key's events with no gap >= `gap_seconds`.
Shape: one shuffle on the key for the ordering window, then the session id is
a running sum of new-session flags — no self-join, no explode. At 100 TB
sessionizing is exactly this one keyed window; Structured Streaming's native
`session_window` is the streaming lift of the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from realtime_spark.functions.timeutil import epoch_fraction


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Assign a session index per key: 0-based, incremented whenever the gap
    to the previous event is >= gap_seconds. Adds `session_id` (bigint)."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).asc())
    prev_ts = F.lag(F.col(ts_col)).over(w)
    new_session = F.when(
        prev_ts.isNull()
        | (epoch_fraction(ts_col) - epoch_fraction(prev_ts) >= gap_seconds),
        1,
    ).otherwise(0)
    running = F.sum(new_session).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("session_id", (running - 1).cast("bigint"))


def session_stats(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Per-session aggregate: start/end, event count, duration seconds.
    The groupBy reuses the sessionize window's partitioning (same keys), so
    Catalyst plans a single exchange for the whole pipeline."""
    s = sessionize(df, key_cols, ts_col, gap_seconds)
    return s.groupBy(*key_cols, "session_id").agg(
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max(epoch_fraction(ts_col)) - F.min(epoch_fraction(ts_col)))
        .cast("bigint")
        .alias("duration_sec"),
    )


def streaming_sessions(
    events: DataFrame,
    key_cols: list[str],
    gap_seconds: int = 1800,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming lift: native session_window aggregation with watermarking —
    the same session semantics over an unbounded stream (late events beyond
    the watermark are dropped rather than reopening closed sessions)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            *key_cols, F.session_window(F.col("ts"), f"{gap_seconds} seconds")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            *key_cols,
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )
