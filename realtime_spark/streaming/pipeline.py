"""Streaming rate accounting (A6/ST7 in native Structured Streaming form).

The batch analog (`operators/rate_limit.py`) buckets to epoch seconds and
runs a RANGE window; in streaming the same semantics are a sliding
event-time window aggregation with a watermark bounding state:

    groupBy(key, window(ts, "60 seconds", "1 second")).count()

Every event lands in 60 overlapping windows; a window's final count is the
trailing-60s sum at its end second — the reference's ring-buffer sum
(reference: lib/realtime/rate_counter/rate_counter.ex:26-27,197-224).

Scale notes: state is bounded by watermark x key cardinality (tenants), not
event volume; the slide granularity (1 s) matches the reference's tick. For
coarser cost, widen the slide and divide by the window length — the
avg-per-second semantics survive.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WINDOW = "60 seconds"
SLIDE = "1 second"

_UNIT_SECONDS = {
    "millisecond": 0.001, "second": 1, "minute": 60, "hour": 3600, "day": 86400,
}


def _duration_seconds(spec: str) -> float:
    """Parse a Spark interval string ('60 seconds', '1 minute') to seconds.
    Taking only the leading number would silently divide a '1 minute'
    window's sum by 1, inflating avg_per_sec 60x."""
    n, unit = spec.split()
    return float(n) * _UNIT_SECONDS[unit.rstrip("s").lower()]


def streaming_rate(events: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Sliding event-time rate per key: one row per (key, window) with the
    trailing-window event count and per-second average."""
    win_seconds = _duration_seconds(WINDOW)
    return (
        events.withWatermark("ts", "2 minutes")
        .groupBy(*keys, F.window(F.col("ts"), WINDOW, SLIDE).alias("win"))
        .agg(F.count(F.lit(1)).alias("window_sum"))
        .select(
            *keys,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "window_sum",
            (F.col("window_sum") / F.lit(win_seconds)).alias("avg_per_sec"),
        )
    )
