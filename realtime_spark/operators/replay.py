"""Broadcast-message replay: time-ordered top-k scan with dedup (S5/W1/P15/ST3).

Reference semantics:
  - replay returns the latest <= min(limit, 25) private broadcast messages for
    a topic with `inserted_at >= since AND inserted_at < now() + 1 minute`,
    ordered DESC for the scan then reversed to oldest-first delivery
    (reference: lib/realtime/messages.ex:22-67, hard limit at :10).
  - replayed message ids are excluded from live fan-out (P15, reference:
    lib/realtime_web/channels/realtime_channel/message_dispatcher.ex:100,183-188).
  - the store is day-partitioned; the `now()+1m` upper bound excludes future
    partitions (O11, reference: migrations/20241030150047, messages.ex:47-58).

Spark-first: per-topic top-k is a window row_number over (topic) ordered by
(inserted_at DESC, id DESC) — one shuffle by topic, pruned by the partition
filter on day(inserted_at) when the store is written partitioned (see
messages.py). For the single-topic point lookup the filter prunes first, so
the window runs on a sliver.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HARD_LIMIT = 25  # reference: lib/realtime/messages.ex:10


def replay_topk(
    messages: DataFrame,
    since: datetime | str,
    until: datetime | str | None = None,
    limit: int = HARD_LIMIT,
) -> DataFrame:
    """Latest <= k private broadcast messages per topic in [since, until),
    oldest-first.

    The scan runs for every topic at once (the scale path: one windowed
    pass instead of per-topic point queries).
    """
    k = max(1, min(int(limit), HARD_LIMIT))
    df = messages.filter(F.col("extension") == "broadcast")
    df = df.filter(F.col("private"))
    df = df.filter(F.col("inserted_at") >= F.lit(since))
    if until is not None:
        df = df.filter(F.col("inserted_at") < F.lit(until))
    if "day" in df.columns:
        # O11: mirror the timestamp range onto the partition column so a
        # day-partitioned store prunes partitions (foldable bounds ->
        # PartitionFilters); conservative at the edges, exact after the
        # inserted_at predicates above re-filter rows
        df = df.filter(F.col("day") >= F.to_date(F.lit(since)))
        if until is not None:
            df = df.filter(F.col("day") <= F.to_date(F.lit(until)))
    w = Window.partitionBy("topic").orderBy(
        F.col("inserted_at").desc(), F.col("id").desc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
        .orderBy("topic", F.col("inserted_at").asc(), F.col("id").asc())
    )


def exclude_replayed(live: DataFrame, replayed: DataFrame) -> DataFrame:
    """P15: drop live messages whose id was already delivered by replay
    (anti-join on id; the replayed set is tiny -> broadcast)."""
    return live.join(
        F.broadcast(replayed.select("id").distinct()), on="id", how="left_anti"
    )
