"""Ordered-step funnel analysis over an event stream.

Beyond-reference analytics operator: given an ordered list of step event
types, compute how far each user progressed — step i counts only if it
happened strictly AFTER the user's completion of step i-1 (first qualifying
occurrence). The classic product-analytics query over the same `events`
stream the realtime engine fans out.

Scale shape (100 TB): one filtered min-aggregation per step (map-side
combined, shuffle keyed by user), chained by per-user joins. All joins are
equi-joins on the user key and reuse the same hash partitioning — with AQE
these collapse into co-partitioned stages; nothing is sorted and no window
over the raw event stream is needed (a per-user ordered window would sort
every event; this sorts nothing).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

USER, TS = "user_id", "ts"


def funnel_steps(events: DataFrame, steps: Sequence[str]) -> DataFrame:
    """Per-user funnel progression. Output: (user, ts_1..ts_n, stage) where
    ts_i is the first qualifying timestamp of step i (NULL if never reached)
    and stage = number of steps completed."""
    if not steps:
        raise ValueError("funnel_steps: steps must be non-empty")
    user = F.col(USER).alias("user")
    # a NULL ts can neither order against other steps nor count as a
    # completion time: drop such events up front (the SQL oracles filter
    # identically)
    events = events.filter(F.col(TS).isNotNull())
    cur: DataFrame | None = None
    for i, step in enumerate(steps, start=1):
        step_events = events.filter(F.col("event_type") == step).select(
            user, F.col(TS).alias("_ts")
        )
        if cur is None:
            reached = step_events.groupBy("user").agg(F.min("_ts").alias(f"ts_{i}"))
            cur = reached
        else:
            prev = f"ts_{i - 1}"
            reached = (
                step_events.join(cur.select("user", prev), "user")
                .filter(F.col("_ts") > F.col(prev))
                .groupBy("user")
                .agg(F.min("_ts").alias(f"ts_{i}"))
            )
            cur = cur.join(reached, "user", "left")
    stage = F.lit(0)
    for i in range(1, len(steps) + 1):
        stage = stage + F.when(F.col(f"ts_{i}").isNotNull(), 1).otherwise(0)
    return cur.withColumn("stage", stage.cast("int"))


def funnel_counts(events: DataFrame, steps: Sequence[str]) -> DataFrame:
    """Users per completed stage (stage 0 rows never enter: only users who
    did step 1 appear in the funnel)."""
    f = funnel_steps(events, steps)
    return f.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted on each
    later active day as (cohort_day, day_offset, n_users).

    Shape: distinct (user, day) -> min-agg per user (cohort) -> equi-join on
    user -> count-distinct per (cohort, offset). All shuffles are keyed by
    user or by the (cohort, offset) group — map-side combined, no windows,
    no event-stream sort. The distinct collapses the raw stream first, so
    the join input is |users x active-days|, not |events|.
    """
    days = events.select(
        F.col(USER).alias("user"), F.to_date(TS).alias("day")
    ).distinct()
    first = days.groupBy("user").agg(F.min("day").alias("cohort_day"))
    ret = days.join(first, "user").select(
        "cohort_day",
        F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        "user",
    )
    return ret.groupBy("cohort_day", "day_offset").agg(
        # (cohort, offset, user) is already unique after the distinct +
        # one-row-per-user join: a plain count avoids the Expand pass a
        # distinct aggregate would add
        F.count(F.lit(1)).alias("n_users")
    )
