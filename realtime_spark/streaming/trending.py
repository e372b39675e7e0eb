"""Streaming trending counts with EVENT-TIME state expiry: per key, a
stateful operator maintains trailing-window hourly counts and evicts hours
older than the window relative to the maximum event time it has seen —
deterministic TTL semantics (a function of the data, not of wall clock),
so the streamed fold is exactly testable against a batch computation.

This is the "what's hot right now" operator (trending topics/types over
the last N hours) with bounded state: each key's state is at most
`window_hours` (hour -> count) entries regardless of how long the stream
runs — the eviction is what keeps a forever-running trending query from
accumulating unbounded history, the same role the reference's 60x1s ring
buffer plays for rate counters (rate_counter.ex:26-27).

Scale shape: one stateful shuffle keyed by the trend key; per-batch work
is O(batch) to bucket + O(state keys touched) to merge/evict. Emission is
one row per touched key per batch (its current trailing-window total), so
downstream top-k ranks a |keys|-sized frame.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType

from realtime_spark.functions.timeutil import epoch_seconds
from realtime_spark.operators.stats import BASE_EPOCH

OUT_SCHEMA = (
    "key string, as_of_hour bigint, window_count bigint, n_hours_held int"
)
TS = "ts"


def trending_counts_stream(
    events: DataFrame,
    key_col: str,
    window_hours: int = 24,
) -> DataFrame:
    """events (streaming or batch-testable) -> per touched key per batch:
    (key, as_of_hour, window_count, n_hours_held) where window_count sums
    the trailing `window_hours` hourly buckets as of the key's max seen
    hour, and expired buckets are REMOVED from state (n_hours_held pins
    the bound in tests)."""

    hour = F.floor((epoch_seconds(TS) - F.lit(BASE_EPOCH)) / 3600).cast(
        "bigint"
    )
    # a null ts (or key) cannot bucket — and a nullable hour column with
    # any null crosses Arrow as float64, turning state keys into '5.0'
    # and crashing int(); filter BEFORE the state fold so the pandas
    # column stays int64
    bucketed = events.select(
        F.col(key_col).cast("string").alias("key"), hour.alias("hour")
    ).filter(F.col("key").isNotNull() & F.col("hour").isNotNull())

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (k,) = key
        held: dict[str, int] = json.loads(state.get[0]) if state.exists else {}
        touched = False
        for p in pdfs:
            if not len(p):
                continue
            touched = True
            for h, c in p.groupby("hour").size().items():
                held[str(h)] = held.get(str(h), 0) + int(c)
        if not touched or not held:
            return
        max_h = max(int(h) for h in held)
        cutoff = max_h - window_hours + 1
        held = {h: c for h, c in held.items() if int(h) >= cutoff}
        state.update((json.dumps(held),))
        yield pd.DataFrame(
            [
                (
                    k,
                    max_h,
                    sum(held.values()),
                    len(held),
                )
            ],
            columns=["key", "as_of_hour", "window_count", "n_hours_held"],
        )

    return bucketed.groupBy("key").applyInPandasWithState(
        fn,
        outputStructType=OUT_SCHEMA,
        stateStructType="held string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def trending_batch_reference(
    events: DataFrame,
    key_col: str,
    window_hours: int = 24,
) -> DataFrame:
    """Batch analog of the FINAL state: per key, the trailing-window count
    as of the key's max hour — what the last streamed emission per key
    must equal when the stream arrives in event-time order."""
    hour = F.floor((epoch_seconds(TS) - F.lit(BASE_EPOCH)) / 3600).cast(
        "bigint"
    )
    b = events.select(
        F.col(key_col).cast("string").alias("key"), hour.alias("hour")
    )
    mx = b.groupBy("key").agg(F.max("hour").alias("max_h"))
    j = b.join(mx, "key").filter(
        F.col("hour") >= F.col("max_h") - window_hours + 1
    )
    return j.groupBy("key").agg(
        F.max("max_h").alias("as_of_hour"),
        F.count(F.lit(1)).alias("window_count"),
        F.countDistinct("hour").cast("int").alias("n_hours_held"),
    )
