"""Presence: replicated per-topic key->metadata state with join/leave diffs.

Reference semantics (ST4/A8):
  - `track` registers (topic, presence_key) with a metadata payload; re-track
    with an unchanged payload is a no-op; changed payload = leave+join update
    (reference: lib/realtime_web/channels/realtime_channel/presence_handler.ex:29-53,122-190)
  - `untrack` removes the key; diffs {joins, leaves} propagate to subscribers
  - full-state sync groups current state per topic
    (reference: presence_handler.ex:193-200, channels/presence.ex:1-12)

The reference replicates state via an ORSWOT CRDT (Phoenix.Tracker), which
hashes keys over a bounded pool of shards (channels/presence.ex:8-11). In
Spark, Structured Streaming's state store *is* the replicated state:
`presence_diffs_sharded` keys `applyInPandasWithState` by (topic, shard),
where shard = hash(presence_key) % N_SHARDS, holds each shard's
presence_key -> meta map and emits a diff row on every effective change.
All events of a key hash to one shard and are replayed there in (ts, seq)
order, which gives the per-key linearization the tracker's shard does.

Batch analogs (oracle-checkable) live beside the stateful operator:
`presence_diffs_batch` computes the same diffs from an ordered event log with
window functions; `presence_state_batch` is the A8 grouping.
"""

from __future__ import annotations

import json
from collections.abc import Iterable
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

PRESENCE_EVENT_DDL = (
    "topic string, presence_key string, action string, meta string, ts timestamp"
)
DIFF_SCHEMA_DDL = (
    "topic string, presence_key string, kind string, meta string, ts timestamp"
)
# state groups per topic; a bounded pool, like the tracker's shard pool
N_SHARDS = 32


def presence_diffs_sharded(events: DataFrame) -> DataFrame:
    """Streaming operator: join/update/leave diffs from PRESENCE_EVENT_DDL
    events (action in 'track', 'untrack'; an optional `seq` column breaks ts
    ties). Input may be a streaming or batch DataFrame.

    Emits kind='join' on the first track of an absent key, kind='update' on
    a re-track with a changed meta (the reference's leave+join collapsed to
    one event), kind='leave' with the last meta on untrack of a present key.
    Unchanged re-tracks and untracks of absent keys emit nothing
    (presence_handler.ex:190).

    State is keyed by (topic, shard), one JSON presence_key -> meta map per
    state row, so the Python state function runs at most
    |topics| x N_SHARDS times per micro-batch instead of once per key, and
    each state row stays O(keys / N_SHARDS).
    """

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        (topic, _shard) = key
        current: dict[str, str] = (
            json.loads(state.get[0]) if state.exists else {}
        )
        rows: list[tuple[Any, ...]] = []
        # concatenate the micro-batch's chunks before sorting: Arrow delivers
        # a group's rows split across frames with no global order guarantee
        frames = [p for p in pdfs if len(p)]
        if frames:
            merged = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
            sort_keys = ["ts", "seq"] if "seq" in merged.columns else ["ts"]
            if len(merged) > 1:
                merged = merged.sort_values(sort_keys, kind="mergesort")
            pkeys = merged["presence_key"].to_numpy()
            actions = merged["action"].to_numpy()
            metas = merged["meta"].to_numpy()
            tss = merged["ts"].to_numpy()
            for pkey, action, meta, ts in zip(pkeys, actions, metas, tss):
                # membership = key IN the map (a stored null meta is still
                # present); .get()-is-None would leak null-meta entries
                # forever and re-join on every track
                in_map = pkey in current
                cur = current.get(pkey)
                if action == "track":
                    if not in_map:
                        current[pkey] = meta
                        rows.append((topic, pkey, "join", meta, ts))
                    elif cur != meta:
                        current[pkey] = meta
                        rows.append((topic, pkey, "update", meta, ts))
                elif action == "untrack" and in_map:
                    rows.append((topic, pkey, "leave", cur, ts))
                    del current[pkey]
        if current:
            state.update((json.dumps(current),))
        else:
            state.remove()
        if rows:
            yield pd.DataFrame(
                rows, columns=["topic", "presence_key", "kind", "meta", "ts"]
            )

    sharded = events.withColumn(
        "_shard", F.pmod(F.xxhash64("presence_key"), F.lit(N_SHARDS))
    )
    return sharded.groupBy("topic", "_shard").applyInPandasWithState(
        fn,
        outputStructType=DIFF_SCHEMA_DDL,
        stateStructType="state_json string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def presence_diffs_batch(events: DataFrame) -> DataFrame:
    """Batch/oracle analog of the stateful diff operator: replay the event log
    per (topic, presence_key) in ts order with lag() and emit the same
    join/update/leave/no-op decisions. One shuffle on the state key."""
    order = ["ts", "seq"] if "seq" in events.columns else ["ts"]
    w = Window.partitionBy("topic", "presence_key").orderBy(*order)
    lagged = events.withColumn("prev_meta", F.lag("meta").over(w)).withColumn(
        "prev_action", F.lag("action").over(w)
    )
    # present before this event <=> previous surviving meta is non-null; with
    # track/untrack only, that's prev_action == 'track' (untrack clears)
    present_before = F.col("prev_action") == "track"
    kind = (
        F.when((F.col("action") == "track") & ~F.coalesce(present_before, F.lit(False)), "join")
        .when(
            (F.col("action") == "track")
            & present_before
            & ~F.col("prev_meta").eqNullSafe(F.col("meta")),
            "update",
        )
        .when((F.col("action") == "untrack") & F.coalesce(present_before, F.lit(False)), "leave")
    )
    out = lagged.withColumn("kind", kind).filter(F.col("kind").isNotNull())
    meta_out = F.when(F.col("kind") == "leave", F.col("prev_meta")).otherwise(F.col("meta"))
    return out.select("topic", "presence_key", "kind", meta_out.alias("meta"), "ts")


def presence_state_batch(events: DataFrame) -> DataFrame:
    """A8: current state per (topic, presence_key) = last surviving track.
    Output one row per present key with its latest meta."""
    order = (
        [F.desc("ts"), F.desc("seq")] if "seq" in events.columns else [F.desc("ts")]
    )
    w = Window.partitionBy("topic", "presence_key").orderBy(*order)
    last = (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return last.filter(F.col("action") == "track").select(
        "topic", "presence_key", "meta", F.col("ts").alias("tracked_at")
    )
