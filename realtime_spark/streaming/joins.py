"""Stream-stream joins with watermark-bounded state.

The reference correlates two live flows in exactly one place: a DB-sourced
broadcast (INSERT into realtime.messages seen on the replication stream)
must reach the sockets subscribed to its topic, and latency telemetry is
measured between the commit timestamp and the dispatch
(lib/realtime/tenants/replication_connection.ex:379-381,442-448). In Spark
that correlation is a first-class operator: an event-time interval join
between two unbounded streams, with watermarks bounding both buffers.

Spark semantics used here (all built-in, no custom state):
  - both sides get `withWatermark`, so the state store evicts rows whose
    event time is past (max seen - delay) — state is O(rate x interval),
    never O(stream)
  - the join condition is equi on the key PLUS a time-range predicate
    (right.ts between left.ts and left.ts + horizon). Spark derives state
    cleanup bounds from that range; an unbounded condition would grow state
    forever and is rejected for append output
  - the inner join emits as soon as both sides arrive

Scale notes (100 TB/day firehose): state is partitioned by the join key —
the same hash partitioning a batch shuffle join would use, but bounded in
time. Skewed keys (one hot topic) concentrate state; salt the key and
de-salt after the join, or tighten the horizon. The horizon is the product
knob: joins_within("10 seconds") holds 10 s of both streams per key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_spark.functions.timeutil import epoch_fraction


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    horizon: str = "10 seconds",
) -> DataFrame:
    """Event-time interval join: pair each left row with the right rows of
    the same `key` whose `ts` lands in [left ts, left ts + horizon]; both
    sides are watermarked 30 seconds behind their `ts` when streaming.

    Works identically on streaming inputs (watermarked, state-bounded) and
    batch inputs (the same plan without state), so the batch run is the
    oracle for the streaming run. Output columns: key, left ts as `l_ts`,
    right ts as `r_ts`, plus all non-key/non-ts payload columns of both
    sides (left's under their names, right's suffixed `_r` on collision).
    """
    lw = left.withWatermark("ts", "30 seconds") if left.isStreaming else left
    rw = right.withWatermark("ts", "30 seconds") if right.isStreaming else right
    l = lw.select(
        F.col(key).alias("_k"),
        F.col("ts").alias("l_ts"),
        *[c for c in lw.columns if c not in (key, "ts")],
    )
    rcols = [c for c in rw.columns if c not in (key, "ts")]
    taken = set(l.columns)
    r = rw.select(
        F.col(key).alias("_rk"),
        F.col("ts").alias("r_ts"),
        *[
            F.col(c).alias(c if c not in taken else f"{c}_r")
            for c in rcols
        ],
    )
    cond = (
        (F.col("_k") == F.col("_rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon}"))
    )
    out = l.join(r, cond, "inner")
    # one key column: _k and _rk are equal on every inner-join row
    return out.select(
        F.coalesce(F.col("_k"), F.col("_rk")).alias(key),
        *[c for c in out.columns if c not in ("_k", "_rk")],
    )


def delivery_latency(
    sends: DataFrame,
    delivers: DataFrame,
    horizon: str = "60 seconds",
) -> DataFrame:
    """Commit-to-dispatch latency per message: join the send stream to the
    delivery stream on (topic, msg_id) within `horizon`, emit per-message
    latency ms — the replication_connection.ex:442-448 telemetry as a
    relational operator. Unmatched sends age out of state at the watermark
    (the reference's equivalent: a message never dispatched just isn't
    measured)."""
    s = (sends.withWatermark("ts", "2 minutes") if sends.isStreaming else sends).select(
        F.col("topic").alias("_k"), F.col("msg_id").alias("_id"), F.col("ts").alias("sent_at")
    )
    d = (
        delivers.withWatermark("ts", "2 minutes")
        if delivers.isStreaming
        else delivers
    ).select(
        F.col("topic").alias("_dk"),
        F.col("msg_id").alias("_did"),
        F.col("ts").alias("delivered_at"),
    )
    cond = (
        (F.col("_k") == F.col("_dk"))
        & (F.col("_id") == F.col("_did"))
        & (F.col("delivered_at") >= F.col("sent_at"))
        & (F.col("delivered_at") <= F.col("sent_at") + F.expr(f"INTERVAL {horizon}"))
    )
    return (
        s.join(d, cond, "inner")
        .select(
            F.col("_k").alias("topic"),
            F.col("_id").alias("msg_id"),
            "sent_at",
            "delivered_at",
            (
                (epoch_fraction("delivered_at") - epoch_fraction("sent_at"))
                * 1000.0
            ).cast("long").alias("latency_ms"),
        )
    )
