"""Per-tenant sliding-window rate accounting (A6/ST7) and load-shed gate (P16).

Reference: RateCounter keeps 60 x 1-second buckets; avg = sum/len/tick and a
limit-trigger flag with hysteresis (reference:
lib/realtime/rate_counter/rate_counter.ex:26-27,197-224,259-279). Limits gate
joins/events/presence/db-events per tenant (reference:
lib/realtime_web/channels/realtime_channel.ex:646-663,
lib/realtime/tenants/batch_broadcast.ex:170-184); on a triggered db-events
limit the poller sheds the whole poll batch
(reference: lib/extensions/postgres_cdc_rls/replication_poller.ex:404-414).

Spark-first: bucket to epoch seconds, then a RANGE window frame of the
trailing 60 s — one shuffle on the key, no self-join, expressible identically
in ANSI SQL for the oracle. In streaming the same shape runs as a sliding
event-time window (see streaming/pipeline.py).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from realtime_spark.functions.timeutil import epoch_seconds

WINDOW_SECONDS = 60  # reference: rate_counter.ex:26-27


def second_buckets(df: DataFrame, keys: Sequence[str], ts_col: str = "ts") -> DataFrame:
    """1-second bucket counts per key (the GenCounter tick stream, A7)."""
    return (
        df.withColumn("sec", epoch_seconds(ts_col))
        .groupBy(*keys, "sec")
        .agg(F.count(F.lit(1)).cast("long").alias("bucket_count"))
    )


def sliding_rate(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str = "ts",
    window_seconds: int = WINDOW_SECONDS,
) -> DataFrame:
    """Trailing-window sum + per-second average at every active second.

    avg divides by the full window length even when fewer buckets are filled —
    the reference divides by bucket-list length x tick seconds, which equals 60
    once the ring buffer is warm; we match the warm-state semantics.
    """
    buckets = second_buckets(df, keys, ts_col)
    w = (
        Window.partitionBy(*keys)
        .orderBy("sec")
        .rangeBetween(-(window_seconds - 1), 0)
    )
    return buckets.select(
        *keys,
        "sec",
        "bucket_count",
        F.sum("bucket_count").over(w).alias("window_sum"),
    ).withColumn(  # derive from the materialized column: one window agg
        "avg_per_sec", F.col("window_sum") / F.lit(window_seconds)
    )


def rate_limit_flags(
    df: DataFrame,
    keys: Sequence[str],
    limit_per_sec: float,
    ts_col: str = "ts",
    window_seconds: int = WINDOW_SECONDS,
) -> DataFrame:
    """A6 limit trigger: flag seconds where the sliding average exceeds the
    tenant limit (`max_events_per_second` etc.)."""
    rates = sliding_rate(df, keys, ts_col, window_seconds)
    return rates.withColumn("limit_triggered", F.col("avg_per_sec") > F.lit(limit_per_sec))


def shed_rate_limited(
    events: DataFrame,
    keys: Sequence[str],
    limit_per_sec: float,
    ts_col: str = "ts",
    window_seconds: int = WINDOW_SECONDS,
) -> DataFrame:
    """P16: drop events that land in a limit-triggered second for their key
    (the poller's whole-batch shed, expressed per bucket)."""
    flags = rate_limit_flags(events, keys, limit_per_sec, ts_col, window_seconds)
    triggered = flags.filter(F.col("limit_triggered")).select(
        *keys, F.col("sec").alias("_shed_sec")
    )
    e = events.withColumn("_sec", epoch_seconds(ts_col))
    cond = [e[k] == triggered[k] for k in keys] + [
        e["_sec"] == triggered["_shed_sec"]
    ]
    # no broadcast hint: the triggered (key, sec) set is unbounded (one
    # row per limited second per key over the whole history) and a forced
    # broadcast bypasses the size guard; AQE still broadcasts it when it
    # is actually small
    joined = e.join(triggered, cond, "left_anti")
    return joined.drop("_sec")


def rate_limit_edges(
    df: DataFrame,
    keys: Sequence[str],
    limit_per_sec: float,
    ts_col: str = "ts",
    window_seconds: int = WINDOW_SECONDS,
) -> DataFrame:
    """Trigger/un-trigger transitions of the limit flag — the reference
    fires telemetry exactly on these edges: `rate_limit_triggered` when the
    average first exceeds the limit and the matching un-trigger when it
    falls back under (reference: lib/realtime/rate_counter/rate_counter.ex:
    197-224 check, 259-279 edge emission on state change).

    Event-driven semantics: edges exist only at ACTIVE seconds, so the
    untrigger of a key that goes silent while triggered is emitted at its
    next active second (or never) — the reference's per-second ticker
    would untrigger ~one window after the burst; replaying these edges as
    a timeline must treat a trailing 'trigger' as expiring one window
    after the last counted event.

    lag() over the per-second flag stream per key; the first active second
    of a key is an edge when already triggered (lag NULL -> treated as
    untriggered, matching a fresh counter). Output: (*keys, sec, edge)
    with edge in {'trigger', 'untrigger'}. One window over the already-
    aggregated per-second frame — row counts are seconds, not events.
    """
    flags = rate_limit_flags(df, keys, limit_per_sec, ts_col, window_seconds)
    w = Window.partitionBy(*keys).orderBy("sec")
    prev = F.lag("limit_triggered", 1, False).over(w)
    edges = flags.withColumn(
        "edge",
        F.when(F.col("limit_triggered") & ~prev, F.lit("trigger")).when(
            ~F.col("limit_triggered") & prev, F.lit("untrigger")
        ),
    )
    return edges.filter(F.col("edge").isNotNull()).select(*keys, "sec", "edge")


def client_window_limit(
    df: DataFrame,
    client_keys: Sequence[str],
    max_calls: int = 5,
    window_seconds: int = 30,
    seq_col: str | None = None,
) -> DataFrame:
    """Per-client fixed-count sliding window: an event is rejected when the
    client already made `max_calls` calls in the trailing `window_seconds`.

    The reference's client presence window (default 5 calls / 30 000 ms,
    lib/realtime_web/channels/realtime_channel.ex:756; applied in
    presence_handler.ex:215-237) — the two-tier companion to the per-tenant
    sliding average (A6): tenant limits shed load, the client window stops
    one chatty socket.

    Without `seq_col` (default): RANGE-frame count on the second bucket —
    every event sees all events of its client in the trailing window
    *including same-second peers*, which makes the count independent of
    intra-second row order: deterministic without any tiebreak column, but
    STRICTER than the reference on intra-second bursts (a second whose
    burst exceeds the cap rejects the WHOLE second, where the reference's
    arrival-ordered counter accepts the first `max_calls`). With
    `seq_col`, arrival order within a second is defined and the
    reference-exact rule applies: an event is accepted iff strictly fewer
    than `max_calls` PRIOR events fall in its trailing window. One shuffle
    on the client key either way.
    """
    base = df.withColumn("_sec", epoch_seconds("ts"))
    if seq_col is None:
        w = (
            Window.partitionBy(*client_keys)
            .orderBy("_sec")
            .rangeBetween(-(window_seconds - 1), 0)
        )
        return (
            base.withColumn("calls_in_window", F.count(F.lit(1)).over(w))
            .withColumn("accepted", F.col("calls_in_window") <= F.lit(max_calls))
            .drop("_sec")
        )
    # prior-in-window = (all prior rows) - (prior rows older than the
    # window): two cumulative counts, no self-join
    w_rows = Window.partitionBy(*client_keys).orderBy("_sec", seq_col)
    w_old = (
        Window.partitionBy(*client_keys)
        .orderBy("_sec")
        .rangeBetween(Window.unboundedPreceding, -window_seconds)
    )
    prior = F.row_number().over(w_rows) - 1 - F.count(F.lit(1)).over(w_old)
    return (
        base.withColumn("calls_in_window", (prior + 1).cast("bigint"))
        .withColumn("accepted", prior < F.lit(max_calls))
        .drop("_sec")
    )


def check_tenant(
    tenants: DataFrame,
    current_users: DataFrame,
    joins_triggered: DataFrame,
    key: str = "tenant",
) -> DataFrame:
    """The channel-join tenant gate, set-at-a-time — check_tenant/1
    (reference: lib/realtime_web/channels/tenant_rate_limiters.ex:13-43):
    a join is refused with 'too_many_connections' when the tenant's
    concurrent user count has REACHED max_concurrent_users (the reference
    admits strictly-below only), else 'too_many_joins' when the
    joins-per-second rate counter's limit is triggered, else 'ok' — the
    connections gate wins when both fire (the reference short-circuits).

    ``tenants``: (key, max_concurrent_users); ``current_users``:
    (key, n_users); ``joins_triggered``: (key, joins_triggered bool).
    Absent rows mean zero users / never triggered. Scale shape: two
    broadcast-joinable dims onto the tenant dim — no data-sized shuffle."""
    t = (
        tenants.join(current_users, key, "left")
        .join(joins_triggered, key, "left")
    )
    verdict = (
        F.when(
            F.coalesce(F.col("n_users"), F.lit(0))
            >= F.col("max_concurrent_users"),
            F.lit("too_many_connections"),
        )
        .when(
            F.coalesce(F.col("joins_triggered"), F.lit(False)),
            F.lit("too_many_joins"),
        )
        .otherwise(F.lit("ok"))
    )
    return t.select(
        key,
        F.coalesce(F.col("n_users"), F.lit(0)).alias("n_users"),
        verdict.alias("verdict"),
    )
