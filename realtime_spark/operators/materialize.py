"""Change-feed materialization: apply a CDC stream to derive the latest
table state (last-writer-wins per primary key, DELETE = tombstone).

The reference delivers ordered change events (`NewRecord`/`UpdatedRecord`/
`DeletedRecord`, /root/reference/lib/realtime/adapters/changes.ex:15-64) and
leaves state reconstruction to consumers, who fold the stream into a current
snapshot keyed by primary key. This operator is that fold, done engine-side —
the missing piece that turns the CDC feed into a queryable table.

Spark-first design for 100 TB:
  - **One shuffle, partial-aggregated.** Last-writer-wins is `groupBy(pk)
    .agg(max_by(payload, version))`, not a `row_number()` window. `max_by`
    compiles to SortAggregate with a *partial* phase (verified in
    tests/test_materialize.py): every map task reduces its partition to one
    candidate row per key before the exchange, so the shuffle carries
    ~|keys| rows instead of |changes| rows. A window would shuffle every
    change row and sort the full reduce partition; here only the map side
    sorts, on the grouping key.
  - The version key is `(commit_timestamp, seq)`: commit order first, then
    the within-transaction sequence, so replayed/out-of-order micro-batches
    converge to the same snapshot (idempotent re-materialization).
  - DELETE rows participate in the max like any other version; the tombstone
    filter runs *after* the fold, so a DELETE followed by a later re-INSERT
    of the same key resurfaces the row (matching Postgres semantics).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SEQ, TS = "seq", "commit_timestamp"


def pk_text_expr(record: Column, old_record: Column, pk: Column) -> Column:
    """Canonical primary-key string: pk values (from the record present on
    this action) joined with '|' in pk-array order."""
    src = F.coalesce(record, old_record)
    return F.array_join(
        F.transform(pk, lambda k: F.element_at(src, k)), "|"
    )


def materialize_latest(changes: DataFrame, keep_tombstones: bool = False) -> DataFrame:
    """Fold a change feed into the latest per-key state.

    Input: change frame with (schema_name, table_name, action, record map,
    old_record map, pk array, commit_timestamp, seq). Output: one row per
    surviving key: (schema_name, table_name, pk_text, record,
    last_action, last_ts, last_seq, n_versions).

    `keep_tombstones=True` keeps keys whose latest version is a DELETE —
    required when the result is an *intermediate* state that will be merged
    with another snapshot (streaming micro-batches): dropping the tombstone
    would resurrect the key's older row from the other side of the merge.
    """
    keyed = changes.withColumn(
        "pk_text", pk_text_expr(F.col("record"), F.col("old_record"), F.col("pk"))
    )
    version = F.struct(F.col(TS), F.col(SEQ))
    payload = F.struct(
        F.col("action").alias("action"),
        F.col("record").alias("record"),
        F.col(TS).alias("ts"),
        F.col(SEQ).alias("seq"),
    )
    latest = keyed.groupBy("schema_name", "table_name", "pk_text").agg(
        F.max_by(payload, version).alias("last"),
        F.count(F.lit(1)).alias("n_versions"),
    )
    if not keep_tombstones:
        latest = latest.filter(F.col("last.action") != "DELETE")
    return latest.select(
        "schema_name",
        "table_name",
        "pk_text",
        F.col("last.record").alias("record"),
        F.col("last.action").alias("last_action"),
        F.col("last.ts").alias("last_ts"),
        F.col("last.seq").alias("last_seq"),
        "n_versions",
    )


def apply_truncates(changes: DataFrame) -> DataFrame:
    """Apply TRUNCATE semantics to a change feed before materialization.

    The reference decodes WAL Truncate messages into `TruncatedRelation`
    events carrying only (schema, table, commit_timestamp) — no rows
    (/root/reference/lib/realtime/adapters/changes.ex:50-56, decoder
    /root/reference/lib/realtime/adapters/postgres/decoder.ex:96-104). For
    state reconstruction a TRUNCATE wipes every key of the relation as of
    its commit point; rows written AFTER it (re-inserts) survive.

    Spark-first: the per-relation last-truncate version is a tiny dimension
    (one row per truncated relation) — aggregate it, broadcast it back, and
    keep only data changes whose (ts, seq) version sorts after it. No
    window, no per-key state: one broadcast hash join over the feed.
    """
    version = F.struct(F.col(TS).alias("ts"), F.col(SEQ).alias("seq"))
    trunc = (
        changes.filter(F.col("action") == "TRUNCATE")
        .groupBy("schema_name", "table_name")
        .agg(F.max(version).alias("_trunc_v"))
    )
    data = changes.filter(F.col("action") != "TRUNCATE")
    joined = data.join(F.broadcast(trunc), ["schema_name", "table_name"], "left")
    keep = F.col("_trunc_v").isNull() | (version > F.col("_trunc_v"))
    return joined.filter(keep).drop("_trunc_v")


def merge_snapshots(*snapshots: DataFrame) -> DataFrame:
    """Merge tombstone-preserving snapshots: per key, the row with the
    larger (last_ts, last_seq) version wins; n_versions accumulates. Every
    input must come from materialize_latest(keep_tombstones=True); one
    frame holding several snapshots' rows (the epochs of the streaming
    view) merges the same way. The result still carries tombstones —
    filter `last_action != 'DELETE'` when serving. Same partial-aggregated
    max_by shape as the base fold."""
    u = reduce(DataFrame.unionByName, snapshots)
    payload = F.struct(
        F.col("record").alias("record"),
        F.col("last_action").alias("action"),
        F.col("last_ts").alias("ts"),
        F.col("last_seq").alias("seq"),
    )
    version = F.struct(F.col("last_ts"), F.col("last_seq"))
    m = u.groupBy("schema_name", "table_name", "pk_text").agg(
        F.max_by(payload, version).alias("last"),
        F.sum("n_versions").alias("n_versions"),
    )
    return m.select(
        "schema_name",
        "table_name",
        "pk_text",
        F.col("last.record").alias("record"),
        F.col("last.action").alias("last_action"),
        F.col("last.ts").alias("last_ts"),
        F.col("last.seq").alias("last_seq"),
        "n_versions",
    )


def snapshot_asof(
    changes: DataFrame, asof_ts: str, keep_tombstones: bool = False
) -> DataFrame:
    """Time travel: the table state as of a commit point — the fold of every
    change committed at or before `asof_ts`. The reference replays history
    from the message store with a `WHERE inserted_at > since` bound
    (lib/realtime/messages.ex:24-43); this is the complementary bound,
    reconstructing state AT a point instead of changes SINCE one.

    Scale shape: the bound is a plain filter ahead of materialize_latest's
    single partial-aggregated shuffle, so on a ts-partitioned change log it
    becomes partition pruning — the scan never reads segments past the
    as-of point."""
    bound = changes.filter(F.col(TS) <= F.lit(asof_ts).cast("timestamp"))
    return materialize_latest(bound, keep_tombstones)


def compact_changes(changes: DataFrame, before: Column) -> DataFrame:
    """Changefeed compaction: squash each key's window of changes to its net
    effect against the pre-window base state (the log-compaction rule of
    Kafka compacted topics / Debezium snapshot squashing).

    `before` marks rows belonging to the base state; every other row is the
    window being compacted. Per key the net action is derived from whether
    the key existed in the base state and whether its last window version
    is a DELETE:

        existed & last!=DELETE  -> UPDATE (old_record = base record)
        !existed & last!=DELETE -> INSERT
        existed & last==DELETE  -> DELETE
        !existed & last==DELETE -> (dropped: insert+delete inside the
                                    window compacts to nothing)

    Keys with no window rows produce no output. One shuffle total: base and
    window fold in the SAME partial-aggregated groupBy (max_by per segment),
    not a join of two folds — the change log is read once. Output:
    (schema_name, table_name, pk_text, net_action, record, old_record,
    last_ts, last_seq, n_squashed)."""
    keyed = changes.withColumn(
        "pk_text", pk_text_expr(F.col("record"), F.col("old_record"), F.col("pk"))
    )
    version = F.struct(F.col(TS), F.col(SEQ))
    payload = F.struct(
        F.col("action").alias("action"),
        F.col("record").alias("record"),
        F.col(TS).alias("ts"),
        F.col(SEQ).alias("seq"),
    )
    agg = keyed.groupBy("schema_name", "table_name", "pk_text").agg(
        # max_by skips rows whose ordering key is NULL, so each segment's
        # last version falls out of one shared aggregate pass
        F.max_by(payload, F.when(before, version)).alias("base"),
        F.max_by(payload, F.when(~before, version)).alias("last"),
        F.sum(F.when(~before, 1).otherwise(0)).alias("n_squashed"),
    )
    existed = F.col("base").isNotNull() & (F.col("base.action") != "DELETE")
    is_del = F.col("last.action") == "DELETE"
    net = (
        F.when(~is_del & existed, F.lit("UPDATE"))
        .when(~is_del & ~existed, F.lit("INSERT"))
        .when(is_del & existed, F.lit("DELETE"))
    )
    return (
        agg.filter(F.col("n_squashed") > 0)
        .withColumn("net_action", net)
        .filter(F.col("net_action").isNotNull())
        .select(
            "schema_name",
            "table_name",
            "pk_text",
            "net_action",
            F.when(~is_del, F.col("last.record")).alias("record"),
            F.when(existed, F.col("base.record")).alias("old_record"),
            F.col("last.ts").alias("last_ts"),
            F.col("last.seq").alias("last_seq"),
            "n_squashed",
        )
    )


def ivm_sum_cents(
    changes: DataFrame,
    group_key: str,
    value_key: str,
) -> DataFrame:
    """Incremental view maintenance for SUM over a change feed: instead of
    re-materializing the latest snapshot and re-aggregating (materialize_
    latest), each change contributes an exact delta —

        delta = value(record) - value(old_record)

    which is +v for INSERT (old_record NULL), new-old for UPDATE, and -v
    for DELETE (record NULL). Values are fixed to integer cents before
    summation, so the maintained aggregate is exact and order-independent
    (a float SUM would drift by add order AND by replay history).

    Scale shape: one map-side-combined sum keyed by the group — the IVM
    shuffle carries (key, delta) longs only. This is the standard
    delta-propagation rule for distributive aggregates (SUM/COUNT); MIN/MAX
    are not maintainable this way (deletes need the full group) and go
    through materialize_latest instead.
    Output: (group, sum_cents, n_changes)."""
    new_v = F.element_at(F.col("record"), value_key).cast("double")
    old_v = F.element_at(F.col("old_record"), value_key).cast("double")
    delta = (
        F.coalesce(F.round(new_v * 100).cast("long"), F.lit(0))
        - F.coalesce(F.round(old_v * 100).cast("long"), F.lit(0))
    )
    grp = F.coalesce(
        F.element_at(F.col("record"), group_key),
        F.element_at(F.col("old_record"), group_key),
    )
    return changes.groupBy(grp.alias(group_key)).agg(
        F.sum(delta).alias("sum_cents"),
        F.count(F.lit(1)).alias("n_changes"),
    )


def split_pk_changes(
    changes: DataFrame,
) -> DataFrame:
    """Normalize primary-key-changing UPDATEs into DELETE(old pk) +
    INSERT(new pk) before materialization.

    A pk-change UPDATE keyed by the NEW pk silently leaves the old key's
    state live in the snapshot — the standard CDC hazard pgoutput flags
    with `changed_key_tuple_data` on Update messages (reference:
    lib/realtime/adapters/postgres/decoder.ex:91-102, the Update struct's
    old/changed-key tuple); wal2json likewise ships old pk values under
    REPLICA IDENTITY. This operator detects old-vs-new pk drift and emits
    the two-event normal form every log-compaction fold handles correctly.

    Map-only: one projection computing both pk texts, a filter split, and
    a union — no shuffle; the downstream materialize groupBy is unchanged.
    """
    old_pk = F.array_join(
        F.transform(F.col("pk"), lambda k: F.element_at(F.col("old_record"), k)),
        "|",
    )
    new_pk = F.array_join(
        F.transform(F.col("pk"), lambda k: F.element_at(F.col("record"), k)), "|"
    )
    is_move = (
        (F.col("action") == "UPDATE")
        & F.col("old_record").isNotNull()
        & ~old_pk.eqNullSafe(new_pk)
    )
    normal = changes.filter(~is_move)
    moves = changes.filter(is_move)
    cols = changes.columns

    def _with(df, **repl):
        return df.select(
            *[repl.get(c, F.col(c)).alias(c) for c in cols]
        )

    dels = _with(
        moves,
        action=F.lit("DELETE"),
        record=F.lit(None).cast(moves.schema["record"].dataType),
    )
    ins = _with(
        moves,
        action=F.lit("INSERT"),
        old_record=F.lit(None).cast(moves.schema["old_record"].dataType),
    )
    return normal.unionByName(dels).unionByName(ins)


def vacant_prune(
    events: DataFrame,
    now_epoch_s: int,
    threshold_s: int = 600,
) -> DataFrame:
    """MetricsCleaner's vacancy table as a fold over the telemetry event log.

    The reference keeps an ets set per concern (vacant websockets,
    disconnected tenants): a 'vacant'/'unregistered' event inserts
    (tenant, now) — last write wins on the set key — and the matching
    'occupied'/'registered' event deletes the row; the periodic sweep
    selects rows older than now - threshold, prunes their Prometheus tag
    series, and deletes them (reference: lib/realtime/metrics_cleaner.ex:
    9-23 event handlers, 105-131 select/prune/select_delete with the 600 s
    default threshold at :28).

    Relationally the ets set IS the last event per key: present iff the
    last event is the vacant kind, timestamped by that event. Input
    ``events``: (key, kind, ts, seq) where seq breaks same-timestamp ties
    the way ets last-write-wins does. Output: one row per currently-vacant
    key with ``vacant_since_sec`` and ``pruned`` (older than the
    threshold); ets-deleted keys (last event occupied) don't appear.

    One partial-aggregated max_by groupBy on the key — no window sort, no
    self-join; the sweep predicate is a post-aggregation filter.
    """
    from realtime_spark.functions.timeutil import epoch_seconds

    last = events.groupBy("tenant_id").agg(
        F.max_by(
            F.struct(F.col("kind").alias("k"), epoch_seconds("ts").alias("s")),
            F.struct(F.col("ts"), F.col("seq")),
        ).alias("_last")
    )
    cutoff = now_epoch_s - threshold_s
    return (
        last.filter(F.col("_last.k") == "vacant")
        .select(
            "tenant_id",
            F.col("_last.s").alias("vacant_since_sec"),
            (F.col("_last.s") < F.lit(cutoff)).alias("pruned"),
        )
    )
