"""Durable broadcast-message store: day-partitioned table, ingest shaping,
retention (S6/S7/S8/S10, F8/F10/F11).

Reference:
  - `realtime.messages` partitioned by RANGE(inserted_at), one partition/day
    (reference: migrations/20241030150047_messages_partitioning.ex:6-19)
  - `realtime.send` injects a generated uuid `id` into the payload and inserts,
    demoting failures to warnings (reference: migrations/20251103001201:8-40)
  - retention: partitions older than 72h dropped by date compare
    (reference: lib/realtime/messages.ex:72-102)
  - batch HTTP ingest groups by (private, topic) before authz + fan-out
    (reference: lib/realtime/tenants/batch_broadcast.ex:29-151)

Spark-first: the store is a parquet table partitioned by `day` — partition
pruning gives the reference's replay index behavior; retention is a partition-
predicate delete (here: filter-and-rewrite, on Delta it would be a metadata
delete). At 100 TB the day partitioning bounds every replay/retention scan.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MESSAGE_SCHEMA_DDL = (
    "id string, topic string, extension string, payload map<string,string>, "
    "event string, private boolean, inserted_at timestamp, updated_at timestamp"
)
RETENTION_HOURS = 72  # reference: lib/realtime/messages.ex:72-78
EVENT, TOPIC, PRIVATE = "event", "topic", "private"


def uuid_from_hash(col) -> "F.Column":
    """Deterministic stand-in for ``gen_random_uuid()`` in oracle-graded
    paths: md5 of the input rendered in canonical 8-4-4-4-12 lowercase via
    the F6 renderer (functions/scalar.py::uuid_from_bytes). Production
    callers pass F.uuid() instead — the shape functions take the generator
    as a column so tests/oracles can pin it."""
    from realtime_spark.functions.scalar import uuid_from_bytes

    return uuid_from_bytes(F.unhex(F.md5(col.cast("string"))))


def realtime_send(df: DataFrame, gen_id=None) -> DataFrame:
    """``realtime.send(payload jsonb, event, topic, private)`` — the
    payload-id auto-gen shape (F11), migration
    20251103001201_broadcast_send_include_payload_id.ex:8-40:

      - ``generated_id := gen_random_uuid()`` ALWAYS becomes the row id,
        even when the payload carries its own 'id' key
      - the payload gains ``{id: generated_id}`` ONLY when it has no 'id'
        key (``IF payload ? 'id' THEN final_payload := payload``)
      - extension is 'broadcast'

    Row-level projection only — pipelined into the scan, no shuffle.

    The generator is staged through its own Project before being
    referenced twice (row id + payload injection). Inlining it at both
    sites desynchronizes ``F.uuid()``: the two plan occurrences share a
    seed and advance in lockstep ONLY while every row evaluates both —
    the injection site lives in the CASE's ELSE branch, so the first
    has-id row skips it and every later injected id lags one row behind
    the row id. The reference evaluates gen_random_uuid() once into
    generated_id; Catalyst keeps the staging Project because collapsing
    it would duplicate a non-deterministic expression."""
    gen = F.uuid() if gen_id is None else gen_id
    staged = df.select(F.col("*"), gen.alias("_rs_gen_id"))
    g = F.col("_rs_gen_id")
    p = F.col("payload")
    final_payload = F.when(
        F.map_contains_key(p, F.lit("id")), p
    ).otherwise(F.map_concat(p, F.create_map(F.lit("id"), g)))
    return staged.select(
        g.alias("id"),
        final_payload.alias("payload"),
        F.col(EVENT).alias("event"),
        F.col(TOPIC).alias("topic"),
        F.col(PRIVATE).alias("private"),
        F.lit("broadcast").alias("extension"),
    )


def realtime_send_binary(df: DataFrame, gen_id=None) -> DataFrame:
    """``realtime.send_binary(payload bytea, event, topic, private)`` —
    the S6 binary variant, migration
    20260603120000_add_send_binary_function.ex:9-31: the row id is a fresh
    uuid, the bytea lands in ``binary_payload``, and — unlike the jsonb
    ``realtime.send`` — NO id is injected anywhere in the payload (the
    function never touches it; ``payload`` stays NULL on the inserted
    row). Downstream, db_broadcast_from_changes tags these rows
    encoding='binary' with binary_payload winning over payload (F12)."""
    gen = F.uuid() if gen_id is None else gen_id
    return df.select(
        gen.alias("id"),
        F.lit(None).cast("map<string,string>").alias("payload"),
        F.col("binary_payload").cast("binary").alias("binary_payload"),
        F.col(EVENT).alias("event"),
        F.col(TOPIC).alias("topic"),
        F.col(PRIVATE).alias("private"),
        F.lit("broadcast").alias("extension"),
    )


def write_messages(df: DataFrame, path: str) -> None:
    df.write.mode("append").partitionBy("day").parquet(path)


def read_messages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def retention_cutoff(now: datetime) -> datetime:
    return now - timedelta(hours=RETENTION_HOURS)


def apply_retention(messages: DataFrame, now: datetime) -> DataFrame:
    """S10: keep only rows in partitions newer than the cutoff. The predicate
    is on the partition column so the scan prunes instead of reading 72h+ of
    data (drop-partition equivalence)."""
    cutoff = retention_cutoff(now).date()
    return messages.filter(F.col("day") >= F.lit(cutoff))


def drop_old_partitions(path: str, now: datetime) -> list[str]:
    """S10 physical form — the janitor's maintenance task: drop whole day
    partitions older than the cutoff by removing their directories, exactly
    like the reference's partition-name date compare + DROP TABLE
    (reference: lib/realtime/messages.ex:72-102, janitor/maintenance_task.ex).
    Metadata-only: no data is scanned or rewritten. Returns dropped partition
    names. On Delta this would be a partition-predicate DELETE + VACUUM.
    """
    import os
    import shutil
    from datetime import date

    cutoff = retention_cutoff(now).date()
    dropped: list[str] = []
    for entry in sorted(os.listdir(path)):
        if not entry.startswith("day="):
            continue
        try:
            part_day = date.fromisoformat(entry.split("=", 1)[1])
        except ValueError:
            continue
        if part_day < cutoff:
            shutil.rmtree(os.path.join(path, entry))
            dropped.append(entry)
    return dropped


def db_broadcast_from_changes(
    changes: DataFrame, max_payload_kb: int = 3000
) -> DataFrame:
    """DB-sourced broadcast: turn `realtime.messages` INSERT change events
    into validated user-broadcast rows — the Spark analog of the streaming
    replication connection's message handler.

    Reference (lib/realtime/tenants/replication_connection.ex:358-467):
      - only INSERTs on relation realtime.messages* (daily partitions
        included) are considered (358-366)
      - required fields id/topic/event/private/inserted_at; rows missing
        any are dropped (406-430)
      - binary_payload wins over payload when present, tagged with its
        encoding (515-517; F12)
      - tenant payload-size check before fan-out (F8)

    Pure row-level projection+filter: pipelined into the change scan, no
    shuffle; the fan-out downstream is the broadcast dispatcher path.
    """
    r = F.col("record")
    msgs = changes.filter(
        (F.col("schema_name") == "realtime")
        & F.col("table_name").startswith("messages")
        & (F.col("action") == "INSERT")
        & (F.element_at(r, "extension") == F.lit("broadcast"))
    )
    for k in ("id", "topic", "event", "private", "inserted_at"):
        msgs = msgs.filter(F.element_at(r, k).isNotNull())
    binary = F.element_at(r, "binary_payload")
    payload = F.coalesce(binary, F.element_at(r, "payload"))
    out = msgs.select(
        F.element_at(r, "id").alias("id"),
        F.element_at(r, "topic").alias("topic"),
        F.element_at(r, "event").alias("event"),
        (F.element_at(r, "private") == "true").alias("private"),
        F.element_at(r, "inserted_at").alias("inserted_at"),
        payload.alias("payload"),
        F.when(binary.isNotNull(), F.lit("binary"))
        .otherwise(F.lit("json"))
        .alias("encoding"),
    )
    return out.filter(F.octet_length("payload") <= max_payload_kb * 1000)


def compact_partitions(spark: SparkSession, path: str) -> dict[str, tuple[int, int]]:
    """Small-file compaction for the day-partitioned store: rewrite each day
    partition into one file.

    A streaming writer appends one file per micro-batch per partition — at a
    100 ms trigger that's ~864k files/day/partition-column-value, which
    destroys scan planning long before data volume does. The janitor
    maintenance analog alongside retention (S10): compact closed (past) day
    partitions once, newest day stays append-hot. Each partition is
    rewritten atomically via a temp dir + rename; every day but the
    lexicographically-last (hot) one is compacted. Returns
    {day: (files_before, files_after)}.
    """
    import os
    import shutil

    part_dirs = sorted(
        d for d in os.listdir(path)
        if d.startswith("day=") and os.path.isdir(os.path.join(path, d))
    )
    targets = part_dirs[:-1]  # keep the hot (latest) day append-only
    result: dict[str, tuple[int, int]] = {}
    for d in targets:
        pdir = os.path.join(path, d)
        before = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        if len(before) <= 1:
            result[d[4:]] = (len(before), len(before))
            continue
        tmp = pdir + "._compact_tmp"
        (
            spark.read.parquet(pdir)
            .repartition(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        shutil.rmtree(pdir)
        os.rename(tmp, pdir)
        after = [f for f in os.listdir(pdir) if f.endswith(".parquet")]
        result[d[4:]] = (len(before), len(after))
    return result
