"""Scalar helpers (SURVEY §2.6): timestamp formatting, payload sizing, topic
namespacing."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# F3: UTC ISO-8601 with millisecond precision, the reference's
# `to_char((ts at time zone 'utc'), 'YYYY-MM-DD"T"HH24:MI:SS.MS"Z"')`
# (reference: migrations/20260626120000:552-555)
ISO_MS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def iso_ms(ts: Column) -> Column:
    return F.date_format(ts, ISO_MS_FMT)


def context_memo(memo: dict, sc, key, build):
    """`build()`, kept in `memo` under `key` for the SparkContext `sc`.

    A batch body's Column lists bind by name, so one built list serves
    every micro-batch of a stream (foreachBatch wraps each in a new
    SparkSession over the same context) and a batch only applies it, like
    the reference's poller preparing its statement once per subscription
    epoch (replication_poller.ex:240-292). Building a list costs one py4j
    round trip per Column node. An entry built under another context, or
    under one that has stopped since, is rebuilt."""
    hit = memo.get(key)
    if hit is None or hit[0] is not sc or sc._jsc is None:
        hit = memo[key] = (sc, build())
    return hit[1]


def payload_size_ok(payload_json: Column, max_kb: int = 3000) -> Column:
    """F8: serialized payload must fit max_payload_size_in_kb (default 3000 KB)
    (reference: lib/realtime/tenants.ex:526-543, lib/realtime/api/tenant.ex:23)."""
    return F.octet_length(payload_json) <= F.lit(max_kb * 1000)


def tenant_topic(tenant: Column, topic: Column) -> Column:
    """F10: tenant-scoped pubsub topic of a public channel,
    `{external_id}:{topic}` (reference: lib/realtime/tenants.ex:504-513)."""
    return F.concat(tenant, F.lit(":"), topic)


# pg epoch: 2000-01-01T00:00:00Z, in microseconds since the unix epoch
PG_EPOCH_US = 946_684_800_000_000


def pg_epoch_us_to_timestamp(us: Column) -> Column:
    """F4: pgoutput timestamps are microseconds since 2000-01-01
    (reference: lib/realtime/adapters/postgres/decoder.ex:135,309-313)."""
    return F.timestamp_micros(us + F.lit(PG_EPOCH_US))


def lsn_decode(lsn: Column) -> Column:
    """F5: a 64-bit LSN is (file:32, offset:32)
    (reference: lib/realtime/adapters/postgres/decoder.ex:315-316)."""
    return F.struct(
        F.shiftright(lsn, 32).cast("bigint").alias("file"),
        lsn.bitwiseAND(F.lit(0xFFFFFFFF)).cast("bigint").alias("offset"),
    )


def lsn_format(lsn: Column) -> Column:
    """F5: canonical `FILE/OFFSET` hex rendering of an LSN."""
    d = lsn_decode(lsn)
    return F.concat_ws("/", F.hex(d["file"]), F.hex(d["offset"]))


def uuid_from_bytes(b: Column) -> Column:
    """F6: 16-byte binary uuid -> canonical dashed lowercase string
    (reference: lib/realtime/adapters/postgres/decoder.ex:276)."""
    h = F.lower(F.hex(b))
    return F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
