"""Binary pgoutput logical-replication decode (S2 — the reference's second
CDC source).

The reference starts `START_REPLICATION ... LOGICAL ... (proto_version '1',
publication_names ..., binary 'true')` and decodes pgoutput byte frames into
Begin/Commit/Origin/Relation/Insert/Update/Delete/Truncate/Type structs
(reference: lib/realtime/adapters/postgres/decoder.ex:12-132 structs,
:151-233 dispatch, :246-283 binary tuple values; consumed by
lib/realtime/tenants/replication_connection.ex:317-366,384-470). Relation
frames carry column names/OIDs and precede the data frames that reference
them, so the decoder is stateful per replication slot.

Spark-first shape: the WAL of ONE slot is inherently sequential (that is
what an LSN is), so the unit of parallelism is the SLOT (= tenant in the
reference: one replication connection per tenant). `decode_pgoutput` groups
by slot and folds each slot's frames in seq order inside `applyInPandas` —
per-slot sequential, all slots in parallel, no cross-slot shuffle beyond the
one groupBy. At 100 TB / thousands of tenants that is exactly the available
parallelism; within a slot no engine can reorder WAL decode. The streaming
variant keeps the (relations, in-flight Begin) registry in
`applyInPandasWithState` keyed by slot, so Relation frames seen in one
micro-batch decode Inserts arriving many batches later — mirroring the
reference's `state.relations` map (replication_connection.ex:384-395).

Value rendering: the engine's normalized change frame carries TEXT maps
(wal2json convention, sources/wal2json.py); binary tuple values therefore
normalize to Postgres text output — bool -> 't'/'f', timestamp -> pg text
form, uuid -> dashed lowercase, bytea -> '\\x' hex, jsonb -> its JSON text
(version byte stripped). The reference returns language-native values at
the same decode points (decoder.ex:256-280); the text normalization is the
declared representation for map<string,string> frames.

Frame layouts are public PostgreSQL protocol documentation
(https://www.postgresql.org/docs/current/protocol-logicalrep-message-formats.html).
"""

from __future__ import annotations

import struct
from datetime import datetime, timedelta, timezone
from typing import Any, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame

# pg epoch 2000-01-01T00:00:00Z (decoder.ex:135; functions/scalar.py F4)
_PG_EPOCH = datetime(2000, 1, 1, tzinfo=timezone.utc)

# unchanged-TOAST sentinel ('u' tuple marker, decoder.ex:243-244). The
# normalized record map uses KEY-PRESENCE semantics (P12): toasted columns
# are simply absent from the new record.
UNCHANGED_TOAST = object()

# pg_type OIDs -> names, the subset of the reference's OidDatabase
# (lib/realtime/adapters/postgres/oid_database.ex) the decode paths touch.
OID_NAMES = {
    16: "bool", 17: "bytea", 18: "char", 19: "name", 20: "int8",
    21: "int2", 23: "int4", 25: "text", 26: "oid", 114: "json",
    700: "float4", 701: "float8", 1042: "bpchar", 1043: "varchar",
    1082: "date", 1114: "timestamp", 1184: "timestamptz",
    1700: "numeric", 2950: "uuid", 3802: "jsonb",
}
_NAME_OIDS = {v: k for k, v in OID_NAMES.items()}

REPLICA_IDENTITY = {"d": "default", "n": "nothing", "f": "all_columns", "i": "index"}


def name_for_type_id(oid: int) -> str:
    """OidDatabase.name_for_type_id equivalent; unknown OIDs render as the
    numeric id (the reference's full table covers every built-in; carrying
    3000 rows here buys nothing — filters cast by name only for known ones)."""
    return OID_NAMES.get(oid, str(oid))


# ---------------------------------------------------------------------------
# pure-python frame decode (runs Arrow-batched inside applyInPandas)
# ---------------------------------------------------------------------------


def _cstring(buf: bytes, off: int) -> tuple[str, int]:
    end = buf.index(0, off)
    return buf[off:end].decode("utf-8"), end + 1


def _pg_text_timestamp(micros: int) -> str:
    """Postgres text rendering of a timestamp: fractional seconds only when
    nonzero, trailing zeros trimmed."""
    dt = _PG_EPOCH + timedelta(microseconds=micros)
    base = dt.strftime("%Y-%m-%d %H:%M:%S")
    if dt.microsecond:
        return f"{base}.{dt.microsecond:06d}".rstrip("0")
    return base


def _uuid_str(b: bytes) -> str:
    h = b.hex()
    return f"{h[0:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"


def _binary_value(data: bytes, type_name: str) -> str:
    """Typed binary tuple value -> pg text rendering (decoder.ex:256-280:
    bool/jsonb/timestamp/text/uuid/bytea; ints/floats added — their binary
    formats are public protocol like the six the reference matches)."""
    if type_name == "bool":
        return "t" if data == b"\x01" else "f"
    if type_name == "jsonb":
        return data[1:].decode("utf-8")  # strip the jsonb version byte
    if type_name in ("timestamp", "timestamptz"):
        (us,) = struct.unpack(">q", data)
        return _pg_text_timestamp(us)
    if type_name in ("text", "varchar", "bpchar", "name", "json"):
        return data.decode("utf-8")
    if type_name == "uuid":
        return _uuid_str(data)
    if type_name == "int2":
        return str(struct.unpack(">h", data)[0])
    if type_name == "int4":
        return str(struct.unpack(">i", data)[0])
    if type_name in ("int8", "oid"):
        return str(struct.unpack(">q", data)[0] if len(data) == 8
                   else struct.unpack(">I", data)[0])
    if type_name == "float4":
        return _pg_float_text(struct.unpack(">f", data)[0], single=True)
    if type_name == "float8":
        return _pg_float_text(struct.unpack(">d", data)[0], single=False)
    if type_name == "date":
        (days,) = struct.unpack(">i", data)
        return (_PG_EPOCH.date() + timedelta(days=days)).isoformat()
    if type_name == "numeric":
        return _pg_numeric_text(data)
    # bytea and anything unknown: pg hex text form
    return "\\x" + data.hex()


def _pg_float_text(v: float, single: bool) -> str:
    """Postgres text rendering of a float: shortest round-trip decimal AT
    THE VALUE'S OWN WIDTH (a float4 0.1 prints '0.1', not the repr of its
    float64 widening), pg special-value spellings, and no trailing '.0'
    on integral values ('1', not '1.0')."""
    import math

    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    if single:
        import numpy as np

        s = repr(np.float32(v))  # shortest repr round-tripping at 32 bits
    else:
        s = repr(v)
    if s.endswith(".0"):
        s = s[:-2]
    return s


def _pg_numeric_text(data: bytes) -> str:
    """Binary numeric -> pg text: base-10000 digits with weight/sign/dscale
    header; exact Decimal reconstruction rendered to dscale places (pg
    prints trailing zeros up to the stored display scale)."""
    from decimal import Decimal

    nd, weight, sign, dscale = struct.unpack_from(">hhHH", data, 0)
    if sign == 0xC000:
        return "NaN"
    digits = struct.unpack_from(f">{nd}h", data, 8) if nd else ()
    val = Decimal(0)
    for i, d in enumerate(digits):
        val += Decimal(d) * (Decimal(10000) ** (weight - i))
    if sign == 0x4000:
        val = -val
    return str(val.quantize(Decimal(1).scaleb(-dscale)))


def _decode_tuple(
    buf: bytes, off: int, columns: list[dict]
) -> tuple[list[Any], int]:
    """TupleData: int16 ncols, then per column one marker —
    'n' NULL / 'u' unchanged TOAST / 't' int32-length text /
    'b' int32-length binary (decoder.ex:235-283 + protocol docs)."""
    (ncols,) = struct.unpack_from(">h", buf, off)
    off += 2
    out: list[Any] = []
    for i in range(ncols):
        marker = buf[off:off + 1]
        off += 1
        if marker == b"n":
            out.append(None)
        elif marker == b"u":
            out.append(UNCHANGED_TOAST)
        elif marker in (b"t", b"b"):
            (ln,) = struct.unpack_from(">i", buf, off)
            off += 4
            data = buf[off:off + ln]
            off += ln
            if marker == b"t":
                out.append(data.decode("utf-8"))
            else:
                out.append(_binary_value(data, columns[i]["type"]))
        else:
            raise ValueError(f"bad tuple marker {marker!r} at {off - 1}")
    return out, off


def decode_frame(buf: bytes, relations: dict[int, dict]) -> dict:
    """One pgoutput message -> dict. 'R' frames register into `relations`
    (mutated — the caller owns per-slot registry lifetime, like the
    reference's state.relations)."""
    kind = buf[0:1]
    if kind == b"B":
        final_lsn, ts, xid = struct.unpack_from(">QqI", buf, 1)
        return {"kind": "begin", "final_lsn": final_lsn,
                "commit_ts_us": ts, "xid": xid}
    if kind == b"C":
        _flags, lsn, end_lsn, ts = struct.unpack_from(">BQQq", buf, 1)
        return {"kind": "commit", "lsn": lsn, "end_lsn": end_lsn,
                "commit_ts_us": ts}
    if kind == b"O":
        (lsn,) = struct.unpack_from(">Q", buf, 1)
        return {"kind": "origin", "origin_commit_lsn": lsn,
                "name": buf[9:].split(b"\x00")[0].decode("utf-8")}
    if kind == b"R":
        (rel_id,) = struct.unpack_from(">i", buf, 1)
        off = 5
        namespace, off = _cstring(buf, off)
        name, off = _cstring(buf, off)
        replica_identity = buf[off:off + 1].decode("ascii")
        off += 1
        (ncols,) = struct.unpack_from(">h", buf, off)
        off += 2
        cols: list[dict] = []
        for _ in range(ncols):
            flags = buf[off]
            off += 1
            cname, off = _cstring(buf, off)
            type_oid, type_mod = struct.unpack_from(">ii", buf, off)
            off += 8
            cols.append({
                "name": cname, "flags": flags,
                "type_oid": type_oid, "type": name_for_type_id(type_oid),
                "type_modifier": type_mod,
                "key": bool(flags & 1),
            })
        rel = {
            "id": rel_id,
            "namespace": namespace or "pg_catalog",
            "name": name,
            "replica_identity": REPLICA_IDENTITY.get(replica_identity,
                                                     replica_identity),
            "columns": cols,
        }
        relations[rel_id] = rel
        return {"kind": "relation", **rel}
    if kind == b"Y":
        (oid,) = struct.unpack_from(">i", buf, 1)
        off = 5
        namespace, off = _cstring(buf, off)
        name, _ = _cstring(buf, off)
        return {"kind": "type", "id": oid, "namespace": namespace, "name": name}
    if kind == b"I":
        (rel_id,) = struct.unpack_from(">i", buf, 1)
        rel = relations.get(rel_id)
        if rel is None or buf[5:6] != b"N":
            return {"kind": "unsupported", "data": buf}
        tup, _ = _decode_tuple(buf, 6, rel["columns"])
        return {"kind": "insert", "relation_id": rel_id, "tuple_data": tup}
    if kind == b"U":
        (rel_id,) = struct.unpack_from(">i", buf, 1)
        rel = relations.get(rel_id)
        if rel is None:
            return {"kind": "unsupported", "data": buf}
        off = 5
        old_tup = key_tup = None
        sub = buf[off:off + 1]
        if sub in (b"K", b"O"):
            off += 1
            tup, off = _decode_tuple(buf, off, rel["columns"])
            if sub == b"K":
                key_tup = tup
            else:
                old_tup = tup
            sub = buf[off:off + 1]
        if sub != b"N":
            return {"kind": "unsupported", "data": buf}
        new_tup, _ = _decode_tuple(buf, off + 1, rel["columns"])
        return {"kind": "update", "relation_id": rel_id,
                "changed_key_tuple_data": key_tup,
                "old_tuple_data": old_tup, "tuple_data": new_tup}
    if kind == b"D":
        (rel_id,) = struct.unpack_from(">i", buf, 1)
        rel = relations.get(rel_id)
        sub = buf[5:6]
        if rel is None or sub not in (b"K", b"O"):
            return {"kind": "unsupported", "data": buf}
        tup, _ = _decode_tuple(buf, 6, rel["columns"])
        return {"kind": "delete", "relation_id": rel_id,
                "changed_key_tuple_data": tup if sub == b"K" else None,
                "old_tuple_data": tup if sub == b"O" else None}
    if kind == b"T":
        nrels, options = struct.unpack_from(">iB", buf, 1)
        ids = list(struct.unpack_from(f">{nrels}i", buf, 6))
        return {"kind": "truncate", "number_of_relations": nrels,
                "options": options, "truncated_relations": ids}
    return {"kind": "unsupported", "data": buf}


# ---------------------------------------------------------------------------
# encoders (test/feed synthesis — byte-exact inverses of the decode above)
# ---------------------------------------------------------------------------


def encode_begin(final_lsn: int, commit_ts_us: int, xid: int) -> bytes:
    return b"B" + struct.pack(">QqI", final_lsn, commit_ts_us, xid)


def encode_commit(lsn: int, end_lsn: int, commit_ts_us: int) -> bytes:
    return b"C" + struct.pack(">BQQq", 0, lsn, end_lsn, commit_ts_us)


def encode_relation(
    rel_id: int, namespace: str, name: str, columns: list[dict],
    replica_identity: str = "d",
) -> bytes:
    """columns: [{'name', 'type' (pg name) or 'type_oid', 'key': bool}]"""
    out = b"R" + struct.pack(">i", rel_id)
    out += namespace.encode() + b"\x00" + name.encode() + b"\x00"
    out += replica_identity.encode("ascii") + struct.pack(">h", len(columns))
    for c in columns:
        oid = c.get("type_oid") or _NAME_OIDS[c["type"]]
        out += struct.pack(">B", 1 if c.get("key") else 0)
        out += c["name"].encode() + b"\x00"
        out += struct.pack(">ii", oid, c.get("type_modifier", -1))
    return out


def _encode_tuple(values: list) -> bytes:
    """Values: None -> 'n', UNCHANGED_TOAST -> 'u', str -> text 't',
    (type_name, bytes_or_value) tuple -> binary 'b'."""
    out = struct.pack(">h", len(values))
    for v in values:
        if v is None:
            out += b"n"
        elif v is UNCHANGED_TOAST:
            out += b"u"
        elif isinstance(v, tuple):
            data = _encode_binary(*v)
            out += b"b" + struct.pack(">i", len(data)) + data
        else:
            data = str(v).encode("utf-8")
            out += b"t" + struct.pack(">i", len(data)) + data
    return out


def _encode_binary(type_name: str, v) -> bytes:
    if type_name == "bool":
        return b"\x01" if v else b"\x00"
    if type_name == "jsonb":
        return b"\x01" + (v if isinstance(v, bytes) else v.encode("utf-8"))
    if type_name in ("timestamp", "timestamptz"):
        return struct.pack(">q", int(v))  # pg micros
    if type_name == "uuid":
        return bytes.fromhex(str(v).replace("-", ""))
    if type_name == "int2":
        return struct.pack(">h", v)
    if type_name == "int4":
        return struct.pack(">i", v)
    if type_name == "int8":
        return struct.pack(">q", v)
    if type_name == "float4":
        return struct.pack(">f", v)
    if type_name == "float8":
        return struct.pack(">d", v)
    return v if isinstance(v, bytes) else str(v).encode("utf-8")


def encode_insert(rel_id: int, values: list) -> bytes:
    return b"I" + struct.pack(">i", rel_id) + b"N" + _encode_tuple(values)


def encode_update(
    rel_id: int, new_values: list, old_values: list | None = None,
    key_values: list | None = None,
) -> bytes:
    out = b"U" + struct.pack(">i", rel_id)
    if old_values is not None:
        out += b"O" + _encode_tuple(old_values)
    elif key_values is not None:
        out += b"K" + _encode_tuple(key_values)
    return out + b"N" + _encode_tuple(new_values)


def encode_delete(
    rel_id: int, old_values: list | None = None, key_values: list | None = None
) -> bytes:
    out = b"D" + struct.pack(">i", rel_id)
    if old_values is not None:
        return out + b"O" + _encode_tuple(old_values)
    return out + b"K" + _encode_tuple(key_values or [])


def encode_truncate(rel_ids: list[int], options: int = 0) -> bytes:
    return (b"T" + struct.pack(">iB", len(rel_ids), options)
            + struct.pack(f">{len(rel_ids)}i", *rel_ids))


def encode_type(oid: int, namespace: str, name: str) -> bytes:
    return (b"Y" + struct.pack(">i", oid)
            + namespace.encode() + b"\x00" + name.encode() + b"\x00")


def encode_origin(lsn: int, name: str) -> bytes:
    return b"O" + struct.pack(">Q", lsn) + name.encode() + b"\x00"


def ts_to_pg_us(dt: datetime) -> int:
    """datetime -> pg epoch microseconds (inverse of F4)."""
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=timezone.utc)
    return round((dt - _PG_EPOCH).total_seconds() * 1_000_000)


# ---------------------------------------------------------------------------
# slot fold: ordered frames -> normalized change rows
# ---------------------------------------------------------------------------

PGOUTPUT_CHANGE_DDL = (
    "slot string, change_id bigint, action string, schema_name string, "
    "table_name string, commit_timestamp timestamp, xid bigint, lsn bigint, "
    "record map<string,string>, old_record map<string,string>, "
    "col_types map<string,string>, col_names array<string>, "
    "pk array<string>, record_bytes bigint"
)
_OUT_COLS = [f.split(" ")[0] for f in PGOUTPUT_CHANGE_DDL.split(", ")]

_ACTIONS = {"insert": "INSERT", "update": "UPDATE", "delete": "DELETE"}


def _tuple_to_map(tup: list, columns: list[dict]) -> dict[str, str]:
    """tuple_to_map (replication_connection.ex:490-499) with key-presence
    TOAST semantics: unchanged columns absent, NULLs present as None."""
    out = {}
    for v, c in zip(tup, columns):
        if v is UNCHANGED_TOAST:
            continue
        out[c["name"]] = v
    return out


def fold_slot_frames(
    slot: str,
    frames: Iterable[tuple[int, bytes]],
    relations: dict[int, dict],
    begin: dict | None = None,
) -> tuple[list[tuple], dict | None]:
    """Fold (seq, frame) pairs IN ORDER into normalized change rows.
    Returns (rows, in-flight begin) — `relations` is mutated; both carry to
    the next micro-batch in the streaming lift. Row layout = _OUT_COLS."""
    rows: list[tuple] = []
    for seq, buf in frames:
        buf = bytes(buf)
        msg = decode_frame(buf, relations)
        kind = msg["kind"]
        if kind == "begin":
            begin = msg
            continue
        if kind == "commit":
            # the transaction is over: a data frame arriving without its
            # own Begin (lost/filtered upstream) must NOT inherit this
            # committed transaction's xid/lsn/commit_ts — and the stale
            # dict must not persist in streaming state forever
            begin = None
            continue
        if kind in ("relation", "type", "origin", "unsupported"):
            continue
        commit_ts = (
            _PG_EPOCH + timedelta(microseconds=begin["commit_ts_us"])
            if begin else None
        )
        xid = begin["xid"] if begin else None
        lsn = begin["final_lsn"] if begin else None
        if kind == "truncate":
            for rid in msg["truncated_relations"]:
                rel = relations.get(rid)
                if rel is None:
                    continue
                cols = rel["columns"]
                rows.append((
                    slot, seq, "TRUNCATE", rel["namespace"], rel["name"],
                    commit_ts, xid, lsn, None, None,
                    {c["name"]: c["type"] for c in cols},
                    [c["name"] for c in cols],
                    [c["name"] for c in cols if c["key"]], len(buf),
                ))
            continue
        rel = relations[msg["relation_id"]]
        cols = rel["columns"]
        record = (
            _tuple_to_map(msg["tuple_data"], cols)
            if kind in ("insert", "update") else None
        )
        old_tup = msg.get("old_tuple_data") or msg.get("changed_key_tuple_data")
        old_record = (
            _tuple_to_map(old_tup, cols) if old_tup is not None else None
        )
        rows.append((
            slot, seq, _ACTIONS[kind], rel["namespace"], rel["name"],
            commit_ts, xid, lsn, record, old_record,
            {c["name"]: c["type"] for c in cols},
            [c["name"] for c in cols],
            [c["name"] for c in cols if c["key"]], len(buf),
        ))
    return rows, begin


def decode_pgoutput(frames: DataFrame, wire: bool = False) -> DataFrame:
    """Batch decode: (slot, seq, frame binary) -> normalized change frame.

    applyInPandas per slot; frames sorted by seq inside the group (WAL order
    — Relation before the rows that use it, Begin before its transaction).
    One shuffle on slot; decode is Arrow-batched pure Python (byte-twiddling
    is genuinely non-SQL work, the sanctioned Pandas-UDF case).

    wire=True: frames are raw replication CopyData payloads — XLogData
    wrappers are peeled and keepalives dropped (protocol.ex) before the
    pgoutput fold."""

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        if not len(pdf):
            return pd.DataFrame(columns=_OUT_COLS)
        pdf = pdf.sort_values("seq", kind="mergesort")
        pairs = zip(pdf["seq"], pdf["frame"])
        if wire:
            pairs = unwrap_wire_frames(pairs)
        rows, _ = fold_slot_frames(
            pdf["slot"].iat[0], pairs, relations={},
        )
        return pd.DataFrame(rows, columns=_OUT_COLS)

    return (
        frames.select("slot", "seq", "frame")
        .groupBy("slot")
        .applyInPandas(apply_fn, PGOUTPUT_CHANGE_DDL)
    )


# ---------------------------------------------------------------------------
# streaming decode with per-slot relation-registry state
# ---------------------------------------------------------------------------


def pgoutput_decode_stateful(frames: DataFrame, wire: bool = False) -> DataFrame:
    """Streaming decode: applyInPandasWithState keyed by slot carrying
    (relations registry, in-flight Begin) as JSON state, so schema frames
    seen once decode data frames forever after — across micro-batches.
    Within a micro-batch the group's rows sort by seq; across batches the
    file/Kafka source must deliver per-slot frames in seq order (the same
    in-order contract the reference's replication connection has with the
    socket)."""
    import json

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (slot,) = key
        relations: dict[int, dict] = {}
        begin = None
        if state.exists:
            st = json.loads(state.get[0])
            relations = {int(k): v for k, v in st["relations"].items()}
            begin = st["begin"]
        chunks = [p for p in pdfs if len(p)]
        if chunks:
            pdf = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1 else chunks[0]
            ).sort_values("seq", kind="mergesort")
            pairs = zip(pdf["seq"], pdf["frame"])
            if wire:
                pairs = unwrap_wire_frames(pairs)
            rows, begin = fold_slot_frames(slot, pairs, relations, begin)
            if rows:
                yield pd.DataFrame(rows, columns=_OUT_COLS)
        state.update((json.dumps({"relations": relations, "begin": begin}),))

    return frames.groupBy("slot").applyInPandasWithState(
        fn,
        outputStructType=PGOUTPUT_CHANGE_DDL,
        stateStructType="registry string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# deterministic pgoutput feed from the orders table (oracle-backed query)
# ---------------------------------------------------------------------------

FRAMES_DDL = "slot string, seq bigint, frame binary"
N_SLOTS = 32


def pgoutput_frames_from_orders(spark, sf_dir: str) -> DataFrame:
    """Encode the same logical WAL as testdata.changes_from_orders into real
    pgoutput byte frames: per slot one Relation header, then one transaction
    per order row — Begin(xid=o_orderkey, ts=o_orderdate) / Insert|Update|
    Delete / Commit. Values are Spark-stringified BEFORE the encode UDF so
    the text rendering matches the engine's cast-to-string convention on
    both the Spark and oracle sides."""
    from pyspark.sql import functions as F

    from realtime_spark.functions.scalar import PG_EPOCH_US
    from realtime_spark.sources.testdata import ORDERS_PG_TYPES, load_table

    o = load_table(spark, sf_dir, "orders")
    nullable = F.when(
        F.col("o_orderkey") % 7 == 0, F.lit(None).cast("string")
    ).otherwise(F.col("o_orderpriority"))
    cols = list(ORDERS_PG_TYPES)
    base = o.select(
        (F.col("o_orderkey") % N_SLOTS).cast("int").alias("slot_n"),
        F.col("o_orderkey").alias("okey"),
        (
            F.unix_micros(F.col("o_orderdate").cast("timestamp"))
            - F.lit(PG_EPOCH_US)
        ).alias("commit_us"),
        F.col("o_orderkey").cast("string").alias("v_o_orderkey"),
        F.col("o_custkey").cast("string").alias("v_o_custkey"),
        F.col("o_orderstatus").cast("string").alias("v_o_orderstatus"),
        F.col("o_totalprice").cast("string").alias("v_o_totalprice"),
        F.col("o_orderdate").cast("string").alias("v_o_orderdate"),
        F.col("o_orderpriority").cast("string").alias("v_o_orderpriority"),
        nullable.alias("v_o_nullable"),
    )
    rel_cols = [
        {"name": n, "type": t, "key": n == "o_orderkey"}
        for n, t in ORDERS_PG_TYPES.items()
    ]

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        slot = f"slot-{pdf['slot_n'].iat[0]}"
        out: list[tuple[str, int, bytes]] = []
        out.append((slot, -1, encode_relation(1, "public", "orders", rel_cols,
                                              replica_identity="f")))
        vals_mat = [pdf[f"v_{c}"].to_numpy(dtype=object) for c in cols]
        for i, (okey, cus) in enumerate(zip(
            pdf["okey"].to_numpy(), pdf["commit_us"].to_numpy()
        )):
            okey = int(okey)
            values = [None if v is None or (isinstance(v, float))
                      else v for v in (m[i] for m in vals_mat)]
            b = okey * 4
            out.append((slot, b, encode_begin(okey, int(cus), okey)))
            mod = okey % 10
            if mod <= 6:
                data = encode_insert(1, values)
            elif mod <= 8:
                data = encode_update(1, values, old_values=values)
            else:
                data = encode_delete(1, old_values=values)
            out.append((slot, b + 1, data))
            out.append((slot, b + 2, encode_commit(okey, okey + 1, int(cus))))
        return pd.DataFrame(out, columns=["slot", "seq", "frame"])

    return base.groupBy("slot_n").applyInPandas(emit, FRAMES_DDL)


MESSAGES_REL_COLS = [
    {"name": "id", "type": "text", "key": True},
    {"name": "topic", "type": "text"},
    {"name": "event", "type": "text"},
    {"name": "private", "type": "bool"},
    {"name": "inserted_at", "type": "timestamp"},
    {"name": "payload", "type": "jsonb"},
    {"name": "binary_payload", "type": "bytea"},
]


def pgoutput_frames_from_messages(spark, sf_dir: str) -> DataFrame:
    """A `realtime.messages`-shaped INSERT stream as real pgoutput frames —
    the exact feed the reference's replication connection consumes for
    broadcast-from-database (replication_connection.ex:384-470). Derived
    deterministically from `events`:

      id             = event_id (text)
      topic          = event_type, NULL when event_id % 97 = 0 (the
                       get_or_error missing-field path)
      event          = 'broadcast'
      private        = user_id % 2 = 0           (binary bool tuple value)
      inserted_at    = ts                        (binary pg-micros value)
      binary_payload = first 8 bytes of md5(props) when event_id % 5 = 0
                       (binary bytea value; pick_payload's priority branch)
      payload        = props as jsonb when event_id % 5 <> 0 and
                       event_id % 7 <> 0; both NULL when % 7 = 0 (the
                       payload_missing error path)

    Exercises every binary tuple decode branch the reference has
    (bool/timestamp/jsonb/bytea/text, decoder.ex:256-280) on the wire."""
    from pyspark.sql import functions as F

    from realtime_spark.functions.scalar import PG_EPOCH_US
    from realtime_spark.sources.testdata import load_table

    e = load_table(spark, sf_dir, "events")
    base = e.select(
        (F.col("event_id") % N_SLOTS).cast("int").alias("slot_n"),
        F.col("event_id").alias("eid"),
        F.col("event_id").cast("string").alias("v_id"),
        F.when(F.col("event_id") % 97 != 0, F.col("event_type")).alias("v_topic"),
        F.lit("broadcast").alias("v_event"),
        (F.col("user_id") % 2 == 0).alias("v_private"),
        (F.unix_micros(F.col("ts")) - F.lit(PG_EPOCH_US)).alias("v_inserted_us"),
        F.when(
            (F.col("event_id") % 5 != 0) & (F.col("event_id") % 7 != 0),
            F.col("props"),
        ).alias("v_payload"),
        F.when(
            F.col("event_id") % 5 == 0,
            F.substring(F.unhex(F.md5("props")), 1, 8),
        ).alias("v_binary"),
    )

    def emit(pdf: pd.DataFrame) -> pd.DataFrame:
        slot = f"msg-slot-{pdf['slot_n'].iat[0]}"
        out: list[tuple[str, int, bytes]] = []
        out.append((slot, -2, encode_begin(0, 0, 0)))
        out.append((slot, -1, encode_relation(9, "realtime", "messages",
                                              MESSAGES_REL_COLS)))

        def nn(v):
            return None if v is None or (isinstance(v, float)) else v

        for row in pdf.itertuples(index=False):
            values = [
                nn(row.v_id),
                nn(row.v_topic),
                nn(row.v_event),
                ("bool", bool(row.v_private)),
                ("timestamp", int(row.v_inserted_us)),
                None if nn(row.v_payload) is None else ("jsonb", row.v_payload),
                None if row.v_binary is None else ("bytea", bytes(row.v_binary)),
            ]
            out.append((slot, int(row.eid), encode_insert(9, values)))
        return pd.DataFrame(out, columns=["slot", "seq", "frame"])

    return base.groupBy("slot_n").applyInPandas(emit, FRAMES_DDL)


# ---------------------------------------------------------------------------
# replication wire framing around pgoutput: XLogData / KeepAlive / standby
# status (reference: lib/realtime/adapters/postgres/protocol.ex,
# protocol/write.ex, protocol/keep_alive.ex)
# ---------------------------------------------------------------------------


def parse_wire(buf: bytes) -> dict:
    """One CopyData payload from START_REPLICATION:

      'w' Int64 wal_start, Int64 wal_end, Int64 clock, Byte_n message
          -> {"kind": "xlog_data", ..., "message": inner pgoutput bytes}
      'k' Int64 wal_end, Int64 clock, Byte1 reply
          -> {"kind": "keepalive", ..., "reply": "now"|"later"}

    Clock values are pg-epoch microseconds (protocol.ex:13-28)."""
    tag = buf[0:1]
    if tag == b"w":
        ws, we, clk = struct.unpack_from(">QQq", buf, 1)
        return {"kind": "xlog_data", "server_wal_start": ws,
                "server_wal_end": we, "server_system_clock": clk,
                "message": buf[25:]}
    if tag == b"k":
        we, clk, reply = struct.unpack_from(">QqB", buf, 1)
        return {"kind": "keepalive", "wal_end": we, "clock": clk,
                "reply": "now" if reply == 1 else "later"}
    return {"kind": "unsupported", "data": buf}


def encode_xlog_data(
    wal_start: int, wal_end: int, clock_us: int, message: bytes
) -> bytes:
    return b"w" + struct.pack(">QQq", wal_start, wal_end, clock_us) + message


def encode_keepalive(wal_end: int, clock_us: int, reply: bool) -> bytes:
    return b"k" + struct.pack(">QqB", wal_end, clock_us, 1 if reply else 0)


def standby_status(
    last_wal_received: int,
    last_wal_flushed: int,
    last_wal_applied: int,
    reply: bool = False,
    clock_us: int | None = None,
) -> bytes:
    """Standby status update ('r', protocol.ex:36-54): the ack the client
    sends back — the reference replies wal_end + 1 on keepalives
    (replication_connection.ex:349-356). clock_us is pg-epoch micros;
    callers pass it explicitly (no wall-clock reads inside the engine)."""
    if clock_us is None:
        clock_us = 0
    return b"r" + struct.pack(
        ">QQQqB", last_wal_received, last_wal_flushed, last_wal_applied,
        clock_us, 1 if reply else 0,
    )


def keepalive_reply(msg: dict) -> bytes | None:
    """The reference's handle_data keepalive branch: reply standby_status
    at wal_end + 1 (replication_connection.ex:349-356)."""
    if msg.get("kind") != "keepalive":
        return None
    w = msg["wal_end"] + 1
    return standby_status(w, w, w, reply=msg["reply"] == "now",
                          clock_us=msg["clock"])


def unwrap_wire_frames(
    frames: Iterable[tuple[int, bytes]]
) -> Iterator[tuple[int, bytes]]:
    """Peel XLogData wrappers and drop keepalives from a (seq, wire-frame)
    stream — what sits between the socket and fold_slot_frames. Bare
    pgoutput frames (no wire wrapper) pass through untouched, so batch
    feeds can mix both."""
    for seq, buf in frames:
        buf = bytes(buf)
        tag = buf[0:1]
        if tag == b"w":
            yield seq, parse_wire(buf)["message"]
        elif tag == b"k":
            continue
        else:
            yield seq, buf
