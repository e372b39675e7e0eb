"""Fan-out routing + wire serialization (SURVEY §2.3 J6, §2.1 S9, §4 O4/O6).

Reference behaviors:
  - J6 node routing: subscription_id -> owning node via an ETS map; the poller
    groups sub ids per node and sends each node only its ids, falling back to
    broadcast-all on a lookup miss
    (reference: lib/extensions/postgres_cdc_rls/replication_poller.ex:425-472).
  - S9/O4 encode-once: the serialized frame is built once per (message,
    serializer) and fanned to every transport pid
    (reference: lib/realtime_web/socket/v2_serializer.ex:19-70,
     lib/realtime_web/channels/realtime_channel/message_dispatcher.ex:134-161).

Spark-first: routing is `explode(subscription_ids) ⋈ broadcast(node_map) ->
groupBy(node)` — the exchange produced by the groupBy IS the reference's
per-node send (O6): each downstream partition holds exactly one node's
traffic. The change payload itself is not exploded; only (change_id, sub_id)
pairs shuffle, and the encoded frame is attached once per (node, change).
"""

from __future__ import annotations

from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

FALLBACK_BROADCAST_NODE = "*"  # reference: poller falls back to broadcast-all


def node_map_df(spark: SparkSession, assignments: Iterable[Mapping]) -> DataFrame:
    """subscription_id -> node dimension (the ETS subscribers_nodes_table)."""
    rows = [
        {"subscription_id": a["subscription_id"], "node": a["node"]}
        for a in assignments
    ]
    return spark.createDataFrame(rows, schema="subscription_id string, node string")


def route_to_nodes(matched: DataFrame, node_map: DataFrame) -> DataFrame:
    """J6/O6: per (node, change) -> the sub ids that node must deliver.

    `matched` is match_changes output (change columns + subscription_ids).
    Unmapped subscription ids route to the broadcast-all pseudo-node '*'
    (the reference's ETS-miss fallback). Only (change_id, sub_id) pairs
    shuffle; the groupBy exchange partitions traffic by destination node.
    """
    pairs = matched.select(
        "change_id", F.explode("subscription_ids").alias("subscription_id")
    )
    routed = pairs.join(F.broadcast(node_map), "subscription_id", "left").select(
        "change_id",
        F.coalesce(F.col("node"), F.lit(FALLBACK_BROADCAST_NODE)).alias("node"),
        "subscription_id",
    )
    return routed.groupBy("node", "change_id").agg(
        F.sort_array(F.collect_set("subscription_id")).alias("subscription_ids"),
        F.count(F.lit(1)).alias("n_subs"),
    )


# ---------------------------------------------------------------------------
# V2 binary serializer (S9)
# ---------------------------------------------------------------------------

# fastlane opcodes (reference: v2_serializer.ex:9-13)
_OP_BROADCAST = 2
_OP_USER_BROADCAST = 4


def _int1(c: Column) -> Column:
    return F.substring(F.to_binary(F.lpad(F.hex(c), 2, "0"), F.lit("hex")), 1, 1)


def v2_frame(
    topic: Column,
    event: Column,
    metadata_json: Column,
    payload: Column,
) -> Column:
    """UserBroadcast binary push frame, byte-for-byte the reference layout
    (v2_serializer.ex:19-45):

      [opcode=4:1][topic_size:1][user_event_size:1][metadata_size:1]
      [user_payload_encoding:1 (1=json, 0=binary)]
      [topic][user_event][metadata][user_payload]

    All three size fields are single bytes — the reference's byte_size!
    raises above 255, so callers own that bound (P6 clamps topics; the
    metadata here is a short id struct). Built as a pure concat of binary
    slices — serialized once per (topic, message), not per recipient (O4).
    """
    t = F.encode(topic, "UTF-8")
    e = F.encode(event, "UTF-8")
    m = F.encode(metadata_json, "UTF-8")
    return F.concat(
        _int1(F.lit(_OP_USER_BROADCAST)),
        _int1(F.octet_length(t)),
        _int1(F.octet_length(e)),
        _int1(F.octet_length(m)),
        _int1(F.lit(True).cast("int")),  # user_payload_encoding: json
        t,
        e,
        m,
        payload,
    )


def v2_broadcast_binary_frame(
    topic: Column, event: Column, data: Column
) -> Column:
    """Plain Broadcast with a binary payload, opcode 2
    (v2_serializer.ex:47-61): [2][topic_size:1][event_size:1][topic]
    [event][data]."""
    t = F.encode(topic, "UTF-8")
    e = F.encode(event, "UTF-8")
    return F.concat(
        _int1(F.lit(_OP_BROADCAST)),
        _int1(F.octet_length(t)),
        _int1(F.octet_length(e)),
        t,
        e,
        data,
    )


# client->server opcodes (v2_serializer.ex:9-13)
_OP_PUSH = 0
_OP_USER_BROADCAST_PUSH = 3


def v2_decode_push(frames: DataFrame) -> DataFrame:
    """Decode inbound V2 binary frames — the serializer's client->server
    direction (v2_serializer.ex:158-212):

      opcode 0 (push):  [0][join_ref_size:1][ref_size:1][topic_size:1]
                        [event_size:1][join_ref][ref][topic][event][data]
                        -> Message with a binary payload (:158-177; the
                        inbound push DOES carry ref, unlike the outbound
                        encode! push which omits it)
      opcode 3 (user_broadcast_push):
                        [3][join_ref_size:1][ref_size:1][topic_size:1]
                        [user_event_size:1][metadata_size:1]
                        [user_payload_encoding:1][join_ref][ref][topic]
                        [user_event][metadata][user_payload]
                        -> Message{event: "broadcast"} carrying
                        (user_event, encoding, payload, metadata); an empty
                        metadata field decodes to {} (:179-212)

    Both layouts share the (join_ref, ref, topic, event) header prefix;
    only the header length (5 vs 7 bytes) and the metadata/encoding tail
    differ. Rows with any other opcode are dropped (the reference's
    decode! raises; a dead-letter split belongs to the caller). Pure
    byte-slicing column arithmetic — no UDF; sizes and offsets are staged
    through projections so common subexpressions stay shared. Payload
    bytes are returned hex-encoded so the row is engine-stable.
    """
    f = F.col("_f")

    def bval(pos: int) -> Column:
        return F.conv(F.hex(F.substr(f, F.lit(pos), F.lit(1))), 16, 10).cast("int")

    staged = frames.select(
        F.col("frame").alias("_f"),
        bval(1).alias("_op"),
        bval(2).alias("_s_jr"),
        bval(3).alias("_s_ref"),
        bval(4).alias("_s_t"),
        bval(5).alias("_s_e"),
        bval(6).alias("_s_m"),
        bval(7).alias("_s_enc"),
    ).filter(F.col("_op").isin(_OP_PUSH, _OP_USER_BROADCAST_PUSH))

    is3 = F.col("_op") == _OP_USER_BROADCAST_PUSH
    o = (
        staged.withColumn("_o_jr", F.when(is3, F.lit(8)).otherwise(F.lit(6)))
        .withColumn("_o_ref", F.col("_o_jr") + F.col("_s_jr"))
        .withColumn("_o_t", F.col("_o_ref") + F.col("_s_ref"))
        .withColumn("_o_e", F.col("_o_t") + F.col("_s_t"))
        .withColumn("_o_m", F.col("_o_e") + F.col("_s_e"))
        .withColumn(
            "_o_p", F.when(is3, F.col("_o_m") + F.col("_s_m")).otherwise(F.col("_o_m"))
        )
    )

    def txt(pos: Column, size: Column) -> Column:
        return F.decode(F.substr(f, pos, size), "UTF-8")

    return o.select(
        F.when(is3, F.lit("user_broadcast_push"))
        .otherwise(F.lit("push"))
        .alias("kind"),
        txt(F.col("_o_jr"), F.col("_s_jr")).alias("join_ref"),
        txt(F.col("_o_ref"), F.col("_s_ref")).alias("ref"),
        txt(F.col("_o_t"), F.col("_s_t")).alias("topic"),
        F.when(is3, F.lit("broadcast"))
        .otherwise(txt(F.col("_o_e"), F.col("_s_e")))
        .alias("event"),
        F.when(is3, txt(F.col("_o_e"), F.col("_s_e"))).alias("user_event"),
        F.when(
            is3,
            F.when(F.col("_s_enc") == 0, F.lit("binary")).otherwise(F.lit("json")),
        )
        .otherwise(F.lit("binary"))
        .alias("payload_encoding"),
        F.when(
            is3,
            F.when(F.col("_s_m") > 0, txt(F.col("_o_m"), F.col("_s_m"))).otherwise(
                F.lit("{}")
            ),
        ).alias("metadata_json"),
        F.hex(
            F.substr(f, F.col("_o_p"), F.octet_length(f) - F.col("_o_p") + 1)
        ).alias("payload_hex"),
    )


def encode_frames(messages: DataFrame) -> DataFrame:
    """messages (topic, event, payload map) -> one encoded frame per message.
    Metadata carries the message id for client-side dedup (P15)."""
    meta = F.to_json(F.struct(F.col("id"), F.col("private")))
    payload_bin = F.encode(F.to_json(F.col("payload")), "UTF-8")
    return messages.withColumn(
        "frame", v2_frame(F.col("topic"), F.col("event"), meta, payload_bin)
    )


def fanout_subscribers(msgs: DataFrame, subs: DataFrame) -> DataFrame:
    """Per-subscriber delivery pairs for a broadcast batch, honoring the
    self-broadcast flag: the sender's own connection is skipped unless the
    message was published with `self: true`.

    Reference: RealtimeChannel.MessageDispatcher skips `from` unless the
    self flag chose `pubsub_broadcast` over `pubsub_broadcast_from`
    (lib/realtime_web/channels/realtime_channel/message_dispatcher.ex:87-116;
    flag wiring lib/realtime_web/channels/realtime_channel/broadcast_handler.ex:22-118).

    Spark-first: subscribers are a per-topic dimension -> broadcast hash
    join on topic; the skip-sender rule is a residual predicate, so the
    message stream never shuffles. `is_self` marks echo deliveries (the
    reference's ack/echo path) for sink-side accounting.
    """
    pairs = msgs.join(F.broadcast(subs), "topic")
    keep = F.col("self_broadcast") | (F.col("subscriber_id") != F.col("sender_id"))
    return pairs.filter(keep).withColumn(
        "is_self", F.col("subscriber_id") == F.col("sender_id")
    )


# ---------------------------------------------------------------------------
# V1 JSON serializer (S9 sibling of the V2 binary path)
# ---------------------------------------------------------------------------


def v1_message(
    topic: Column, event: Column, payload_json: Column
) -> Column:
    """Phoenix V1 wire message: the JSON OBJECT
    `{"topic": t, "event": e, "payload": p, "ref": null}` — the V1
    serializer ships Message structs as objects with a null ref for
    server-pushed broadcasts (the array form `[join_ref, ref, topic,
    event, payload]` is V2's TEXT framing, not V1). The reference keeps
    V1 as the fallback the dispatcher converts UserBroadcasts for
    (message_dispatcher.ex:163-168). String escaping is delegated to
    `to_json` on single-element arrays (then bracket-stripped), so
    topics/events containing quotes or unicode serialize correctly; the
    payload is already JSON text and is spliced verbatim. Serialized once
    per (topic, event, message) like the V2 path (O4 encode-once)."""

    def jstr(c: Column) -> Column:
        a = F.to_json(F.array(c))
        return F.substring(a, 2, F.length(a) - 2)

    return F.concat(
        F.lit('{"topic":'),
        jstr(topic),
        F.lit(',"event":'),
        jstr(event),
        F.lit(',"payload":'),
        payload_json,
        F.lit(',"ref":null}'),
    )


def encode_frames_v1(messages: DataFrame) -> DataFrame:
    """messages (id, topic, event, payload map, private) -> V1 JSON text
    frame per message; payload carries the message id for replay dedup
    (P15), mirroring encode_frames' metadata."""
    payload = F.to_json(
        F.struct(F.col("payload"), F.col("id"), F.col("private"))
    )
    return messages.withColumn(
        "frame_v1", v1_message(F.col("topic"), F.col("event"), payload)
    )
