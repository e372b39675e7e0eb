"""Broadcast event handling — the WS-ingress decision machine that turns a
`broadcast` channel message into a pubsub send plus the socket's reply.

Reference: lib/realtime_web/channels/realtime_channel/broadcast_handler.ex
(handle/2, handle/3, send_message/4, build_broadcast/2,
increment_rate_counter/1, run_authorization_check/3) with its test table in
test/realtime_web/channels/realtime_channel/broadcast_handler_test.exs.
Semantics ported, not the framework:

  - public sockets send immediately; private sockets authorize
    broadcast.write ONCE when it is unevaluated and cache the result on
    the socket ("validation only runs once", both the allowing and the
    blocking outcome) — a cached write=False socket is silently dropped
    with no re-authorization and NO rate-counter increment.
  - every authorization failure (rls_policy_error, query_canceled,
    missing_partition, tenant_database_unavailable,
    increase_connection_pool, unable_to_set_policies) is a SILENT
    :noreply — the client never learns why (log-only in the reference).
  - payload size is validated before the send (same JSON-octet convention
    as F8); an oversized payload is NOT sent, and the client sees the
    error ONLY when ack_broadcast is set — ack=False drops it silently.
  - ack_broadcast -> {:reply, :ok}; otherwise :noreply, sent or not.
  - self_broadcast decides pubsub_broadcast (sender included — no from
    socket) vs pubsub_broadcast_from (sender excluded); the V2
    UserBroadcastPush tuple — exact 4-tuple arity
    (user_event, encoding, user_payload, metadata), matching the
    reference build_broadcast/2 clause head — builds a UserBroadcast,
    a plain map builds event='broadcast'.

`sent_messages_df` bridges the admitted sends into the frame
`operators/dispatch.fastlane_pairs` consumes, making this the front door
of the broadcast fan-out path (join -> presence -> broadcast: the full
WS-ingress trio is now ported with its reference case tables).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Callable

from realtime_spark.functions.presence_events import PolicyError, _payload_bytes

REPLY_OK = "reply_ok"
REPLY_PAYLOAD_SIZE_EXCEEDED = "reply_error_payload_size_exceeded"
NOREPLY = "noreply"


@dataclass
class BroadcastSocket:
    """The socket-assigns subset handle/3 reads/writes."""

    socket_id: str = "sock-1"
    tenant_id: str = "t1"
    tenant_topic: str = "t1:room:1"
    private: bool = False
    self_broadcast: bool = False
    ack_broadcast: bool = False
    write_policy: bool | None = None  # policies.broadcast.write
    rate_count: int = 0


@dataclass
class SentMessage:
    """One admitted pubsub send (build_broadcast/2 + send_message/4)."""

    topic: str
    event: str  # 'broadcast' for plain maps; the user_event for V2 pushes
    is_user_broadcast: bool
    payload_encoding: str | None  # 'json'/'binary' for V2 pushes
    payload: Any
    sender_socket: str | None  # None = sender included (self_broadcast)


def handle_broadcast_event(
    payload: Any,
    socket: BroadcastSocket,
    sent: list[SentMessage],
    max_payload_size_bytes: int = 3_000_000,
    authorize: Callable[[], bool] | None = None,
    inclusive_push_size: bool = False,
) -> tuple[str, BroadcastSocket]:
    """handle/3. Appends admitted sends to `sent`; returns (reply, socket).
    `authorize` evaluates broadcast.write (the RLS probe — injected like
    the reference's db_conn); it may raise PolicyError for any of the
    authorization failure reasons, all of which are silent :noreply."""
    if socket.private:
        if socket.write_policy is None:
            if authorize is None:
                return NOREPLY, socket  # unable_to_set_policies — silent
            try:
                socket.write_policy = authorize()
            except PolicyError:
                return NOREPLY, socket  # every auth failure is log-only
        if socket.write_policy is not True:
            # cached blocking policy: silent drop, NO rate-counter bump
            return NOREPLY, socket

    # increment_rate_counter/1 skips only an explicit write=False policy
    if socket.write_policy is not False:
        socket.rate_count += 1

    if push_size_bytes(payload, inclusive_push_size) > max_payload_size_bytes:
        if socket.ack_broadcast:
            return REPLY_PAYLOAD_SIZE_EXCEEDED, socket
        return NOREPLY, socket  # oversized AND ack-less: dropped silently

    sent.append(_build_broadcast(socket, payload))
    if socket.ack_broadcast:
        return REPLY_OK, socket
    return NOREPLY, socket


def _is_push(payload: Any) -> bool:
    # the V2 serializer always decodes a user_broadcast_push to a 4-tuple
    # (user_event, encoding, user_payload, metadata) — metadata {} when the
    # wire field is empty (v2_serializer.ex:179-212). build_broadcast/2
    # pattern-matches EXACTLY that arity; any other tuple falls through to
    # the generic clause and is wrapped as a PLAIN broadcast (the tuple
    # itself becoming the payload), so arity decides dispatch here too.
    return isinstance(payload, tuple) and len(payload) == 4


def _size_view(payload: Any) -> Any:
    # V2 pushes size-check the user payload; plain maps check themselves.
    # DECLARED SCOPE DIVERGENCE (alongside the byte-convention delta in
    # _payload_bytes): the reference sizes the WHOLE push tuple
    # {event, encoding, payload, metadata} via :erlang.external_size
    # (broadcast_handler.ex payload_size check), so its measured bytes
    # include the event name, encoding atom, and metadata plus ETF framing
    # overhead. This engine measures only the inner user payload
    # (payload[2]) in JSON octets — a push whose event-name + framing
    # bytes straddle the limit can be admitted here and rejected there.
    # The divergence is bounded by len(event) + len(metadata) + framing
    # constants; tenants set the limit in megabytes, so verdicts only
    # differ within that sliver. `push_size_bytes(..., inclusive=True)`
    # measures the reference-scoped view, and
    # tests/test_broadcast_events.py asserts the bound numerically.
    if _is_push(payload):
        return payload[2]
    return payload


# stand-in for the ETF tuple framing :erlang.external_size charges on a
# 4-tuple push (version byte + SMALL_TUPLE_EXT header + 4 term tags); the
# JSON-octet analog is the list brackets + 3 separators, so measuring the
# push as json([event, encoding, payload, metadata]) charges exactly
# sum(json(element)) + _PUSH_FRAMING_BYTES — the constant exists so the
# bound (inclusive - exclusive == json(event) + json(encoding) +
# json(metadata) + framing) stays assertable in tests.
_PUSH_FRAMING_BYTES = 5


def push_size_bytes(payload: Any, inclusive: bool = False) -> int:
    """Measured size of one broadcast payload under either scope:
    exclusive (this engine's default — the inner user payload only, the
    declared divergence above) or inclusive (the reference's
    whole-push-tuple scope: event + encoding + payload + metadata +
    framing, broadcast_handler.ex's :erlang.external_size check), still in
    the JSON-octet byte convention."""
    if inclusive and _is_push(payload):
        return _payload_bytes(list(payload))
    return _payload_bytes(_size_view(payload))


def _build_broadcast(socket: BroadcastSocket, payload: Any) -> SentMessage:
    sender = None if socket.self_broadcast else socket.socket_id
    if _is_push(payload):
        # metadata (payload[3]) is carried on the wire but unused by the
        # handler ("not using the metadata for anything just yet")
        user_event, encoding, user_payload = payload[0], payload[1], payload[2]
        return SentMessage(
            topic=socket.tenant_topic,
            event=user_event,
            is_user_broadcast=True,
            payload_encoding=encoding,
            payload=user_payload,
            sender_socket=sender,
        )
    return SentMessage(
        topic=socket.tenant_topic,
        event="broadcast",
        is_user_broadcast=False,
        payload_encoding=None,
        payload=payload,
        sender_socket=sender,
    )


def sent_messages_df(spark, sent: list[SentMessage]):
    """Bridge the admitted sends into operators/dispatch.fastlane_pairs's
    message frame: (msg_id, tenant_id, topic, event, is_user_broadcast,
    payload_encoding, message_uid, sender_socket)."""
    rows = []
    for i, m in enumerate(sent):
        uid = None
        if isinstance(m.payload, dict):
            meta = m.payload.get("meta")
            if isinstance(meta, dict):
                uid = meta.get("id")
        rows.append(
            (
                i,
                "t1",
                m.topic,
                m.event,
                m.is_user_broadcast,
                m.payload_encoding,
                uid,
                m.sender_socket,
            )
        )
    return spark.createDataFrame(
        rows,
        "msg_id bigint, tenant_id string, topic string, event string, "
        "is_user_broadcast boolean, payload_encoding string, "
        "message_uid string, sender_socket string",
    )
