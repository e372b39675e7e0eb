"""Driver-contract queries + oracles for the authorization, presence, and
broadcast-ingest operators (SURVEY §2 P7/P14, §2.7 ST4, §2.1 S6-S8,
§2.6 F8/F9/F10).

Fixtures are derived deterministically from the `events` table; every
derivation is mirrored by a SQL CTE so the DuckDB oracle replays the same
pipeline relationally.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from realtime_spark.functions.scalar import payload_size_ok, tenant_topic
from realtime_spark.operators.auth import (
    attach_claims,
    gate_messages,
    policies_df,
    sign_jwt,
)
from realtime_spark.sources.testdata import load_table

# ---------------------------------------------------------------------------
# JWT claims (F9): three deterministic fixture tokens (one per role) plus one
# tampered token; minted with the stdlib HS256 signer so the Spark query
# exercises the real verify path, while the oracle knows the expected claims.
# ---------------------------------------------------------------------------

_JWT_SECRET = "realtime-spark-test-secret"
_JWT_EXP = 4102444800  # 2100-01-01, far future so fixtures never expire
_NOW_EPOCH = 1700000000
_ROLES = ("anon", "authenticated", "service_role")

_TOKENS = {role: sign_jwt({"role": role, "exp": _JWT_EXP, "aud": "rt"}, _JWT_SECRET) for role in _ROLES}
_BAD_TOKEN = _TOKENS["anon"][:-2] + "xx"  # broken signature


def q_jwt_claims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_id % 4 -> one of 3 valid tokens or a tampered one; verify and
    extract the role. Tampered rows yield NULL role (fail-closed)."""
    e = load_table(spark, sf_dir, "events")
    tok = (
        F.when(F.col("user_id") % 4 == 0, F.lit(_TOKENS["anon"]))
        .when(F.col("user_id") % 4 == 1, F.lit(_TOKENS["authenticated"]))
        .when(F.col("user_id") % 4 == 2, F.lit(_TOKENS["service_role"]))
        .otherwise(F.lit(_BAD_TOKEN))
    )
    users = e.select("user_id").distinct().withColumn("token", tok)
    out = attach_claims(users, "token", _JWT_SECRET, _NOW_EPOCH)
    return out.select("user_id", "claims_role")


ORACLE_JWT_CLAIMS = """
SELECT DISTINCT user_id,
  CASE WHEN user_id % 4 = 0 THEN 'anon'
       WHEN user_id % 4 = 1 THEN 'authenticated'
       WHEN user_id % 4 = 2 THEN 'service_role'
       ELSE NULL END AS claims_role
FROM events
"""


# ---------------------------------------------------------------------------
# policy gates (P14): private messages pass only when the (topic, role)
# policy allows the mode; public messages always pass.
# ---------------------------------------------------------------------------

_POLICY_SPECS = [
    {"topic": "click", "claims_role": "authenticated", "can_read": True, "can_write": True},
    {"topic": "view", "claims_role": "authenticated", "can_read": True, "can_write": False},
    {"topic": "purchase", "claims_role": "service_role", "can_read": True, "can_write": True},
]

# derived message stream with a per-row role: role cycles by user_id
_GATED_CTE = """
_gated AS (
  SELECT CAST(event_id AS VARCHAR) AS id, event_type AS topic,
         (user_id % 2 = 0) AS private,
         CASE WHEN user_id % 3 = 0 THEN 'anon'
              WHEN user_id % 3 = 1 THEN 'authenticated'
              ELSE 'service_role' END AS claims_role
  FROM events
)
"""


def _gated_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    role = (
        F.when(F.col("user_id") % 3 == 0, F.lit("anon"))
        .when(F.col("user_id") % 3 == 1, F.lit("authenticated"))
        .otherwise(F.lit("service_role"))
    )
    return e.select(
        F.col("event_id").cast("string").alias("id"),
        F.col("event_type").alias("topic"),
        (F.col("user_id") % 2 == 0).alias("private"),
        role.alias("claims_role"),
    )


def q_policy_read_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = _gated_messages(spark, sf_dir)
    pols = policies_df(spark, _POLICY_SPECS)
    return gate_messages(msgs, pols, mode="read").select(
        "id", "topic", "private", "claims_role"
    )


def _policy_values(flag: str) -> str:
    rows = ", ".join(
        f"('{p['topic']}', '{p['claims_role']}', {str(bool(p.get(flag, False))).upper()})"
        for p in _POLICY_SPECS
    )
    return f"(VALUES {rows}) AS p(p_topic, p_role, p_ok)"


ORACLE_POLICY_READ_GATE = f"""
WITH {_GATED_CTE.strip()}
SELECT m.id, m.topic, m.private, m.claims_role
FROM _gated m
LEFT JOIN {_policy_values('can_read')}
  ON m.topic = p.p_topic AND m.claims_role = p.p_role
WHERE (NOT m.private) OR COALESCE(p.p_ok, FALSE)
"""


def q_policy_write_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    msgs = _gated_messages(spark, sf_dir)
    pols = policies_df(spark, _POLICY_SPECS)
    return gate_messages(msgs, pols, mode="write").select(
        "id", "topic", "private", "claims_role"
    )


ORACLE_POLICY_WRITE_GATE = f"""
WITH {_GATED_CTE.strip()}
SELECT m.id, m.topic, m.private, m.claims_role
FROM _gated m
LEFT JOIN {_policy_values('can_write')}
  ON m.topic = p.p_topic AND m.claims_role = p.p_role
WHERE (NOT m.private) OR COALESCE(p.p_ok, FALSE)
"""


# ---------------------------------------------------------------------------
# broadcast ingest (S7/F8/F10): batch grouped by (private, topic) with
# payload-size enforcement and tenant-topic namespacing
# ---------------------------------------------------------------------------

_MAX_KB_TINY = 1  # 1000 bytes -> actually exercises the gate on props


def q_batch_ingest_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: validate+group a broadcast batch by (private, topic): count rows,
    drop oversize payloads (F8), namespace the topic (F10). Payloads are
    props repeated (user_id % 200)x so sizes straddle the 1 KB gate."""
    e = load_table(spark, sf_dir, "events")
    batch = e.select(
        F.col("event_type").alias("topic"),
        (F.col("user_id") % 2 == 0).alias("private"),
        F.repeat(F.col("props"), (F.col("user_id") % 200).cast("int")).alias(
            "payload_json"
        ),
    ).filter(payload_size_ok(F.col("payload_json"), _MAX_KB_TINY))
    return batch.groupBy("private", "topic").agg(
        F.count(F.lit(1)).alias("n_msgs")
    ).select(
        tenant_topic(F.lit("t0"), F.col("topic")).alias("ns_topic"),
        "private",
        "n_msgs",
    )


ORACLE_BATCH_INGEST_GROUPS = f"""
SELECT 't0:' || event_type AS ns_topic,
       (user_id % 2 = 0) AS private, COUNT(*) AS n_msgs
FROM events
WHERE strlen(repeat(props, CAST(user_id % 200 AS INT))) <= {_MAX_KB_TINY * 1000}
GROUP BY event_type, (user_id % 2 = 0)
"""


# ---------------------------------------------------------------------------
# presence (ST4/A8): track/untrack log derived from events; diffs via the
# relational replay; the stateful operator is exercised in tests/
# ---------------------------------------------------------------------------

_PRESENCE_CTE = """
_presence AS (
  SELECT event_type AS topic, CAST(user_id AS VARCHAR) AS presence_key,
         CASE WHEN event_id % 5 = 0 THEN 'untrack' ELSE 'track' END AS action,
         substr(props, 1, 16) AS meta, ts,
         CAST(event_id AS BIGINT) AS seq
  FROM events
)
"""


def presence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.select(
        F.col("event_type").alias("topic"),
        F.col("user_id").cast("string").alias("presence_key"),
        F.when(F.col("event_id") % 5 == 0, F.lit("untrack"))
        .otherwise(F.lit("track"))
        .alias("action"),
        F.substring(F.col("props"), 1, 16).alias("meta"),
        F.col("ts").alias("ts"),
        F.col("event_id").cast("long").alias("seq"),
    )


def q_presence_diffs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.streaming.presence import presence_diffs_batch

    ev = presence_events(spark, sf_dir).withColumn(
        "ts", F.col("seq").cast("timestamp")
    )  # seq as ts: unique, deterministic order per key
    out = presence_diffs_batch(ev)
    return out.select(
        "topic", "presence_key", "kind", "meta", F.col("ts").cast("long").alias("seq")
    )


ORACLE_PRESENCE_DIFFS = f"""
WITH {_PRESENCE_CTE.strip()},
lagged AS (
  SELECT *, lag(meta) OVER w AS prev_meta, lag(action) OVER w AS prev_action
  FROM _presence
  WINDOW w AS (PARTITION BY topic, presence_key ORDER BY seq)
),
kinds AS (
  SELECT *,
    CASE
      WHEN action = 'track' AND NOT COALESCE(prev_action = 'track', FALSE) THEN 'join'
      WHEN action = 'track' AND COALESCE(prev_action = 'track', FALSE)
           AND prev_meta IS DISTINCT FROM meta THEN 'update'
      WHEN action = 'untrack' AND COALESCE(prev_action = 'track', FALSE) THEN 'leave'
    END AS kind
  FROM lagged
)
SELECT topic, presence_key, kind,
       CASE WHEN kind = 'leave' THEN prev_meta ELSE meta END AS meta, seq
FROM kinds WHERE kind IS NOT NULL
"""


def q_presence_current_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.streaming.presence import presence_state_batch

    ev = presence_events(spark, sf_dir).withColumn(
        "ts", F.col("seq").cast("timestamp")
    )
    out = presence_state_batch(ev)
    return out.select(
        "topic", "presence_key", "meta", F.col("tracked_at").cast("long").alias("seq")
    )


ORACLE_PRESENCE_CURRENT_STATE = f"""
WITH {_PRESENCE_CTE.strip()},
last AS (
  SELECT *, row_number() OVER (PARTITION BY topic, presence_key
            ORDER BY seq DESC) AS rn
  FROM _presence
)
SELECT topic, presence_key, meta, seq
FROM last WHERE rn = 1 AND action = 'track'
"""


_DB_ENC_KEY = b"realtime-enc-16B"  # 16-byte fixture key (db_enc_key analog)


def q_tenant_secret_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """crypto.ex parity: per-user connection secrets AES-128-ECB encrypted
    and decrypted back IN SPARK (both directions through the pure-stdlib
    FIPS-197 pandas UDFs; FIPS test vectors pinned in tests/test_units.py).
    The oracle re-derives the plaintext relationally and the ciphertext
    LENGTH closed-form (PKCS#7: 16*ceil((len+1)/16) bytes -> base64), so a
    wrong pad or block count hash-mismatches."""
    from realtime_spark.functions.crypto import decrypt_col, encrypt_col

    e = load_table(spark, sf_dir, "events")
    users = e.select("user_id").distinct()
    secret = F.concat(
        F.lit("postgresql://tenant_"),
        F.col("user_id").cast("string"),
        F.lit(":pw@db.internal/realtime"),
    )
    enc = users.select(
        "user_id", encrypt_col(secret, _DB_ENC_KEY).alias("enc")
    )
    return enc.select(
        "user_id",
        decrypt_col(F.col("enc"), _DB_ENC_KEY).alias("secret"),
        F.octet_length("enc").alias("enc_b64_len"),
    )


ORACLE_TENANT_SECRET = """
WITH u AS (SELECT DISTINCT user_id FROM events),
s AS (
  SELECT user_id,
         'postgresql://tenant_' || CAST(user_id AS VARCHAR)
           || ':pw@db.internal/realtime' AS secret
  FROM u
)
SELECT user_id, secret,
       CAST(4 * ceil((16 * ceil((strlen(secret) + 1) / 16.0)) / 3.0) AS INT)
         AS enc_b64_len
FROM s
"""


def q_token_refresh_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Access-token refresh / read-revocation flow
    (realtime_channel.ex:523-600): per connection, event_id % 6 selects the
    scenario — 0 same token, 1 sb_ key, 2 null (all noop), 3 tampered
    (disconnect:invalid_token), 4 downgrade to anon (read revoked on
    private topics where the old role could read), 5 upgrade to
    service_role. Tokens are REAL HS256 JWTs through the verify path."""
    from realtime_spark.operators.auth import token_refresh_decisions

    e = load_table(spark, sf_dir, "events")
    old_role = (
        F.when(F.col("user_id") % 3 == 0, F.lit("anon"))
        .when(F.col("user_id") % 3 == 1, F.lit("authenticated"))
        .otherwise(F.lit("service_role"))
    )
    old_tok = (
        F.when(F.col("user_id") % 3 == 0, F.lit(_TOKENS["anon"]))
        .when(F.col("user_id") % 3 == 1, F.lit(_TOKENS["authenticated"]))
        .otherwise(F.lit(_TOKENS["service_role"]))
    )
    case = F.col("event_id") % 6
    refresh = (
        F.when(case == 0, old_tok)
        .when(case == 1, F.lit("sb_publishable_key"))
        .when(case == 2, F.lit(None).cast("string"))
        .when(case == 3, F.lit(_BAD_TOKEN))
        .when(case == 4, F.lit(_TOKENS["anon"]))
        .otherwise(F.lit(_TOKENS["service_role"]))
    )
    refreshes = e.select(
        F.col("event_id").alias("conn_id"),
        F.col("event_type").alias("topic"),
        (F.col("user_id") % 2 == 0).alias("private"),
        old_role.alias("old_role"),
        old_tok.alias("old_token"),
        refresh.alias("refresh_token"),
    )
    pols = policies_df(spark, _POLICY_SPECS)
    return token_refresh_decisions(refreshes, pols, _JWT_SECRET, _NOW_EPOCH)


def _oracle_token_refresh() -> str:
    vals = ", ".join(
        f"('{p['topic']}', '{p['claims_role']}', "
        f"{str(bool(p.get('can_read', False))).upper()})"
        for p in _POLICY_SPECS
    )
    return f"""
WITH m AS (
  SELECT event_id AS conn_id, event_type AS topic,
         (user_id % 2 = 0) AS priv,
         CASE WHEN user_id % 3 = 0 THEN 'anon'
              WHEN user_id % 3 = 1 THEN 'authenticated'
              ELSE 'service_role' END AS old_role,
         event_id % 6 AS c
  FROM events
),
roled AS (
  SELECT *,
    CASE WHEN c = 4 THEN 'anon'
         WHEN c = 5 THEN 'service_role'
         WHEN c = 0 THEN old_role END AS new_role
  FROM m
),
flags AS (
  SELECT r.*,
         COALESCE(po.p_ok, FALSE) AS old_read,
         COALESCE(pn.p_ok, FALSE) AS new_read
  FROM roled r
  LEFT JOIN (VALUES {vals}) AS po(p_topic, p_role, p_ok)
    ON r.topic = po.p_topic AND r.old_role = po.p_role
  LEFT JOIN (VALUES {vals}) AS pn(p_topic, p_role, p_ok)
    ON r.topic = pn.p_topic AND r.new_role = pn.p_role
)
SELECT conn_id, topic,
  -- cases 4/5 degenerate to the same-token noop when the connection
  -- already holds that role's token (handle_in's refresh == access_token)
  CASE WHEN c IN (0, 1, 2) OR new_role = old_role THEN 'noop'
       WHEN c = 3 THEN 'disconnect:invalid_token'
       WHEN priv AND old_read AND NOT new_read THEN 'disconnect:read_revoked'
       ELSE 'refreshed' END AS decision,
  CASE WHEN c IN (0, 1, 2, 3) OR new_role = old_role THEN NULL
       WHEN priv AND old_read AND NOT new_read THEN NULL
       ELSE new_role END AS active_role
FROM flags
"""


_PRESENCE_POLICY_SPECS = [
    {"topic": "click", "claims_role": "authenticated", "extension": "presence",
     "can_read": True, "can_write": True},
    {"topic": "view", "claims_role": "service_role", "extension": "presence",
     "can_read": True, "can_write": True},
    # purchase: no presence policy row -> private track/untrack dropped
]


def q_presence_policy_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PresencePolicies parity (lib/realtime/tenants/authorization/policies/
    presence_policies.ex + authorization.ex): track/untrack on PRIVATE
    topics requires the role's presence write policy; unauthorized events
    are dropped BEFORE the state fold, so an unauthorized untrack leaves
    the member present. Output: the surviving current presence state."""
    from realtime_spark.streaming.presence import presence_state_batch

    ev = presence_events(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    role = (
        F.when(F.col("user_id") % 3 == 0, F.lit("anon"))
        .when(F.col("user_id") % 3 == 1, F.lit("authenticated"))
        .otherwise(F.lit("service_role"))
    )
    enriched = ev.join(
        e.select(
            F.col("event_id").cast("long").alias("seq"),
            role.alias("claims_role"),
            (F.col("event_id") % 2 == 0).alias("private"),
        ),
        "seq",
    )
    pols = policies_df(spark, _PRESENCE_POLICY_SPECS)
    gated = gate_messages(enriched, pols, mode="write", extension="presence")
    out = presence_state_batch(
        gated.withColumn("ts", F.col("seq").cast("timestamp"))
    )
    return out.select(
        "topic", "presence_key", "meta",
        F.col("tracked_at").cast("long").alias("seq"),
    )


def _presence_policy_values() -> str:
    rows = ", ".join(
        f"('{p['topic']}', '{p['claims_role']}', "
        f"{str(bool(p['can_write'])).upper()})"
        for p in _PRESENCE_POLICY_SPECS
    )
    return f"(VALUES {rows}) AS p(p_topic, p_role, p_ok)"


ORACLE_PRESENCE_POLICY_GATE = f"""
WITH {_PRESENCE_CTE.strip()},
enriched AS (
  SELECT pr.*, (e.event_id % 2 = 0) AS private,
         CASE WHEN e.user_id % 3 = 0 THEN 'anon'
              WHEN e.user_id % 3 = 1 THEN 'authenticated'
              ELSE 'service_role' END AS claims_role
  FROM _presence pr JOIN events e ON e.event_id = pr.seq
),
gated AS (
  SELECT en.* FROM enriched en
  LEFT JOIN {_presence_policy_values()}
    ON en.topic = p.p_topic AND en.claims_role = p.p_role
  WHERE (NOT en.private) OR COALESCE(p.p_ok, FALSE)
),
last AS (
  SELECT *, row_number() OVER (PARTITION BY topic, presence_key
            ORDER BY seq DESC) AS rn
  FROM gated
)
SELECT topic, presence_key, meta, seq
FROM last WHERE rn = 1 AND action = 'track'
"""


# ---------------------------------------------------------------------------
# RLS row predicate (P7/J5): policy expression over the change record,
# per-role, compiled to a Spark expression
# ---------------------------------------------------------------------------


def q_rls_row_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df
    from realtime_spark.operators.cdc import matched_pairs, subscriptions_df
    from realtime_spark.sources.testdata import changes_from_orders

    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(
        spark,
        [
            {"subscription_id": "s-auth", "table": "orders", "claims_role": "authenticated"},
            {"subscription_id": "s-anon", "table": "orders", "claims_role": "anon"},
        ],
    )
    # authenticated sees open orders only; anon has no policy row -> passes
    pols = rls_policies_df(
        spark,
        [
            {
                "table": "orders",
                "claims_role": "authenticated",
                "policy_expr": "element_at(c.record, 'o_orderstatus') = 'O' "
                "OR element_at(c.old_record, 'o_orderstatus') = 'O'",
            }
        ],
    )
    pairs = matched_pairs(changes, subs)
    out = apply_rls_policies(pairs, pols).select("c", F.explode("subs").alias("s"))
    return out.select(
        F.col("c.change_id").alias("change_id"),
        F.col("s.subscription_id").alias("subscription_id"),
    )


def _oracle_rls() -> str:
    from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE

    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 's-anon' AS subscription_id FROM _orders_changes
UNION ALL
SELECT change_id, 's-auth' AS subscription_id FROM _orders_changes
WHERE o_orderstatus = 'O'
"""


_PGO_BCAST_MAX_KB = 1  # payload gate in KB, on the decoded text form


def q_pgoutput_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2→S6 end-to-end: the reference's broadcast-from-database consumer
    over REAL pgoutput bytes (replication_connection.ex:384-470). A
    `realtime.messages` INSERT stream is encoded as pgoutput frames
    (binary bool/timestamp/jsonb/bytea tuple values), decoded by the
    byte-level decoder, then run through the handle_message pipeline:
    required-field checks (get_or_error id/topic/event/inserted_at —
    missing rows dropped), pick_payload (binary_payload wins over payload,
    both missing -> dropped), the payload-size gate
    (Tenants.validate_payload_size, applied to the decoded text form), and
    tenant-topic namespacing with the private suffix."""
    from realtime_spark.sources.pgoutput import (
        decode_pgoutput,
        pgoutput_frames_from_messages,
    )

    frames = pgoutput_frames_from_messages(spark, sf_dir)
    dec = decode_pgoutput(frames).filter(
        (F.col("action") == "INSERT")
        & (F.col("schema_name") == "realtime")
        & (F.col("table_name") == "messages")
    )
    r = F.col("record")
    required_ok = (
        r["id"].isNotNull()
        & r["topic"].isNotNull()
        & r["event"].isNotNull()
        & r["inserted_at"].isNotNull()
        & r["private"].isNotNull()
    )
    body = F.coalesce(r["binary_payload"], r["payload"])
    # tenants.ex:509-513: "{id}:{topic}" public, "{id}-private:{topic}" private
    ns = F.concat(
        F.lit("t0"),
        F.when(r["private"] == "t", F.lit("-private:")).otherwise(F.lit(":")),
        r["topic"],
    )
    out = dec.filter(
        required_ok
        & body.isNotNull()
        & (F.octet_length(body) <= _PGO_BCAST_MAX_KB * 1000)
    )
    return out.select(
        r["id"].alias("id"),
        ns.alias("ns_topic"),
        r["event"].alias("event"),
        F.when(r["binary_payload"].isNotNull(), F.lit("binary"))
        .otherwise(F.lit("json"))
        .alias("encoding"),
        F.octet_length(body).alias("body_len"),
    )


ORACLE_PGOUTPUT_BROADCAST = f"""
WITH m AS (
  SELECT CAST(event_id AS VARCHAR) AS id,
         CASE WHEN event_id % 97 <> 0 THEN event_type END AS topic,
         (user_id % 2 = 0) AS priv,
         CASE WHEN event_id % 5 = 0
              THEN '\\x' || substr(md5(props), 1, 16) END AS binp,
         CASE WHEN event_id % 5 <> 0 AND event_id % 7 <> 0
              THEN props END AS payload
  FROM events
)
SELECT id,
       't0' || CASE WHEN priv THEN '-private:' ELSE ':' END || topic
         AS ns_topic,
       'broadcast' AS event,
       CASE WHEN binp IS NOT NULL THEN 'binary' ELSE 'json' END AS encoding,
       CAST(strlen(COALESCE(binp, payload)) AS INT) AS body_len
FROM m
WHERE topic IS NOT NULL AND COALESCE(binp, payload) IS NOT NULL
  AND strlen(COALESCE(binp, payload)) <= {_PGO_BCAST_MAX_KB * 1000}
"""


def q_rls_exists_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/J5: EXISTS-subquery RLS — authenticated subscribers see an order
    only if its customer row EXISTS in the BUILDING market segment
    (the reference's `exists(select 1 from entity where pk = value)`
    prepared-statement probe, migrations/20211116212300:52-61, compiled to
    a left-semi join); anon has no policy and sees everything."""
    from realtime_spark.operators.auth import apply_rls_exists_policy
    from realtime_spark.operators.cdc import matched_pairs, subscriptions_df
    from realtime_spark.sources.testdata import changes_from_orders

    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(
        spark,
        [
            {"subscription_id": "s-auth", "table": "orders", "claims_role": "authenticated"},
            {"subscription_id": "s-anon", "table": "orders", "claims_role": "anon"},
        ],
    )
    lookup = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    pairs = matched_pairs(changes, subs)
    out = apply_rls_exists_policy(
        pairs, lookup, [("o_custkey", "c_custkey")],
        table_name="orders", claims_role="authenticated",
    )
    return out.select(
        F.col("c.change_id").alias("change_id"),
        F.col("s.subscription_id").alias("subscription_id"),
    )


def _oracle_rls_exists() -> str:
    from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE

    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 's-anon' AS subscription_id FROM _orders_changes
UNION ALL
SELECT change_id, 's-auth' AS subscription_id FROM _orders_changes c
WHERE EXISTS (
  SELECT 1 FROM customer
  WHERE c_custkey = c.o_custkey AND c_mktsegment = 'BUILDING'
)
"""


# ---------------------------------------------------------------------------
# wal2json source roundtrip (S1/S2): build wal2json-v2 JSON lines from orders
# deterministically, run the REAL parser, emit normalized change fields. The
# oracle reconstructs the expected output relationally.
# ---------------------------------------------------------------------------


def q_wal2json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.sources.wal2json import parse_wal2json

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 3 == 0)
    raw = o.select(
        F.to_json(
            F.struct(
                F.lit("I").alias("action"),
                F.lit("public").alias("schema"),
                F.lit("orders").alias("table"),
                F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("timestamp"),
                F.array(
                    F.struct(
                        F.lit("o_orderkey").alias("name"),
                        F.lit("int8").alias("type"),
                        F.lit(20).alias("typeoid"),
                        F.col("o_orderkey").cast("string").alias("value"),
                    ),
                    F.struct(
                        F.lit("o_orderstatus").alias("name"),
                        F.lit("text").alias("type"),
                        F.lit(25).alias("typeoid"),
                        F.col("o_orderstatus").alias("value"),
                    ),
                ).alias("columns"),
                F.array(
                    F.struct(
                        F.lit("o_orderkey").alias("name"),
                        F.lit("int8").alias("type"),
                    )
                ).alias("pk"),
            )
        ).alias("value")
    )
    parsed = parse_wal2json(raw)
    return parsed.select(
        "action",
        "schema_name",
        "table_name",
        F.date_format("commit_timestamp", "yyyy-MM-dd HH:mm:ss").alias("commit_ts"),
        F.try_element_at(F.col("record"), F.lit("o_orderkey")).alias("o_orderkey"),
        F.try_element_at(F.col("record"), F.lit("o_orderstatus")).alias("o_orderstatus"),
        F.array_join("pk", ",").alias("pk"),
        F.array_join("col_names", ",").alias("col_names"),
    )


ORACLE_WAL2JSON_PARSE = """
SELECT 'INSERT' AS action, 'public' AS schema_name, 'orders' AS table_name,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS commit_ts,
       CAST(o_orderkey AS VARCHAR) AS o_orderkey,
       o_orderstatus,
       'o_orderkey' AS pk,
       'o_orderkey,o_orderstatus' AS col_names
FROM orders WHERE o_orderkey % 3 = 0
"""


# ---------------------------------------------------------------------------
# node routing (J6/O6): route matched changes to owning nodes with
# broadcast-all fallback for unmapped subscriptions
# ---------------------------------------------------------------------------


def q_node_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.cdc import match_changes, subscriptions_df
    from realtime_spark.operators.routing import node_map_df, route_to_nodes
    from realtime_spark.sources.testdata import ORDERS_PG_TYPES, changes_from_orders

    changes = changes_from_orders(spark, sf_dir)
    specs = [
        {"subscription_id": "sub-eq-f", "table": "orders", "filters": "o_orderstatus=eq.F"},
        {"subscription_id": "sub-gt", "table": "orders", "filters": "o_totalprice=gt.150000"},
        {"subscription_id": "sub-ins", "table": "orders", "action": "INSERT"},
    ]
    subs = subscriptions_df(
        spark, specs, type_maps={("public", "orders"): ORDERS_PG_TYPES}
    )
    nodes = node_map_df(
        spark,
        [
            {"subscription_id": "sub-eq-f", "node": "node-a"},
            {"subscription_id": "sub-gt", "node": "node-b"},
            # sub-ins intentionally unmapped -> '*' fallback
        ],
    )
    out = route_to_nodes(match_changes(changes, subs), nodes)
    return out.select(
        "node",
        "change_id",
        F.array_join("subscription_ids", ",").alias("subscription_ids"),
        "n_subs",
    )


def _oracle_node_routing() -> str:
    from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE

    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()},
pairs AS (
  SELECT change_id, 'sub-eq-f' AS subscription_id, 'node-a' AS node
  FROM _orders_changes WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT change_id, 'sub-gt', 'node-b' FROM _orders_changes WHERE o_totalprice > 150000
  UNION ALL
  SELECT change_id, 'sub-ins', '*' FROM _orders_changes WHERE action = 'INSERT'
)
SELECT node, change_id,
       array_to_string(list_sort(list(subscription_id)), ',') AS subscription_ids,
       COUNT(*) AS n_subs
FROM pairs GROUP BY node, change_id
"""


# ---------------------------------------------------------------------------
# sessionization (connection-lifecycle analytics over the event log)
# ---------------------------------------------------------------------------

_SESSION_GAP_S = 86400  # events are sparse at test SF; 1-day gap -> several
# sessions per user


def q_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.functions.scalar import iso_ms
    from realtime_spark.operators.sessions import session_stats

    e = load_table(spark, sf_dir, "events")
    out = session_stats(e, ["user_id"], "ts", gap_seconds=_SESSION_GAP_S)
    return out.select(
        "user_id",
        "session_id",
        iso_ms(F.col("session_start")).alias("session_start"),
        iso_ms(F.col("session_end")).alias("session_end"),
        "n_events",
        "duration_sec",
    )


ORACLE_SESSION_STATS = f"""
WITH o AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR epoch(ts) - epoch(prev) >= {_SESSION_GAP_S}
            THEN 1 ELSE 0 END AS ns
  FROM o
),
s AS (
  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS session_id
  FROM f
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       strftime(MIN(ts), '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS session_start,
       strftime(MAX(ts), '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS session_end,
       COUNT(*) AS n_events,
       CAST(floor(epoch(MAX(ts)) - epoch(MIN(ts))) AS BIGINT) AS duration_sec
FROM s GROUP BY user_id, session_id
"""


# ---------------------------------------------------------------------------
# Broadcast fan-out with self-exclusion (S9 dispatch, P14 family)
# ---------------------------------------------------------------------------


def q_broadcast_fanout_self(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-sender fan-out: every ~97th event becomes a broadcast from its
    user; subscribers are everyone seen on the topic; echo only when the
    self flag (event_id parity) is set.

    Graded as PER-MESSAGE delivery accounting, not raw delivery pairs
    (r10, found by the sf1 gate): the raw pair set is |msgs| x
    |subscribers per topic| — BOTH proportional to SF, so emitting pairs
    is quadratic in corpus size (~154M rows at sf1) and grading it means
    materializing the transport's output, which no accounting layer does
    (same convention as fastlane_summary). The fan-out operator still
    runs in full — the rollup groups its output."""
    from realtime_spark.operators.routing import fanout_subscribers

    e = load_table(spark, sf_dir, "events")
    msgs = e.filter(F.col("event_id") % 97 == 0).select(
        F.col("event_id").alias("id"),
        F.col("event_type").alias("topic"),
        F.col("user_id").alias("sender_id"),
        (F.col("event_id") % 2 == 0).alias("self_broadcast"),
    )
    subs = e.select(
        F.col("event_type").alias("topic"),
        F.col("user_id").alias("subscriber_id"),
    ).distinct()
    out = fanout_subscribers(msgs, subs)
    return out.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_delivered"),
        F.sum(F.col("is_self").cast("int")).cast("bigint").alias("n_echo"),
    )


ORACLE_BROADCAST_FANOUT_SELF = """
WITH m AS (
  SELECT event_id AS id, event_type AS topic, user_id AS sender,
         (event_id % 2 = 0) AS self_b
  FROM events WHERE event_id % 97 = 0
),
s AS (SELECT DISTINCT event_type AS topic, user_id AS subscriber FROM events)
SELECT m.id, COUNT(*) AS n_delivered,
       CAST(SUM(CASE WHEN s.subscriber = m.sender THEN 1 ELSE 0 END)
            AS BIGINT) AS n_echo
FROM m JOIN s USING (topic)
WHERE m.self_b OR s.subscriber <> m.sender
GROUP BY m.id
"""


# ---------------------------------------------------------------------------
# Funnel analysis over the events stream (ordered steps view->click->purchase)
# ---------------------------------------------------------------------------

_FUNNEL_STEPS = ("view", "click", "purchase")

_FUNNEL_CTES = """
s1 AS (SELECT user_id AS usr, MIN(ts) AS ts_1
       FROM events WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY 1),
s2 AS (SELECT e.user_id AS usr, MIN(e.ts) AS ts_2
       FROM events e JOIN s1 ON s1.usr = e.user_id
       WHERE e.event_type = 'click' AND e.ts > s1.ts_1 GROUP BY 1),
s3 AS (SELECT e.user_id AS usr, MIN(e.ts) AS ts_3
       FROM events e JOIN s2 ON s2.usr = e.user_id
       WHERE e.event_type = 'purchase' AND e.ts > s2.ts_2 GROUP BY 1),
f AS (
  SELECT s1.usr,
         1 + (s2.usr IS NOT NULL)::INT + (s3.usr IS NOT NULL)::INT AS stage
  FROM s1 LEFT JOIN s2 ON s1.usr = s2.usr LEFT JOIN s3 ON s1.usr = s3.usr
)
"""


def q_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.funnel import funnel_steps

    e = load_table(spark, sf_dir, "events")
    return funnel_steps(e, _FUNNEL_STEPS).select("user", "stage")


ORACLE_FUNNEL_STAGES = f"""
WITH {_FUNNEL_CTES.strip()}
SELECT usr AS user, stage FROM f
"""


def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.funnel import funnel_counts

    e = load_table(spark, sf_dir, "events")
    return funnel_counts(e, _FUNNEL_STEPS)


ORACLE_FUNNEL_COUNTS = f"""
WITH {_FUNNEL_CTES.strip()}
SELECT stage, COUNT(*) AS n_users FROM f GROUP BY stage
"""


def q_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for fully converted users (stage 3),
    percentiles of seconds from first view to the qualifying purchase."""
    from realtime_spark.operators.funnel import funnel_steps
    from realtime_spark.operators.text import quantize

    e = load_table(spark, sf_dir, "events")
    f = funnel_steps(e, _FUNNEL_STEPS).filter(F.col("stage") == 3)
    lat = f.select(
        (F.col("ts_3").cast("double") - F.col("ts_1").cast("double")).alias("secs")
    )
    pct = F.expr("percentile(secs, array(0.5, 0.9))")
    out = lat.agg(F.count(F.lit(1)).alias("n_converted"), pct.alias("_p"))
    return out.select(
        "n_converted",
        quantize(F.col("_p")[0], 2).alias("p50_secs"),
        quantize(F.col("_p")[1], 2).alias("p90_secs"),
    )


ORACLE_FUNNEL_LATENCY = f"""
WITH {_FUNNEL_CTES.strip()},
lat AS (
  SELECT epoch(s3.ts_3) - epoch(s1.ts_1) AS secs
  FROM s3 JOIN s1 USING (usr)
)
SELECT COUNT(*) AS n_converted,
       floor(quantile_cont(secs, 0.5) * 100.0 + 0.5) / 100.0 AS p50_secs,
       floor(quantile_cont(secs, 0.9) * 100.0 + 0.5) / 100.0 AS p90_secs
FROM lat
"""


def q_traffic_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte/event accounting per (topic, day) — the reference's billable
    traffic measurement (test/integration/measure_traffic_test.exs:1-60;
    GenCounter byte counters via tenant max_bytes_per_second). Map-side
    combined groupBy; at 100 TB this is the metering job over the
    day-partitioned message store (partition-pruned per billing window)."""
    from realtime_spark.sources.testdata import messages_from_events

    m = messages_from_events(spark, sf_dir)
    return m.groupBy("topic", F.col("day").cast("string").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.octet_length(F.element_at("payload", "props"))).alias("total_bytes"),
        F.sum(F.when(F.col("private"), 1).otherwise(0)).alias("n_private"),
    )


ORACLE_TRAFFIC_ACCOUNTING = """
SELECT event_type AS topic, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       COUNT(*) AS n_events,
       CAST(SUM(strlen(props)) AS BIGINT) AS total_bytes,
       CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_private
FROM events
GROUP BY 1, 2
"""


_CHANNEL_LIMIT = 3


def q_channel_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_channels_per_client admission check: channels (topics) joined per
    client, flagged when over the tenant limit (reference:
    realtime_channel.ex limits + tenant.max_channels_per_client;
    config/runtime.exs:98). Fixture limit = 3 so flags actually fire."""
    e = load_table(spark, sf_dir, "events")
    per_client = e.groupBy(F.col("user_id").alias("client")).agg(
        F.countDistinct("event_type").alias("n_channels")
    )
    return per_client.withColumn(
        "over_limit", F.col("n_channels") > _CHANNEL_LIMIT
    )


ORACLE_CHANNEL_LIMITS = f"""
SELECT user_id AS client, COUNT(DISTINCT event_type) AS n_channels,
       COUNT(DISTINCT event_type) > {_CHANNEL_LIMIT} AS over_limit
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# DB-sourced broadcast (S6 ingress side): realtime.messages INSERT changes ->
# validated user-broadcast rows (replication_connection.ex:358-467)
# ---------------------------------------------------------------------------


def q_db_broadcast_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """messages-table INSERT changes derived from events; every ~11th row
    lacks `topic` (dropped by validation); every 4th carries a binary
    payload (wins over json payload, tagged 'binary')."""
    from realtime_spark.operators.messages import db_broadcast_from_changes

    e = load_table(spark, sf_dir, "events")
    topic = F.when(F.col("event_id") % 11 != 0, F.col("event_type"))
    binp = F.when(F.col("event_id") % 4 == 0, F.hex(F.col("props").cast("binary")))
    record = F.map_from_arrays(
        F.array(
            F.lit("id"), F.lit("topic"), F.lit("event"), F.lit("private"),
            F.lit("inserted_at"), F.lit("payload"), F.lit("binary_payload"),
            F.lit("extension"),
        ),
        F.array(
            F.col("event_id").cast("string"),
            topic,
            F.lit("broadcast"),
            F.when(F.col("user_id") % 2 == 0, F.lit("true")).otherwise(F.lit("false")),
            F.col("ts").cast("string"),
            F.col("props"),
            binp,
            F.lit("broadcast"),
        ),
    )
    changes = e.select(
        F.lit("INSERT").alias("action"),
        F.lit("realtime").alias("schema_name"),
        F.lit("messages_2026_01_01").alias("table_name"),
        record.alias("record"),
    )
    out = db_broadcast_from_changes(changes, max_payload_kb=1)
    return out.select("id", "topic", "private", "encoding", "payload")


# encode(), NOT props::BLOB: DuckDB's varchar->blob CAST processes backslash
# escapes (a literal '\n' in the text raises 'invalid hex escape code',
# surfaced by the stress corpus's '{"k": "7\n"}' plant), while Spark's
# cast("binary") takes the UTF-8 bytes verbatim — encode() is the verbatim
# UTF-8 conversion on the DuckDB side.
ORACLE_DB_BROADCAST_PARSE = """
SELECT CAST(event_id AS VARCHAR) AS id, event_type AS topic,
       (user_id % 2 = 0) AS private,
       CASE WHEN event_id % 4 = 0 THEN 'binary' ELSE 'json' END AS encoding,
       CASE WHEN event_id % 4 = 0 THEN upper(hex(encode(props))) ELSE props END AS payload
FROM events
WHERE event_id % 11 <> 0
  AND strlen(CASE WHEN event_id % 4 = 0 THEN upper(hex(encode(props))) ELSE props END) <= 1000
"""


def q_send_payload_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 oracle conversion (r8 ask #6): the `realtime.send` payload-id
    auto-gen shape (migrations/20251103001201:16-24). Every third event's
    payload already carries an 'id' key — the row id is STILL the
    generated uuid, but the payload keeps its own id; all other payloads
    gain {id: generated_id}. gen_random_uuid is pinned to a
    deterministic md5-derived uuid so DuckDB can replay it."""
    from realtime_spark.operators.messages import realtime_send, uuid_from_hash

    e = load_table(spark, sf_dir, "events")
    has_own = F.col("event_id") % 3 == 0
    payload = F.when(
        has_own,
        F.create_map(
            F.lit("body"), F.col("props"),
            F.lit("id"), F.concat(F.lit("prior-"), F.col("event_id").cast("string")),
        ),
    ).otherwise(F.create_map(F.lit("body"), F.col("props")))
    src = e.select(
        payload.alias("payload"),
        F.lit("broadcast-event").alias("event"),
        F.col("event_type").alias("topic"),
        (F.col("user_id") % 2 == 0).alias("private"),
        F.concat(F.lit("send:"), F.col("event_id").cast("string")).alias("_g"),
    )
    out = realtime_send(src, gen_id=uuid_from_hash(F.col("_g")))
    return out.select(
        "id",
        F.element_at("payload", "id").alias("payload_id"),
        (F.element_at("payload", "id") == F.col("id")).alias("id_injected"),
        "event",
        "topic",
        "private",
        "extension",
    )


ORACLE_SEND_PAYLOAD_ID = """
WITH g AS (
  SELECT md5('send:' || CAST(event_id AS VARCHAR)) AS h, *
  FROM events
), u AS (
  SELECT substr(h,1,8)||'-'||substr(h,9,4)||'-'||substr(h,13,4)||'-'||
         substr(h,17,4)||'-'||substr(h,21,12) AS gen, * FROM g
)
SELECT gen AS id,
       CASE WHEN event_id % 3 = 0
            THEN 'prior-' || CAST(event_id AS VARCHAR) ELSE gen END AS payload_id,
       (event_id % 3 <> 0) AS id_injected,
       'broadcast-event' AS event, event_type AS topic,
       (user_id % 2 = 0) AS private, 'broadcast' AS extension
FROM u
"""


def q_send_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 binary-variant oracle conversion (r8 ask #6): the
    `realtime.send_binary` shape (migrations/20260603120000:9-31) — the
    bytea lands in binary_payload, the row id is the generated uuid, and
    unlike the jsonb send NO id is injected anywhere (payload stays
    NULL). Binary content is pinned by md5 + octet length so the hash
    compare grades the bytes without shipping blobs through the
    column-sorted value hash."""
    from realtime_spark.operators.messages import (
        realtime_send_binary,
        uuid_from_hash,
    )

    d = load_table(spark, sf_dir, "documents")
    src = d.select(
        F.col("text").cast("binary").alias("binary_payload"),
        F.lit("doc-upload").alias("event"),
        F.concat(F.lit("room:"), (F.col("doc_id") % 7).cast("string")).alias("topic"),
        (F.col("doc_id") % 2 == 0).alias("private"),
        F.concat(F.lit("sendb:"), F.col("doc_id").cast("string")).alias("_g"),
    )
    out = realtime_send_binary(src, gen_id=uuid_from_hash(F.col("_g")))
    return out.select(
        "id",
        F.col("payload").isNull().alias("payload_is_null"),
        F.md5("binary_payload").alias("payload_md5"),
        F.octet_length("binary_payload").alias("payload_bytes"),
        "event",
        "topic",
        "private",
        "extension",
    )


ORACLE_SEND_BINARY = """
WITH g AS (
  SELECT md5('sendb:' || CAST(doc_id AS VARCHAR)) AS h, *
  FROM documents
)
SELECT substr(h,1,8)||'-'||substr(h,9,4)||'-'||substr(h,13,4)||'-'||
       substr(h,17,4)||'-'||substr(h,21,12) AS id,
       TRUE AS payload_is_null,
       md5(text) AS payload_md5,
       strlen(text) AS payload_bytes,
       'doc-upload' AS event,
       'room:' || CAST(doc_id % 7 AS VARCHAR) AS topic,
       (doc_id % 2 = 0) AS private, 'broadcast' AS extension
FROM g
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.operators.funnel import retention_cohorts

    e = load_table(spark, sf_dir, "events")
    out = retention_cohorts(e)
    return out.withColumn("cohort_day", F.col("cohort_day").cast("string"))


ORACLE_RETENTION_COHORTS = """
WITH days AS (SELECT DISTINCT user_id AS usr, CAST(ts AS DATE) AS day FROM events),
first AS (SELECT usr, MIN(day) AS cohort_day FROM days GROUP BY 1)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
       date_diff('day', f.cohort_day, d.day) AS day_offset,
       COUNT(DISTINCT d.usr) AS n_users
FROM days d JOIN first f USING (usr)
GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# Change-feed materialization: CDC stream -> latest table state
# ---------------------------------------------------------------------------


def q_cdc_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fold the versioned change feed into the current snapshot: last write
    per pk wins, DELETE tombstones drop the key, a later re-INSERT
    resurfaces it (operators/materialize.py)."""
    from realtime_spark.operators.materialize import materialize_latest
    from realtime_spark.sources.testdata import versioned_changes_from_orders

    changes = versioned_changes_from_orders(spark, sf_dir)
    out = materialize_latest(changes)
    return out.select(
        F.col("pk_text").cast("bigint").alias("o_orderkey"),
        F.element_at("record", "o_orderstatus").alias("status"),
        F.element_at("record", "o_totalprice").alias("price"),
        "last_action",
        "n_versions",
    )


def _oracle_materialize() -> str:
    from realtime_spark.sources.testdata import ORDERS_VERSIONS_SQL_CTE

    return f"""
WITH {ORDERS_VERSIONS_SQL_CTE.strip()},
r AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
            ORDER BY commit_ts DESC, seq DESC) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderkey) AS n_versions
  FROM _orders_versions
)
SELECT o_orderkey, status, CAST(CAST(price AS DECIMAL(18,2)) AS VARCHAR) AS price,
       action AS last_action, n_versions
FROM r WHERE rn = 1 AND action <> 'DELETE'
"""


def q_cdc_replica_identity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-relation REPLICA IDENTITY shaping of old_record (decoder.ex:
    186-203): a three-relation change feed where orders runs identity
    'd' (old = pk only), customer 'f' (full old row), supplier 'n' (no old
    tuple). Output inspects which old columns actually survive."""
    from realtime_spark.operators.projection import apply_replica_identity
    from realtime_spark.sources.testdata import changes_from_orders

    orders = changes_from_orders(spark, sf_dir)

    def _rel_changes(table, id_col, cols, action, offset):
        t = load_table(spark, sf_dir, table)
        rec = F.map_from_arrays(
            F.array(*[F.lit(c) for c in cols]),
            F.array(*[F.col(c).cast("string") for c in cols]),
        )
        return t.select(
            (F.col(id_col) + offset).alias("change_id"),
            F.lit(action).alias("action"),
            F.lit("public").alias("schema_name"),
            F.lit(table).alias("table_name"),
            F.lit("2026-01-01 00:00:00").cast("timestamp").alias("commit_timestamp"),
            F.when(F.lit(action) != "DELETE", rec).alias("record"),
            F.when(F.lit(action) != "INSERT", rec).alias("old_record"),
            F.array(F.lit(id_col)).alias("pk"),
        )

    customer = _rel_changes(
        "customer", "c_custkey", ["c_custkey", "c_name", "c_mktsegment"],
        "UPDATE", 20_000_000,
    )
    supplier = _rel_changes(
        "supplier", "s_suppkey", ["s_suppkey", "s_name"], "DELETE", 30_000_000
    )
    feed = (
        orders.select(customer.columns)
        .unionByName(customer)
        .unionByName(supplier)
    )
    identities = spark.createDataFrame(
        [
            ("public", "orders", "d"),
            ("public", "customer", "f"),
            ("public", "supplier", "n"),
        ],
        "schema_name string, table_name string, replica_identity string",
    )
    out = apply_replica_identity(feed, identities)
    return out.select(
        "change_id",
        "table_name",
        "action",
        F.array_join(F.array_sort(F.map_keys("old_record")), ",").alias("old_cols"),
        F.col("old_record").isNull().alias("old_is_null"),
    )


def _oracle_replica_identity() -> str:
    from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE

    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 'orders' AS table_name, action,
       CASE WHEN action = 'INSERT' THEN NULL ELSE 'o_orderkey' END AS old_cols,
       (action = 'INSERT') AS old_is_null
FROM _orders_changes
UNION ALL
SELECT c_custkey + 20000000, 'customer', 'UPDATE',
       'c_custkey,c_mktsegment,c_name', FALSE
FROM customer
UNION ALL
SELECT s_suppkey + 30000000, 'supplier', 'DELETE', NULL, TRUE
FROM supplier
"""


_TRUNCATE_AT = "1998-01-01 00:00:00"


def q_cdc_materialize_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialization with a TRUNCATE in the feed (TruncatedRelation,
    changes.ex:50-56): a relation-wide TRUNCATE at _TRUNCATE_AT wipes all
    state as of that point; only versions committed after it survive the
    fold. Re-inserts after the truncate resurface their keys."""
    from realtime_spark.operators.materialize import (
        apply_truncates,
        materialize_latest,
    )
    from realtime_spark.sources.testdata import versioned_changes_from_orders

    changes = versioned_changes_from_orders(spark, sf_dir)
    trunc_row = changes.sparkSession.createDataFrame(
        [("TRUNCATE", "public", "orders")], "action string, schema_name string, table_name string"
    ).select(
        F.lit(None).cast("bigint").alias("change_id"),
        F.lit(0).alias("seq"),
        "action",
        "schema_name",
        "table_name",
        F.lit(_TRUNCATE_AT).cast("timestamp").alias("commit_timestamp"),
        F.lit(None).cast("map<string,string>").alias("record"),
        F.lit(None).cast("map<string,string>").alias("old_record"),
        F.lit(None).cast("array<string>").alias("pk"),
    )
    feed = changes.unionByName(trunc_row)
    out = materialize_latest(apply_truncates(feed))
    return out.select(
        F.col("pk_text").cast("bigint").alias("o_orderkey"),
        F.element_at("record", "o_orderstatus").alias("status"),
        "last_action",
        "n_versions",
    )


def _oracle_materialize_truncate() -> str:
    from realtime_spark.sources.testdata import ORDERS_VERSIONS_SQL_CTE

    return f"""
WITH {ORDERS_VERSIONS_SQL_CTE.strip()},
kept AS (
  -- the truncate's version is (T, seq 0): same-timestamp data rows carry
  -- seq >= 1 and therefore sort AFTER the truncate and survive
  SELECT * FROM _orders_versions
  WHERE commit_ts > TIMESTAMP '{_TRUNCATE_AT}'
     OR (commit_ts = TIMESTAMP '{_TRUNCATE_AT}' AND seq > 0)
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
            ORDER BY commit_ts DESC, seq DESC) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderkey) AS n_versions
  FROM kept
)
SELECT o_orderkey, status, action AS last_action, n_versions
FROM r WHERE rn = 1 AND action <> 'DELETE'
"""


_ASOF_TS = "1997-06-01 12:00:00"  # mid-corpus wall-clock cut (orders span 1992-1998)


def q_cdc_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the versioned change feed: the table state as of a
    wall-clock commit point (operators/materialize.py::snapshot_asof). Keys
    whose later generations (update/delete/re-insert, at +1h/+2h/+3h) fall
    past the cut surface their earlier state; keys ordered after the cut
    don't exist yet. The bound is a scan filter ahead of the one-shuffle
    fold — partition pruning on a ts-partitioned change log."""
    from realtime_spark.operators.materialize import snapshot_asof
    from realtime_spark.sources.testdata import versioned_changes_from_orders

    changes = versioned_changes_from_orders(spark, sf_dir)
    out = snapshot_asof(changes, _ASOF_TS)
    return out.select(
        F.col("pk_text").cast("bigint").alias("o_orderkey"),
        F.element_at("record", "o_orderstatus").alias("status"),
        F.element_at("record", "o_totalprice").alias("price"),
        "last_action",
        "n_versions",
    )


def _oracle_snapshot_asof() -> str:
    from realtime_spark.sources.testdata import ORDERS_VERSIONS_SQL_CTE

    return f"""
WITH {ORDERS_VERSIONS_SQL_CTE.strip()},
bound AS (
  SELECT * FROM _orders_versions
  WHERE commit_ts <= TIMESTAMP '{_ASOF_TS}'
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
            ORDER BY commit_ts DESC, seq DESC) AS rn,
         COUNT(*) OVER (PARTITION BY o_orderkey) AS n_versions
  FROM bound
)
SELECT o_orderkey, status, CAST(CAST(price AS DECIMAL(18,2)) AS VARCHAR) AS price,
       action AS last_action, n_versions
FROM r WHERE rn = 1 AND action <> 'DELETE'
"""


def q_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changefeed compaction: squash each key's post-load changes (seq 2-4:
    update, delete, re-insert) to ONE net change against the initial load
    (seq 1) — log-compaction for downstream consumers that only want the
    net effect per key. update+delete nets to DELETE; update+delete+
    re-insert nets to UPDATE carrying the final record with the base row
    as old_record."""
    from realtime_spark.operators.materialize import compact_changes
    from realtime_spark.sources.testdata import versioned_changes_from_orders

    changes = versioned_changes_from_orders(spark, sf_dir)
    out = compact_changes(changes, before=F.col("seq") <= 1)
    return out.select(
        F.col("pk_text").cast("bigint").alias("o_orderkey"),
        "net_action",
        F.element_at("record", "o_orderstatus").alias("status"),
        F.element_at("record", "o_totalprice").alias("price"),
        F.element_at("old_record", "o_orderstatus").alias("old_status"),
        "last_seq",
        "n_squashed",
    )


def _oracle_compact() -> str:
    from realtime_spark.sources.testdata import ORDERS_VERSIONS_SQL_CTE

    return f"""
WITH {ORDERS_VERSIONS_SQL_CTE.strip()},
base AS (
  SELECT o_orderkey, status, price FROM _orders_versions WHERE seq <= 1
),
win AS (
  SELECT o_orderkey,
         arg_max(action, seq) AS last_action,
         arg_max(status, seq) AS last_status,
         arg_max(price, seq) AS last_price,
         MAX(seq) AS last_seq,
         COUNT(*) AS n_squashed
  FROM _orders_versions WHERE seq > 1 GROUP BY o_orderkey
)
SELECT w.o_orderkey,
       CASE WHEN w.last_action <> 'DELETE' AND b.o_orderkey IS NOT NULL
              THEN 'UPDATE'
            WHEN w.last_action <> 'DELETE' THEN 'INSERT'
            WHEN b.o_orderkey IS NOT NULL THEN 'DELETE' END AS net_action,
       CASE WHEN w.last_action <> 'DELETE'
            THEN w.last_status END AS status,
       CASE WHEN w.last_action <> 'DELETE'
            THEN CAST(CAST(w.last_price AS DECIMAL(18,2)) AS VARCHAR) END AS price,
       b.status AS old_status,
       w.last_seq, CAST(w.n_squashed AS BIGINT) AS n_squashed
FROM win w LEFT JOIN base b USING (o_orderkey)
WHERE NOT (w.last_action = 'DELETE' AND b.o_orderkey IS NULL)
"""


def q_cdc_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delivery-continuity audit of the change feed: find the holes in each
    relation's change-id sequence (the at-least-once analog of the
    reference's WAL-position tracking — a consumer replaying the feed wants
    to KNOW which id ranges never arrived, the check behind replay +
    exclude_replayed). lag() per relation over the id order; each hole is
    reported as (gap_after, resume_at, missing). One window shuffle keyed
    by relation; at 100 TB the same audit runs per id-range partition with
    only partition-boundary ids exchanged."""
    from realtime_spark.sources.testdata import changes_from_orders

    changes = changes_from_orders(spark, sf_dir)
    w = Window.partitionBy("schema_name", "table_name").orderBy("change_id")
    prev = F.lag("change_id").over(w)
    return (
        changes.select(
            "schema_name", "table_name", "change_id", prev.alias("_prev")
        )
        .filter(F.col("_prev").isNotNull() & (F.col("change_id") - F.col("_prev") > 1))
        .select(
            "table_name",
            F.col("_prev").alias("gap_after"),
            F.col("change_id").alias("resume_at"),
            (F.col("change_id") - F.col("_prev") - 1).alias("missing"),
        )
    )


def _oracle_gap_audit() -> str:
    from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE

    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()},
l AS (
  SELECT change_id,
         lag(change_id) OVER (ORDER BY change_id) AS prev
  FROM _orders_changes
)
SELECT 'orders' AS table_name, prev AS gap_after, change_id AS resume_at,
       change_id - prev - 1 AS missing
FROM l WHERE prev IS NOT NULL AND change_id - prev > 1
"""


def q_cdc_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL-drift detection on the change feed: flag changes whose record key
    set disagrees with the relation's declared column list (col_names) — the
    consumer-side view of the reference re-fetching column metadata every
    poll (postgres_cdc_rls re-reads the publication's column set). Drift is
    injected deterministically: %13 changes lose o_comment-like column
    o_nullable (dropped-column shape), %17 gain an extra 'o_new_col'
    (added-column shape). Map-only set algebra over the record map —
    array_except both ways, no shuffle."""
    from realtime_spark.sources.testdata import changes_from_orders

    changes = changes_from_orders(spark, sf_dir).filter(F.col("action") != "DELETE")
    rec = F.col("record")
    rec = F.when(
        F.col("change_id") % 13 == 0, F.map_filter(rec, lambda k, v: k != "o_nullable")
    ).otherwise(rec)
    rec = F.when(
        F.col("change_id") % 17 == 0,
        F.map_concat(rec, F.create_map(F.lit("o_new_col"), F.lit("x"))),
    ).otherwise(rec)
    declared = F.col("col_names")
    actual = F.map_keys(rec)
    missing = F.array_sort(F.array_except(declared, actual))
    extra = F.array_sort(F.array_except(actual, declared))
    return (
        changes.select(
            "change_id",
            F.array_join(missing, ",").alias("missing_cols"),
            F.array_join(extra, ",").alias("extra_cols"),
        )
        .filter((F.col("missing_cols") != "") | (F.col("extra_cols") != ""))
    )


def _oracle_schema_drift() -> str:
    from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE

    # %13 drop o_nullable, %17 add o_new_col; a change can hit both
    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id,
       CASE WHEN change_id % 13 = 0 THEN 'o_nullable' ELSE '' END AS missing_cols,
       CASE WHEN change_id % 17 = 0 THEN 'o_new_col' ELSE '' END AS extra_cols
FROM _orders_changes
WHERE action <> 'DELETE' AND (change_id % 13 = 0 OR change_id % 17 = 0)
"""


def q_subscription_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 as a relational query: INSERT .. ON CONFLICT DO UPDATE on the
    subscription dimension (operators/cdc.upsert_subscriptions; reference
    unique index on (subscription_id, entity, filters, action,
    coalesce(selected_columns,'{}')) — subscriptions.ex:60-137). Existing
    subs come from one customer slice; incoming rows collide on the unique
    key for half (incoming wins — claims_role flips), differ ONLY in
    selected_columns for a quarter (distinct key -> BOTH kept, exercising
    the coalesce key component), and are genuinely new for another slice.
    Scale shape: the upsert is one key-hash anti-join + union — a MERGE on
    a real lakehouse table, no driver loop."""
    from realtime_spark.operators.cdc import upsert_subscriptions

    c = load_table(spark, sf_dir, "customer").select("c_custkey")

    def subs(df: DataFrame, role: str, sel: bool) -> DataFrame:
        return df.select(
            F.col("c_custkey").cast("bigint").alias("id"),
            F.concat(F.lit("sub-"), F.col("c_custkey")).alias("subscription_id"),
            F.lit("public").alias("schema_name"),
            F.lit("orders").alias("table_name"),
            F.lit(None).cast(
                "array<struct<column_name:string,op:string,value:string,"
                "values:array<string>,negate:boolean,fam:string>>"
            ).alias("filters"),
            F.lit(role).alias("claims_role"),
            F.lit("*").alias("action_filter"),
            (
                F.array(F.lit("o_orderkey"))
                if sel
                else F.lit(None).cast("array<string>")
            ).alias("selected_columns"),
            F.create_map().cast("map<string,string>").alias("claims"),
        )

    existing = subs(c.filter("c_custkey % 3 = 0"), "authenticated", False)
    incoming = (
        subs(c.filter("c_custkey % 6 = 0"), "service", False)
        .unionByName(subs(c.filter("c_custkey % 12 = 0"), "service", True))
        .unionByName(subs(c.filter("c_custkey % 3 = 1"), "service", False))
    )
    return upsert_subscriptions(existing, incoming).select(
        "subscription_id",
        "table_name",
        "claims_role",
        F.coalesce(F.concat_ws(",", "selected_columns"), F.lit("")).alias("sel_cols"),
    )


ORACLE_SUBSCRIPTION_UPSERT = """
WITH ex AS (
  SELECT 'sub-' || c_custkey AS subscription_id, 'orders' AS table_name,
         'authenticated' AS claims_role, '' AS sel_cols
  FROM customer WHERE c_custkey % 3 = 0
),
inc(subscription_id, table_name, claims_role, sel_cols) AS (
  SELECT 'sub-' || c_custkey, 'orders', 'service', '' FROM customer WHERE c_custkey % 6 = 0
  UNION ALL
  SELECT 'sub-' || c_custkey, 'orders', 'service', 'o_orderkey' FROM customer WHERE c_custkey % 12 = 0
  UNION ALL
  SELECT 'sub-' || c_custkey, 'orders', 'service', '' FROM customer WHERE c_custkey % 3 = 1
)
SELECT subscription_id, table_name, claims_role, sel_cols FROM ex
WHERE NOT EXISTS (SELECT 1 FROM inc
  WHERE inc.subscription_id = ex.subscription_id AND inc.sel_cols = ex.sel_cols)
UNION ALL
SELECT * FROM inc
"""


def q_lsn_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 as a relational query: synthesize a 64-bit LSN per event (file =
    user_id low bits, offset = a Knuth multiplicative hash of event_id),
    render pg's canonical FILE/OFFSET hex form (functions/scalar.lsn_format
    — decoder.ex:315-316), decode it back (lsn_decode), and return both;
    the oracle reproduces the arithmetic and the hex rendering exactly.
    Map-only, no shuffle."""
    from realtime_spark.functions.scalar import lsn_decode, lsn_format

    e = load_table(spark, sf_dir, "events").filter("event_id % 37 = 0")
    lsn = (
        (F.col("user_id").cast("bigint") % 4096)
        * F.lit(4294967296).cast("bigint")
        + (F.col("event_id").cast("bigint") * 2654435761) % 4294967296
    )
    return e.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        lsn.alias("lsn"),
        lsn_format(lsn).alias("lsn_text"),
        lsn_decode(lsn)["file"].alias("lsn_file"),
        lsn_decode(lsn)["offset"].alias("lsn_offset"),
    )


ORACLE_LSN_ROUNDTRIP = """
WITH src AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         (CAST(user_id AS BIGINT) % 4096) * 4294967296
           + (CAST(event_id AS BIGINT) * 2654435761) % 4294967296 AS lsn
  FROM events WHERE event_id % 37 = 0
)
SELECT event_id, lsn,
       upper(format('{:x}', lsn // 4294967296)) || '/' ||
       upper(format('{:x}', lsn % 4294967296)) AS lsn_text,
       CAST(lsn // 4294967296 AS BIGINT) AS lsn_file,
       CAST(lsn % 4294967296 AS BIGINT) AS lsn_offset
FROM src
"""


def q_uuid_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6 as a relational query: 16-byte binary uuids (synthesized
    deterministically as md5 digests of the event id — both engines build
    the identical BLOB via unhex(md5(..))) rendered to the canonical
    dashed lowercase form by functions/scalar.uuid_from_bytes
    (decoder.ex:276's binary-uuid text rendering). Map-only, no shuffle."""
    from realtime_spark.functions.scalar import uuid_from_bytes

    e = load_table(spark, sf_dir, "events").filter("event_id % 53 = 0")
    raw = F.unhex(F.md5(F.col("event_id").cast("string")))
    return e.select(
        F.col("event_id").cast("bigint").alias("event_id"),
        uuid_from_bytes(raw).alias("uuid_text"),
    )


ORACLE_UUID_FORMAT = """
WITH src AS (
  SELECT CAST(event_id AS BIGINT) AS event_id,
         lower(md5(CAST(event_id AS VARCHAR))) AS h
  FROM events WHERE event_id % 53 = 0
)
SELECT event_id,
       substr(h,1,8) || '-' || substr(h,9,4) || '-' || substr(h,13,4)
         || '-' || substr(h,17,4) || '-' || substr(h,21,12) AS uuid_text
FROM src
"""


def realtime_extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "jwt_claims": q_jwt_claims,
        "policy_read_gate": q_policy_read_gate,
        "policy_write_gate": q_policy_write_gate,
        "batch_ingest_groups": q_batch_ingest_groups,
        "presence_diffs": q_presence_diffs,
        "presence_current_state": q_presence_current_state,
        "rls_row_filter": q_rls_row_filter,
        "rls_exists_policy": q_rls_exists_policy,
        "pgoutput_broadcast": q_pgoutput_broadcast,
        "presence_policy_gate": q_presence_policy_gate,
        "token_refresh_flow": q_token_refresh_flow,
        "tenant_secret_roundtrip": q_tenant_secret_roundtrip,
        "rls_claims_param": q_rls_claims_param,
        "rls_pg_policy": q_rls_pg_policy,
        "rls_pg_policy_exists": q_rls_pg_policy_exists,
        "rls_pg_policy_dialect": q_rls_pg_policy_dialect,
        "wal2json_parse": q_wal2json_parse,
        "node_routing": q_node_routing,
        "session_stats": q_session_stats,
        "cdc_materialize": q_cdc_materialize,
        "cdc_materialize_truncate": q_cdc_materialize_truncate,
        "cdc_replica_identity": q_cdc_replica_identity,
        "funnel_stages": q_funnel_stages,
        "broadcast_fanout_self": q_broadcast_fanout_self,
        "funnel_counts": q_funnel_counts,
        "retention_cohorts": q_retention_cohorts,
        "db_broadcast_parse": q_db_broadcast_parse,
        "send_payload_id": q_send_payload_id,
        "send_binary": q_send_binary,
        "funnel_latency": q_funnel_latency,
        "traffic_accounting": q_traffic_accounting,
        "channel_limits": q_channel_limits,
        "cdc_snapshot_asof": q_cdc_snapshot_asof,
        "cdc_compact": q_cdc_compact,
        "cdc_gap_audit": q_cdc_gap_audit,
        "cdc_schema_drift": q_cdc_schema_drift,
        "subscription_upsert": q_subscription_upsert,
        "lsn_roundtrip": q_lsn_roundtrip,
        "uuid_format": q_uuid_format,
    }


def realtime_extra_oracles() -> dict[str, str]:
    return {
        "jwt_claims": ORACLE_JWT_CLAIMS,
        "policy_read_gate": ORACLE_POLICY_READ_GATE,
        "policy_write_gate": ORACLE_POLICY_WRITE_GATE,
        "batch_ingest_groups": ORACLE_BATCH_INGEST_GROUPS,
        "presence_diffs": ORACLE_PRESENCE_DIFFS,
        "presence_current_state": ORACLE_PRESENCE_CURRENT_STATE,
        "rls_row_filter": _oracle_rls(),
        "rls_exists_policy": _oracle_rls_exists(),
        "pgoutput_broadcast": ORACLE_PGOUTPUT_BROADCAST,
        "presence_policy_gate": ORACLE_PRESENCE_POLICY_GATE,
        "token_refresh_flow": _oracle_token_refresh(),
        "tenant_secret_roundtrip": ORACLE_TENANT_SECRET,
        "rls_claims_param": _oracle_rls_claims(),
        "rls_pg_policy": _oracle_rls_pg_policy(),
        "rls_pg_policy_exists": _oracle_rls_pg_policy_exists(),
        "rls_pg_policy_dialect": _oracle_rls_pg_policy_dialect(),
        "wal2json_parse": ORACLE_WAL2JSON_PARSE,
        "node_routing": _oracle_node_routing(),
        "session_stats": ORACLE_SESSION_STATS,
        "cdc_materialize": _oracle_materialize(),
        "cdc_materialize_truncate": _oracle_materialize_truncate(),
        "cdc_replica_identity": _oracle_replica_identity(),
        "funnel_stages": ORACLE_FUNNEL_STAGES,
        "broadcast_fanout_self": ORACLE_BROADCAST_FANOUT_SELF,
        "funnel_counts": ORACLE_FUNNEL_COUNTS,
        "retention_cohorts": ORACLE_RETENTION_COHORTS,
        "db_broadcast_parse": ORACLE_DB_BROADCAST_PARSE,
        "send_payload_id": ORACLE_SEND_PAYLOAD_ID,
        "send_binary": ORACLE_SEND_BINARY,
        "funnel_latency": ORACLE_FUNNEL_LATENCY,
        "traffic_accounting": ORACLE_TRAFFIC_ACCOUNTING,
        "channel_limits": ORACLE_CHANNEL_LIMITS,
        "cdc_snapshot_asof": _oracle_snapshot_asof(),
        "cdc_compact": _oracle_compact(),
        "cdc_gap_audit": _oracle_gap_audit(),
        "cdc_schema_drift": _oracle_schema_drift(),
        "subscription_upsert": ORACLE_SUBSCRIPTION_UPSERT,
        "lsn_roundtrip": ORACLE_LSN_ROUNDTRIP,
        "uuid_format": ORACLE_UUID_FORMAT,
    }


def q_rls_claims_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Claims-parameterized RLS (the SURVEY §7 hard part): the policy
    expression reads the SUBSCRIBER's session claims, not just the row —
    `record.o_custkey = claims['sub']` is row ownership exactly as a tenant
    policy `USING (user_id = current_setting('request.jwt.claims')::json->>'sub')`
    would express it (reference: set_config claims injection,
    migrations/20260626120000:524-530). Three subscribers with different
    `sub` claims each see ONLY their own customer's changes."""
    from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df
    from realtime_spark.operators.cdc import matched_pairs, subscriptions_df
    from realtime_spark.sources.testdata import changes_from_orders

    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(
        spark,
        [
            {"subscription_id": f"s-{c}", "table": "orders",
             "claims_role": "authenticated", "claims": {"sub": str(c)}}
            for c in (1, 7, 13)
        ],
    )
    pols = rls_policies_df(
        spark,
        [
            {
                "table": "orders",
                "claims_role": "authenticated",
                "policy_expr": "coalesce(element_at(c.record, 'o_custkey'), "
                "element_at(c.old_record, 'o_custkey')) = "
                "element_at(s.claims, 'sub')",
            }
        ],
    )
    pairs = matched_pairs(changes, subs)
    out = apply_rls_policies(pairs, pols).select("c", F.explode("subs").alias("s"))
    return out.select(
        F.col("c.change_id").alias("change_id"),
        F.col("s.subscription_id").alias("subscription_id"),
    )


def _oracle_rls_claims() -> str:
    from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE

    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 's-' || CAST(o_custkey AS VARCHAR) AS subscription_id
FROM _orders_changes WHERE o_custkey IN (1, 7, 13)
"""


# the tenant-authored policy in its NATIVE Postgres dialect — translated by
# functions/pg_policy.py, not hand-compiled (P7 fidelity: the reference runs
# this text as-is under role impersonation, migrations/20211116212300:36-68)
_PG_POLICY_TEXT = (
    "(select auth.uid()) = o_custkey::text "
    "OR (o_totalprice > 150000 AND o_orderstatus <> 'F')"
)


def q_rls_pg_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 via the pg-dialect translator: the policy is authored in Postgres
    SQL (auth.uid(), ::casts, the (select ...) initplan idiom) and
    machine-translated to the claims-parameterized Spark expression the
    compiled RLS plan evaluates. Two subscribers with different `sub`
    claims; each sees its own rows plus the price-gated public set."""
    from realtime_spark.functions.pg_policy import translate_pg_policy
    from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df
    from realtime_spark.operators.cdc import matched_pairs, subscriptions_df
    from realtime_spark.sources.testdata import changes_from_orders

    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(
        spark,
        [
            {"subscription_id": f"s-{c}", "table": "orders",
             "claims_role": "authenticated", "claims": {"sub": str(c)}}
            for c in (7, 13)
        ],
    )
    expr = translate_pg_policy(
        _PG_POLICY_TEXT,
        {"o_custkey": "int8", "o_totalprice": "numeric", "o_orderstatus": "text"},
    )
    pols = rls_policies_df(
        spark,
        [{"table": "orders", "claims_role": "authenticated", "policy_expr": expr}],
    )
    out = apply_rls_policies(matched_pairs(changes, subs), pols)
    out = out.select("c", F.explode("subs").alias("s"))
    return out.select(
        F.col("c.change_id").alias("change_id"),
        F.col("s.subscription_id").alias("subscription_id"),
    )


def _oracle_rls_pg_policy() -> str:
    from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE

    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()},
subs AS (SELECT * FROM (VALUES (7), (13)) AS t(sub))
SELECT c.change_id, 's-' || CAST(s.sub AS VARCHAR) AS subscription_id
FROM _orders_changes c CROSS JOIN subs s
WHERE CAST(c.o_custkey AS VARCHAR) = CAST(s.sub AS VARCHAR)
   OR (c.o_totalprice > 150000 AND c.o_orderstatus <> 'F')
"""


def q_rls_pg_policy_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/J5 via the translator's EXISTS decomposition: the pg policy's
    `EXISTS (SELECT 1 FROM customer ...)` probe compiles to the left-semi
    join plan (set-at-a-time), with the residual predicate pushed onto the
    lookup side before the join."""
    from realtime_spark.functions.pg_policy import compile_pg_policy
    from realtime_spark.operators.auth import apply_rls_exists_policy
    from realtime_spark.operators.cdc import matched_pairs, subscriptions_df
    from realtime_spark.sources.testdata import changes_from_orders, load_table

    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(
        spark, [{"subscription_id": "s-ex", "table": "orders",
                 "claims_role": "authenticated"}]
    )
    cp = compile_pg_policy(
        "EXISTS (SELECT 1 FROM customer cu WHERE cu.c_custkey = orders.o_custkey "
        "AND cu.c_mktsegment = 'BUILDING')",
        {"o_custkey": "int8"},
        lookup_cols={"customer": {"c_custkey": "int8", "c_mktsegment": "text"}},
    )
    lookup = load_table(spark, sf_dir, "customer")
    if cp.residual_sql:
        lookup = lookup.filter(F.expr(cp.residual_sql))
    out = apply_rls_exists_policy(
        matched_pairs(changes, subs), lookup, cp.keys,
        table_name="orders", claims_role="authenticated",
    )
    return out.select(
        F.col("c.change_id").alias("change_id"),
        F.col("s.subscription_id").alias("subscription_id"),
    )


def _oracle_rls_pg_policy_exists() -> str:
    from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE

    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT c.change_id, 's-ex' AS subscription_id
FROM _orders_changes c
WHERE EXISTS (
  SELECT 1 FROM customer cu
  WHERE cu.c_custkey = c.o_custkey AND cu.c_mktsegment = 'BUILDING'
)
"""


_PG_POLICY_DIALECT_TEXT = (
    # the dialect corners the translator bridges rather than passes through:
    # pg-quoted array literal (quotes strip, commas inside quotes don't
    # split), concat() NULL-skipping (o_nullable IS NULL on ~1/7 of rows —
    # a NULL-poisoning concat would drop every 'F' row whose nullable is
    # NULL), and ->> json extraction of a nested JWT claim
    """o_orderpriority = ANY('{"1-URGENT","2-HIGH"}') """
    "OR starts_with(concat(o_nullable, o_orderstatus), 'F') "
    "OR auth.jwt() -> 'app_metadata' ->> 'tier' = 'gold'"
)


def q_rls_pg_policy_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 dialect-bridging fidelity: quoted `= ANY('{..}')` array literals,
    pg concat() NULL-skipping, starts_with -> startswith renaming, and
    `auth.jwt() -> 'k' ->> 'k'` nested-claim json extraction, all in one
    policy evaluated by the compiled claims-parameterized RLS plan
    (reference: policies are arbitrary pg SQL run under set_config'd
    claims, migrations/20211116212300_create_realtime_subscription_table.ex)."""
    from realtime_spark.functions.pg_policy import translate_pg_policy
    from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df
    from realtime_spark.operators.cdc import matched_pairs, subscriptions_df
    from realtime_spark.sources.testdata import ORDERS_PG_TYPES, changes_from_orders

    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(
        spark,
        [
            {"subscription_id": f"s-{tier}", "table": "orders",
             "claims_role": "authenticated",
             "claims": {"app_metadata": '{"tier": "%s"}' % tier}}
            for tier in ("gold", "basic")
        ],
    )
    expr = translate_pg_policy(_PG_POLICY_DIALECT_TEXT, ORDERS_PG_TYPES)
    pols = rls_policies_df(
        spark,
        [{"table": "orders", "claims_role": "authenticated", "policy_expr": expr}],
    )
    out = apply_rls_policies(matched_pairs(changes, subs), pols)
    out = out.select("c", F.explode("subs").alias("s"))
    return out.select(
        F.col("c.change_id").alias("change_id"),
        F.col("s.subscription_id").alias("subscription_id"),
    )


def _oracle_rls_pg_policy_dialect() -> str:
    from realtime_spark.sources.testdata import ORDERS_CHANGES_SQL_CTE

    # DuckDB shares pg's concat() NULL-skipping and starts_with(), so the
    # oracle states the policy's intent directly in the pg idiom
    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()},
subs AS (SELECT * FROM (VALUES ('gold'), ('basic')) AS t(tier))
SELECT c.change_id, 's-' || s.tier AS subscription_id
FROM _orders_changes c CROSS JOIN subs s
WHERE c.o_orderpriority IN ('1-URGENT', '2-HIGH')
   OR starts_with(concat(c.o_nullable, c.o_orderstatus), 'F')
   OR s.tier = 'gold'
"""
