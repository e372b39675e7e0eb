"""Channel-join payload validation: the reference's own case tables
(test/realtime_web/channels/payloads/join_test.exs and
flexible_boolean_test.exs) ported 1:1, plus the bridge from a validated
join to the engine's subscription path (specs -> subscriptions_df ->
matched_pairs)."""

from __future__ import annotations

import pytest

from realtime_spark.functions.join_payload import (
    Broadcast,
    Config,
    Join,
    Presence,
    PostgresChange,
    Replay,
    _flexible_bool,
    ack_broadcast,
    error_message,
    presence_enabled,
    presence_key,
    private,
    self_broadcast,
    subscription_specs,
    validate_join,
)

MAP_ERR = ["unable to parse, expected a map"]
BOOL_ERR = ["unable to parse, expected boolean"]


# -- flexible_boolean_test.exs ------------------------------------------------


@pytest.mark.parametrize("v,want", [
    (True, True), (False, False),
    ("true", True), ("True", True), ("TRUE", True), ("tRuE", True),
    ("false", False), ("False", False), ("FALSE", False), ("fAlSe", False),
])
def test_flexible_boolean_casts(v, want):
    assert _flexible_bool(v) is want


@pytest.mark.parametrize(
    "v", ["test", "yes", "no", "1", "0", "", 1, 0, None, {}, []]
)
def test_flexible_boolean_rejects(v):
    assert _flexible_bool(v) is None


# -- join_test.exs ------------------------------------------------------------


def test_valid_payload_allows_join():
    params = {
        "config": {
            "private": False,
            "broadcast": {"ack": False, "self": False,
                          "replay": {"since": 1, "limit": 10}},
            "presence": {"enabled": True, "key": "k1"},
            "postgres_changes": [
                {"event": "INSERT", "schema": "public", "table": "users",
                 "filter": "id=eq.1"},
                {"event": "DELETE", "schema": "public", "table": "users",
                 "filter": "id=eq.2"},
                {"event": "UPDATE", "schema": "public", "table": "users",
                 "filter": "id=eq.3"},
            ],
        },
        "access_token": "tok",
    }
    join, errors = validate_join(params)
    assert errors is None
    assert join.access_token == "tok"
    assert join.config.private is False
    assert join.config.broadcast == Broadcast(
        ack=False, self=False, replay=Replay(since=1, limit=10)
    )
    assert join.config.presence == Presence(enabled=True, key="k1")
    assert join.config.postgres_changes == [
        PostgresChange("INSERT", "public", "users", "id=eq.1"),
        PostgresChange("DELETE", "public", "users", "id=eq.2"),
        PostgresChange("UPDATE", "public", "users", "id=eq.3"),
    ]


def test_presence_key_default_is_nonempty_string():
    join, errors = validate_join({"config": {"presence": {"enabled": True}}})
    assert errors is None
    key = presence_key(join)
    assert isinstance(key, str) and key != ""


def test_presence_key_can_be_number():
    join, errors = validate_join(
        {"config": {"presence": {"enabled": True, "key": 123}}}
    )
    assert errors is None
    assert join.config.presence.key == 123


def test_invalid_replay():
    join, errors = validate_join({"config": {"broadcast": {"replay": 123}}})
    assert join is None
    assert errors == {"config": {"broadcast": {"replay": MAP_ERR}}}


@pytest.mark.parametrize(
    "bad",
    # '5\n': `$` matches before a trailing newline, so an anchored ^...$
    # regex admits it while Integer.parse/1 must consume the whole binary
    # (r6 ADVICE, low — fullmatch regression)
    [10.0, 1.5, "1_0", " 10 ", "١٠", "0x10", "", True, "5\n", "5\r\n"],
)
def test_replay_int_cast_is_ecto_strict(bad):
    # Ecto's :integer cast rejects floats and anything but exact base-10
    # integer strings; Python int() alone would admit several of these
    # (regression for the r5 ADVICE finding on _cast_int)
    join, errors = validate_join(
        {"config": {"broadcast": {"replay": {"since": 1, "limit": bad}}}}
    )
    assert join is None
    assert "limit" in errors["config"]["broadcast"]["replay"]


@pytest.mark.parametrize("ok,want", [("10", 10), ("-5", -5), ("+7", 7), (3, 3)])
def test_replay_int_cast_accepts_exact_integers(ok, want):
    join, errors = validate_join(
        {"config": {"broadcast": {"replay": {"since": 1, "limit": ok}}}}
    )
    assert errors is None
    assert join.config.broadcast.replay.limit == want


def test_missing_enabled_presence_defaults_to_false():
    join, errors = validate_join({"config": {"presence": {}}})
    assert errors is None
    assert join.config.presence.enabled is False


def test_invalid_payload_returns_errors():
    join, errors = validate_join({"config": ["test"]})
    assert join is None
    assert errors == {"config": MAP_ERR}


def test_invalid_nested_configurations_returns_errors():
    join, errors = validate_join(
        {
            "config": {
                "broadcast": {"ack": "test"},
                "presence": {"enabled": "test"},
                "postgres_changes": {"event": "test"},
            },
            "access_token": True,
            "user_token": True,
        }
    )
    assert join is None
    assert errors == {
        "config": {
            "broadcast": {"ack": BOOL_ERR},
            "presence": {"enabled": BOOL_ERR},
            "postgres_changes": ["unable to parse, expected an array of maps"],
        },
        "access_token": ["unable to parse, expected string"],
        "user_token": ["unable to parse, expected string"],
    }


def test_postgres_changes_nil_entry_becomes_empty():
    join, errors = validate_join({"config": {"postgres_changes": [None]}})
    assert errors is None and join.config.postgres_changes == []


def test_postgres_changes_nil_becomes_empty():
    join, errors = validate_join({"config": {"postgres_changes": None}})
    assert errors is None and join.config.postgres_changes == []


@pytest.mark.parametrize("s,want", [("true", True), ("True", True),
                                    ("false", False), ("False", False)])
def test_boolean_strings_accepted_everywhere(s, want):
    join, errors = validate_join(
        {
            "config": {
                "private": s,
                "broadcast": {"ack": s, "self": s},
                "presence": {"enabled": s},
            }
        }
    )
    assert errors is None
    assert join.config.private is want
    assert join.config.broadcast.ack is want
    assert join.config.broadcast.self is want
    assert join.config.presence.enabled is want


def test_rejects_invalid_boolean_strings():
    join, errors = validate_join(
        {
            "config": {
                "private": "yes",
                "broadcast": {"ack": "a", "self": "b"},
                "presence": {"enabled": "no"},
            }
        }
    )
    assert join is None
    assert errors == {
        "config": {
            "private": BOOL_ERR,
            "broadcast": {"ack": BOOL_ERR, "self": BOOL_ERR},
            "presence": {"enabled": BOOL_ERR},
        }
    }


def test_accessors_and_defaults():
    assert presence_enabled(Join(config=Config(presence=Presence(enabled=True))))
    assert not presence_enabled(Join(config=None))
    assert not presence_enabled(None)
    assert presence_key(Join(config=Config(presence=Presence(key="my_key")))) == "my_key"
    k = presence_key(Join(config=Config(presence=Presence(key=""))))
    assert isinstance(k, str) and k != ""
    k = presence_key(Join(config=None))
    assert isinstance(k, str) and k != ""
    assert ack_broadcast(Join(config=Config(broadcast=Broadcast(ack=True))))
    assert not ack_broadcast(Join(config=None))
    assert self_broadcast(Join(config=Config(broadcast=Broadcast(self=True))))
    assert not self_broadcast(Join(config=None))
    assert private(Join(config=Config(private=True)))
    assert not private(Join(config=None))


def test_error_message():
    assert error_message("string") == "unable to parse, expected string"
    assert error_message() == "unable to parse"


# -- bridge: validated join -> the engine's subscription path -----------------


def test_join_drives_subscription_match(spark):
    from pyspark.sql import functions as F

    from realtime_spark.operators.cdc import matched_pairs, subscriptions_df
    from realtime_spark.sources.testdata import (
        ORDERS_PG_TYPES,
        changes_from_orders,
    )

    join, errors = validate_join(
        {
            "config": {
                "private": "true",
                "postgres_changes": [
                    {"event": "INSERT", "schema": "public", "table": "orders",
                     "filter": "o_orderstatus=eq.F"},
                    {"event": "*", "schema": "public", "table": "orders",
                     "filter": "o_totalprice=gt.200000"},
                ],
            }
        }
    )
    assert errors is None
    specs = subscription_specs(join, "j")
    assert specs == [
        {"subscription_id": "j-0", "schema": "public", "table": "orders",
         "action": "INSERT", "filters": "o_orderstatus=eq.F"},
        {"subscription_id": "j-1", "schema": "public", "table": "orders",
         "filters": "o_totalprice=gt.200000"},
    ]
    changes = changes_from_orders(spark, "/root/testdata/sf0.001")
    subs = subscriptions_df(
        spark, specs, type_maps={("public", "orders"): ORDERS_PG_TYPES}
    )
    got = (
        matched_pairs(changes, subs)
        .select("c", F.explode("subs").alias("s"))
        .groupBy(F.col("s.subscription_id").alias("sid"))
        .count()
        .collect()
    )
    counts = {r["sid"]: r["count"] for r in got}
    want0 = changes.filter(
        (F.col("action") == "INSERT")
        & (F.element_at("record", "o_orderstatus") == "F")
    ).count()
    want1 = changes.filter(
        F.coalesce(
            F.element_at("record", "o_totalprice"),
            F.element_at("old_record", "o_totalprice"),
        ).cast("double")
        > 200000
    ).count()
    assert counts == {"j-0": want0, "j-1": want1}
