"""Tests of the benchmark's own parts (no Spark needed):

    python3 -m pytest rtbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import reference as ref  # noqa: E402
from tracing import quantile, self_times  # noqa: E402


# ---------------------------------------------------------------------------
# generator determinism
# ---------------------------------------------------------------------------


def test_cdc_files_are_byte_identical_per_seed():
    a = [gen.cdc_file(7, "run", k, 20, k * 20) for k in range(5)]
    b = [gen.cdc_file(7, "run", k, 20, k * 20) for k in range(5)]
    assert a == b
    assert a != [gen.cdc_file(8, "run", k, 20, k * 20) for k in range(5)]


def test_cdc_file_depends_only_on_its_index():
    alone = gen.cdc_file(3, "run", 4, 20, 80)
    gen.cdc_file(3, "run", 0, 20, 0)
    assert gen.cdc_file(3, "run", 4, 20, 80) == alone


def test_presence_stream_is_byte_identical_per_seed():
    def files(seed):
        _, state = gen.presence_warm_state(seed, 50, 10**6)
        s = gen.InputStream("presence_churn", seed, state)
        return [s.file(k) for k in range(20)]

    assert files(5) == files(5)
    assert files(5) != files(6)


def test_subscriptions_are_deterministic_and_sized():
    assert gen.cdc_poll_subscriptions(1) == gen.cdc_poll_subscriptions(1)
    assert len(gen.cdc_poll_subscriptions(1)) == 32
    subs = gen.cdc_backlog_subscriptions(1)
    assert len(subs) == 1000
    per_user = [s for s in subs if s["subscription_id"].startswith("bk-user-")]
    rooms = {s["filters"] for s in subs if s["subscription_id"].startswith("bk-room-")}
    assert len(per_user) == 700 and all(s["claims_role"] == gen.RLS_ROLE for s in per_user)
    assert len(rooms) <= 40


def test_presence_events_are_all_effective():
    """Every generated event changes presence state, so each has one diff."""
    data, state = gen.presence_warm_state(2, 100, 10**6)
    warm = [json.loads(x) for x in data.decode().splitlines()]
    assert len(warm) == 100
    s = gen.InputStream("presence_churn", 2, state)
    events = [json.loads(x) for k in range(30) for x in s.file(k).decode().splitlines()]
    ref_state: dict = {}
    ref.presence_diffs(warm, ref_state)
    assert len(ref.presence_diffs(events, ref_state)) == len(events)


def test_writer_process_writes_the_same_bytes(tmp_path):
    src, stage = tmp_path / "src", tmp_path / "stage"
    src.mkdir()
    stage.mkdir()
    log = tmp_path / "log.json"
    t0 = time.monotonic() + 0.05
    subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
         "--workload", "cdc_poll", "--seed", "9", "--src", str(src), "--stage", str(stage),
         "--t0", repr(t0), "--files", "3", "--log", str(log)],
        check=True, timeout=60,
    )
    stream = gen.InputStream("cdc_poll", 9)
    for k in range(3):
        assert (src / gen.file_name(k)).read_bytes() == stream.file(k)
    entries = json.loads(log.read_text())
    assert [e["file"] for e in entries] == [0, 1, 2]
    assert all(e["written"] >= e["due"] for e in entries)
    assert entries[1]["due"] - entries[0]["due"] == pytest.approx(gen.PERIOD_S)
    assert os.listdir(stage) == []


# ---------------------------------------------------------------------------
# reference cases on tiny hand-checked inputs
# ---------------------------------------------------------------------------

TYPES = {("public", "t"): {"id": "int8", "n": "int4", "s": "text", "b": "bool", "x": "float8",
                           "user_id": "text"}}


def _change(action, record=None, old=None):
    cols = lambda row: [{"name": k, "type": TYPES[("public", "t")][k], "typeoid": 0,  # noqa: E731
                         "value": v} for k, v in row.items()]
    w = {"action": action, "schema": "public", "table": "t",
         "timestamp": "2026-01-01 00:00:00.005+00:00", "pk": [{"name": "id", "type": "int8"}]}
    if record is not None:
        w["columns"] = cols(record)
    if old is not None:
        w["identity"] = cols(old)
    return ref.decode_change(json.dumps(w))


@pytest.mark.parametrize("filt,row,want", [
    ("n=eq.5", {"n": "5"}, True),
    ("n=eq.5", {"n": "05"}, True),       # typed: int 05 == 5
    ("s=eq.05", {"s": "5"}, False),      # text compares as text
    ("n=gt.10", {"n": "9"}, False),
    ("n=gt.10", {"n": "11"}, True),
    ("n=gt.10", {"n": "9x"}, False),     # cast failure fails closed
    ("n=neq.1", {"n": None}, False),     # NULL fails closed
    ("n=not.eq.1", {"n": None}, False),  # negated NULL stays closed
    ("n=not.eq.1", {"n": "2"}, True),
    ("n=in.(1,2,3)", {"n": "2"}, True),
    ("n=not.in.(1,2)", {"n": "3"}, True),
    ("n=not.in.(1,2)", {"n": "1"}, False),
    ("s=like.a%", {"s": "abc"}, True),
    ("s=like.a_c", {"s": "abbc"}, False),
    ("s=like.%b%", {"s": "abc"}, True),
    ("s=is.null", {"s": None}, True),
    ("s=is.null", {"s": "x"}, False),
    ("s=eq.x", {"n": "1"}, False),       # missing column fails closed
    ("b=eq.false", {"b": "false"}, True),
    ("x=gt.50.5", {"x": "50.6"}, True),
    ("x=gt.50.5", {"x": "50.5"}, False),
])
def test_filter_passes(filt, row, want):
    assert ref.filter_passes(ref.parse_filter(filt), row, TYPES[("public", "t")]) is want


def test_wire_text_spells_json_scalars():
    assert [ref.wire_text(v) for v in (None, True, False, 7, 50.5, "a")] == \
        [None, "true", "false", "7", "50.5", "a"]


def _cdc_ref(subs, privileges=None, policies=None):
    privileges = privileges or {
        ("authenticated", "public", "t"): ["id", "n", "s", "b", "user_id"],
        ("anon", "public", "t"): ["id", "s"],
    }
    policies = policies if policies is not None else {("public", "t", "authenticated"): "owner"}
    return ref.CdcReference(subs, TYPES, policies, privileges)


def test_delete_filters_on_old_record_and_ships_pk_only_under_rls():
    r = _cdc_ref([{"subscription_id": "a", "table": "t", "filters": "n=eq.1",
                   "claims_role": "anon"}])
    ch = _change("D", old={"id": 9, "n": 1, "s": "x"})
    out = r.expected(ch)
    assert list(out) == [("t", "9", "anon", "null")]
    row = out[("t", "9", "anon", "null")]
    assert row["record"] is None and row["old_record"] == {"id": "9"}
    assert row["type"] == "DELETE" and row["commit_timestamp"] == "2026-01-01T00:00:00.005Z"
    assert row["columns"] == [{"name": "id", "type": "int8"}, {"name": "s", "type": "text"}]
    assert r.expected(_change("D", old={"id": 9, "n": 2, "s": "x"})) == {}


def test_rls_owner_policy_uses_claims_sub():
    subs = [{"subscription_id": f"u{u}", "table": "t", "claims_role": "authenticated",
             "claims": {"sub": u}} for u in ("alice", "bob")]
    r = _cdc_ref(subs)
    ins = _change("I", record={"id": 1, "user_id": "bob", "n": 3})
    dele = _change("D", old={"id": 2, "user_id": "alice", "n": 3})
    assert [v["subscription_ids"] for v in r.expected(ins).values()] == [["ubob"]]
    assert [v["subscription_ids"] for v in r.expected(dele).values()] == [["ualice"]]


def test_groups_by_role_and_selection_with_privileges():
    subs = [
        {"subscription_id": "s2", "table": "t", "claims_role": "anon"},
        {"subscription_id": "s1", "table": "t", "claims_role": "anon"},
        {"subscription_id": "s3", "table": "t", "claims_role": "anon", "selected_columns": ["n"]},
        {"subscription_id": "s4", "table": "t", "claims_role": "anon", "action": "DELETE"},
        {"subscription_id": "s5", "table": "t", "claims_role": "anon",
         "filters": "s=not.like.x%"},
    ]
    r = _cdc_ref(subs)
    ch = _change("U", record={"id": 4, "n": 2, "s": "xy"}, old={"id": 4, "n": 1, "s": "xx"})
    out = r.expected(ch)
    assert set(out) == {("t", "4", "anon", "null"), ("t", "4", "anon", '["n"]')}
    everything = out[("t", "4", "anon", "null")]
    assert everything["subscription_ids"] == ["s1", "s2"]
    # anon is granted id and s only
    assert everything["record"] == {"id": "4", "s": "xy"}
    assert everything["old_record"] == {"id": "4", "s": "xx"}
    # selected n (not granted) + pk -> only the pk survives
    assert out[("t", "4", "anon", '["n"]')]["record"] == {"id": "4"}


def test_output_key_reads_pk_from_either_record():
    row = {"table_name": "t", "claims_role": "anon", "selected_columns": None,
           "old_record": {"id": "3"}}
    assert ref.cdc_output_key(row) == ("t", "3", "anon", "null")


def test_presence_diffs_sequential_per_key():
    ev = lambda a, k, m, ms: {"topic": "r", "presence_key": k, "action": a, "meta": m,  # noqa: E731
                              "ts": gen.iso_ts(ms, sep="T", zone="Z")}
    events = [ev("track", "a", "m1", 3), ev("track", "a", "m1", 4), ev("track", "a", "m2", 5),
              ev("untrack", "b", None, 6), ev("untrack", "a", None, 7), ev("track", "a", "m3", 1)]
    kinds = [(d["kind"], d["meta"], d["ts_ms"]) for d in ref.presence_diffs(events)]
    assert kinds == [("join", "m3", 1), ("update", "m1", 3), ("update", "m2", 5),
                     ("leave", "m2", 7)]


def test_presence_gate_counts_per_socket():
    socks = [
        {"tenant_id": "t", "join_topic": "r", "presence_read": True, "serializer": "v1"},
        {"tenant_id": "t", "join_topic": "r", "presence_read": True, "serializer": "v1"},
        {"tenant_id": "t", "join_topic": "r", "presence_read": True, "serializer": "v2"},
        {"tenant_id": "t", "join_topic": "r", "presence_read": False, "serializer": "v2"},
        {"tenant_id": "t", "join_topic": "r", "presence_read": None, "serializer": "v1"},
        {"tenant_id": "t", "join_topic": "other", "presence_read": True, "serializer": "v1"},
    ]
    got = ref.PresenceReference(socks).summary({"topic": "r"}, "t")
    assert got == {"n_delivered": 3, "n_withheld": 1, "n_deferred": 1, "n_replayed": 0,
                   "n_encode_failed": 0, "n_encodes": 2}


def test_ts_millis_round_trips_the_generator_stamp():
    ms = 1_767_225_600_000 + 123_456
    assert ref.ts_millis(gen.iso_ts(ms, sep="T", zone="Z")) == ms


# ---------------------------------------------------------------------------
# span arithmetic
# ---------------------------------------------------------------------------


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": str(i),
            "batch": 0, "counts": {}}


def test_self_time_subtracts_covered_child_intervals():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 2.0, 5.0),
             _span(3, 0, 7.0, 8.0), _span(4, 2, 2.5, 3.5)]
    st = self_times(spans)
    # children of 0 cover [1,5] and [7,8] -> 5 s of 10
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


def test_self_time_clips_children_to_parent():
    spans = [_span(0, None, 0.0, 2.0), _span(1, 0, 1.5, 4.0)]
    assert self_times(spans)[0] == pytest.approx(1.5)


def test_nearest_rank_quantile():
    v = list(range(1, 101))
    assert quantile(v, 0.5) == 50
    assert quantile(v, 0.99) == 99
    assert quantile([3.0], 0.99) == 3.0


# ---------------------------------------------------------------------------
# error accounting
# ---------------------------------------------------------------------------


def test_check_counts_missing_extra_wrong_and_duplicate_outputs():
    from workloads import Check

    c = Check()
    for eid in range(5):
        c.expect(eid, {("k", eid): eid})
    c.deliver(0, ("k", 0), 0, at=1.0, traced=False)            # right
    c.deliver(1, ("k", 1), 99, at=1.0, traced=False)           # wrong value
    c.deliver(2, ("k", 2), 2, at=1.0, traced=False)
    c.deliver(2, ("k", 2), 2, at=2.0, traced=False)            # duplicate
    c.deliver(3, ("k", 3), 3, at=1.5, traced=True)
    c.deliver(3, ("other", 3), 3, at=1.5, traced=True)         # extra row
    c.deliver(None, ("k", None), 7, at=1.0, traced=False)      # unattributable
    c.finish()                                                 # event 4 missing
    assert c.attempted == 5
    assert c.failed_ids == {1, 2, 3, 4}
    assert c.failed == 5
    lat = c.latencies(lambda eid: 0.5, end=10.0)
    assert sorted(lat) == [0.5, 9.5, 9.5, 9.5, 9.5]
    assert c.latencies(lambda eid: 0.5, end=10.0, traced=True) == [9.5]


def test_metric_tables_match_benchmark_json():
    import importlib.util

    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(os.path.dirname(here), "BENCHMARK.json")
    if not os.path.exists(path):
        pytest.skip("BENCHMARK.json not present")
    with open(path) as f:
        bench = json.load(f)
    spec = importlib.util.spec_from_file_location("rtbench_run", os.path.join(here, "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["cdc_poll", "presence_churn"]
