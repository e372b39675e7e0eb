"""Seeded inputs for the realtime serving benchmark, and the open-loop writer.

Everything here is pure Python and imports nothing from `realtime_spark`: the
same inputs feed the engine under test and the independent reference
(`reference.py`). The same seed gives byte-identical files; every random draw
is keyed by (seed, stream, file index), so a file never depends on timing.

Run as a script, this module is the open-loop generator process:

    python3 rtbench/gen.py --workload cdc_poll --seed 1 --src DIR --stage DIR \
        --t0 <monotonic seconds> --files 100 --log LOG.json

It writes file k at monotonic time t0 + k * 0.1 s into `--stage`, renames it
atomically into `--src`, and records when each file was due and when it
landed. The due time is the creation stamp of every event in the file; the
event bytes themselves carry no wall-clock time.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import time

PERIOD_S = 0.1  # one file every 100 ms: the reference's poll interval
CDC_PER_FILE = 20  # 200 changes/s
PRESENCE_PER_FILE = 10  # 100 presence events/s

SCHEMA = "public"
# (name, pg type, typeoid) per column in wire (attnum) order; `id` is the pk
TABLES: dict[str, list[tuple[str, str, int]]] = {
    "messages": [
        ("id", "int8", 20), ("room_id", "int4", 23), ("user_id", "text", 25),
        ("body", "text", 25), ("kind", "text", 25), ("edited_at", "timestamptz", 1184),
    ],
    "todos": [
        ("id", "int8", 20), ("user_id", "text", 25), ("title", "text", 25),
        ("priority", "int4", 23), ("done", "bool", 16),
    ],
    "profiles": [
        ("id", "int8", 20), ("user_id", "text", 25), ("username", "text", 25),
        ("status", "text", 25), ("score", "float8", 701),
    ],
}
TABLE_NAMES = tuple(TABLES)
TYPE_MAPS = {(SCHEMA, t): {c: ty for c, ty, _ in cols} for t, cols in TABLES.items()}

N_USERS = 200
N_ROOMS = 40
BACKLOG_SUBS = 1000  # cdc_backlog subscriptions: past COMPILE_MAX_SUBS, so the join path
_WORDS = ("hello", "urgent", "lunch", "deploy", "ship", "review", "ping", "call", "draft", "note")
_KINDS = ("text", "system", "image")
_STATUSES = ("online", "away", "busy")

# Role `authenticated` is row-filtered by ownership (Postgres policy
# `user_id = auth.uid()`); `anon` and `service_role` have no policy.
RLS_ROLE = "authenticated"
RLS_POLICY_EXPR = (
    "coalesce(element_at(c.record, 'user_id'), element_at(c.old_record, 'user_id'))"
    " = element_at(s.claims, 'sub')"
)
# column SELECT grants per (role, schema, table); the pk is always granted
PRIVILEGES: dict[tuple[str, str, str], list[str]] = {}
for _t, _cols in TABLES.items():
    _all = [c for c, _, _ in _cols]
    PRIVILEGES[("service_role", SCHEMA, _t)] = _all
    PRIVILEGES[(RLS_ROLE, SCHEMA, _t)] = _all
PRIVILEGES[("anon", SCHEMA, "messages")] = ["id", "room_id", "body", "kind", "edited_at"]
PRIVILEGES[("anon", SCHEMA, "todos")] = ["id", "title", "priority", "done"]
PRIVILEGES[("anon", SCHEMA, "profiles")] = ["id", "username", "status"]

# Commit timestamps are synthetic (base + 1 ms per change id), so they are
# unique and reproducible.
TS_BASE_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z


def _rng(seed: int, stream: str, index: int) -> random.Random:
    return random.Random(f"{seed}:{stream}:{index}")


def _zipf_pick(rng: random.Random, n: int, s: float = 1.1) -> int:
    """Index in [0, n) with P(i) ~ 1/(i+1)^s (skewed keys)."""
    weights = _ZIPF_CACHE.get((n, s))
    if weights is None:
        acc, total = [], 0.0
        for i in range(n):
            total += 1.0 / (i + 1) ** s
            acc.append(total)
        weights = _ZIPF_CACHE[(n, s)] = acc
    x = rng.random() * weights[-1]
    lo, hi = 0, n - 1
    while lo < hi:
        mid = (lo + hi) // 2
        if weights[mid] < x:
            lo = mid + 1
        else:
            hi = mid
    return lo


_ZIPF_CACHE: dict[tuple[int, float], list[float]] = {}


def user_name(i: int) -> str:
    return f"u{i:03d}"


def iso_ts(ms: int, sep: str = " ", zone: str = "+00:00") -> str:
    sec, milli = divmod(ms, 1000)
    t = time.gmtime(sec)
    return time.strftime(f"%Y-%m-%d{sep}%H:%M:%S", t) + f".{milli:03d}{zone}"


def _row(rng: random.Random, table: str, row_id: int) -> dict:
    user = user_name(_zipf_pick(rng, N_USERS))
    if table == "messages":
        body = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(1, 4)))
        edited = None if rng.random() < 0.7 else iso_ts(TS_BASE_MS - rng.randint(1, 10**8))
        return {"id": row_id, "room_id": 1 + _zipf_pick(rng, N_ROOMS), "user_id": user,
                "body": body, "kind": rng.choice(_KINDS), "edited_at": edited}
    if table == "todos":
        return {"id": row_id, "user_id": user, "title": rng.choice(_WORDS),
                "priority": rng.randint(1, 5), "done": rng.random() < 0.4}
    return {"id": row_id, "user_id": user,
            "username": "".join(rng.choice("abcdefgh") for _ in range(5)),
            "status": rng.choice(_STATUSES), "score": round(rng.random() * 100, 1)}


def _mutate(rng: random.Random, table: str, row: dict) -> dict:
    """An UPDATE's new tuple: same id and owner, one or two fields changed."""
    fresh = _row(rng, table, row["id"])
    new = dict(row)
    changeable = [c for c, _, _ in TABLES[table] if c not in ("id", "user_id")]
    for col in rng.sample(changeable, rng.randint(1, 2)):
        new[col] = fresh[col]
    return new


def _tuple(table: str, row: dict) -> list[dict]:
    return [
        {"name": c, "type": ty, "typeoid": oid, "value": row[c]}
        for c, ty, oid in TABLES[table]
    ]


def make_change(rng: random.Random, change_id: int) -> dict:
    """One wal2json v2 change. `id` (the pk) is unique per change, so
    (table, id) keys a change across micro-batches. Updates and deletes carry
    the full old row (REPLICA IDENTITY FULL)."""
    table = rng.choice(TABLE_NAMES)
    r = rng.random()
    action = "I" if r < 0.5 else ("U" if r < 0.85 else "D")
    row = _row(rng, table, change_id)
    out = {
        "action": action, "schema": SCHEMA, "table": table,
        "timestamp": iso_ts(TS_BASE_MS + change_id),
    }
    if action == "I":
        out["columns"] = _tuple(table, row)
    elif action == "U":
        out["columns"] = _tuple(table, _mutate(rng, table, row))
        out["identity"] = _tuple(table, row)
    else:
        out["identity"] = _tuple(table, row)
    out["pk"] = [{"name": "id", "type": "int8"}]
    return out


def cdc_file(seed: int, stream: str, index: int, n: int, first_id: int) -> bytes:
    """JSON lines of `n` changes with ids first_id .. first_id + n - 1."""
    rng = _rng(seed, stream, index)
    lines = [json.dumps(make_change(rng, first_id + j), separators=(",", ":"))
             for j in range(n)]
    return ("\n".join(lines) + "\n").encode()


# ---------------------------------------------------------------------------
# subscriptions (the `realtime.subscription` rows)
# ---------------------------------------------------------------------------


def _broad_subs(prefix: str) -> list[dict]:
    """One unfiltered all-actions service subscription per table, so every
    change has at least one delivery and therefore a measured latency."""
    return [
        {"subscription_id": f"{prefix}-svc-{t}", "schema": SCHEMA, "table": t,
         "claims_role": "service_role"}
        for t in TABLE_NAMES
    ]


def cdc_poll_subscriptions(seed: int) -> list[dict]:
    """32 subscriptions over 3 tables: eq, neq, gt, in, like, is.null and
    negated filters; two filtered roles (RLS on `authenticated`); explicit
    selected_columns on half of them."""
    rng = _rng(seed, "poll-subs", 0)
    templates = [
        ("messages", lambda: f"room_id=eq.{1 + _zipf_pick(rng, N_ROOMS)}"),
        ("messages", lambda: f"room_id=in.({','.join(str(rng.randint(1, N_ROOMS)) for _ in range(3))})"),
        ("messages", lambda: "body=like.%urgent%"),
        ("messages", lambda: "edited_at=is.null"),
        ("messages", lambda: "kind=not.eq.system"),
        ("todos", lambda: f"priority=gt.{rng.randint(1, 4)}"),
        ("todos", lambda: "done=eq.false"),
        ("todos", lambda: f"priority=not.in.({rng.randint(1, 5)},{rng.randint(1, 5)})"),
        ("profiles", lambda: f"status=neq.{rng.choice(_STATUSES)}"),
        ("profiles", lambda: f"score=gt.{rng.randint(10, 90)}.5"),
        ("profiles", lambda: "username=like.a%"),
        ("profiles", lambda: None),
    ]
    actions = ("*", "*", "INSERT", "UPDATE", "DELETE")
    subs = _broad_subs("poll")
    i = 0
    while len(subs) < 32:
        table, filt = templates[i % len(templates)]
        role = "anon" if i % 3 == 2 else RLS_ROLE
        spec = {
            "subscription_id": f"poll-{i:02d}", "schema": SCHEMA, "table": table,
            "filters": filt(), "action": actions[rng.randrange(len(actions))],
            "claims_role": role,
        }
        if role == RLS_ROLE:
            spec["claims"] = {"sub": user_name(_zipf_pick(rng, 20))}
        if i % 2 == 0:
            cols = [c for c, _, _ in TABLES[table] if c != "id"]
            spec["selected_columns"] = sorted(rng.sample(cols, 2))
        subs.append(spec)
        i += 1
    return subs


def cdc_backlog_subscriptions(seed: int) -> list[dict]:
    """About 70% per-user `user_id=eq.<u>` under RLS, 20% sharing about 40
    room signatures, 10% broad (no filter, action-only, `in`, `gt`)."""
    rng = _rng(seed, "backlog-subs", 0)
    subs = _broad_subs("bk")
    n_user = int(BACKLOG_SUBS * 0.7)
    n_room = int(BACKLOG_SUBS * 0.2)
    for i in range(n_user):
        u = user_name(_zipf_pick(rng, N_USERS))
        # one in five watches another user's rows, which RLS then hides
        watched = u if rng.random() < 0.8 else user_name(_zipf_pick(rng, N_USERS))
        subs.append({
            "subscription_id": f"bk-user-{i:04d}", "schema": SCHEMA,
            "table": rng.choice(TABLE_NAMES), "filters": f"user_id=eq.{watched}",
            "claims_role": RLS_ROLE, "claims": {"sub": u},
            "selected_columns": sorted(rng.sample(["user_id", "title", "body", "status"], 1))
            if rng.random() < 0.3 else None,
        })
    room_sigs = [(1 + j, rng.choice(("*", "INSERT"))) for j in range(N_ROOMS)]
    for i in range(n_room):
        room, action = room_sigs[_zipf_pick(rng, len(room_sigs))]
        subs.append({
            "subscription_id": f"bk-room-{i:04d}", "schema": SCHEMA, "table": "messages",
            "filters": f"room_id=eq.{room}", "action": action, "claims_role": "anon",
        })
    broad = [
        lambda t: {"action": rng.choice(("INSERT", "UPDATE", "DELETE"))},
        lambda t: {"filters": "priority=in.(4,5)"} if t == "todos"
        else {"filters": "status=in.(online,busy)"} if t == "profiles"
        else {"filters": "kind=in.(text,image)"},
        lambda t: {"filters": "priority=gt.3"} if t == "todos"
        else {"filters": "score=gt.75.5"} if t == "profiles"
        else {"filters": "room_id=gt.30"},
    ]
    i = 0
    while len(subs) < BACKLOG_SUBS:
        t = rng.choice(TABLE_NAMES)
        spec = {"subscription_id": f"bk-broad-{i:04d}", "schema": SCHEMA, "table": t,
                "claims_role": rng.choice(("anon", "service_role"))}
        spec.update(broad[i % len(broad)](t))
        subs.append(spec)
        i += 1
    return subs


# ---------------------------------------------------------------------------
# presence
# ---------------------------------------------------------------------------

N_TOPICS = 200
KEYS_PER_TOPIC = 100
SOCKETS_PER_TOPIC = 5
TENANT = "t1"


def topic_name(t: int) -> str:
    return f"room:{t:03d}"


def presence_key(k: int) -> str:
    return f"user:{k:03d}"


def presence_sockets(seed: int) -> list[dict]:
    """5 sockets per topic with a tri-state `presence_read` (True / False /
    None = not yet authorized) and a serializer each."""
    rng = _rng(seed, "sockets", 0)
    out = []
    for t in range(N_TOPICS):
        for j in range(SOCKETS_PER_TOPIC):
            r = rng.random()
            out.append({
                "socket_id": f"sock-{t:03d}-{j}", "tenant_id": TENANT,
                "join_topic": topic_name(t), "serializer": rng.choice(("v1", "v2")),
                "presence_read": True if r < 0.6 else (False if r < 0.8 else None),
                "broadcast_read": True, "replayed_ids": [],
            })
    return out


class PresenceScript:
    """The presence clients: each event is a track of an absent key, an
    update (track with new meta) or an untrack of a present key. The script
    keeps its own view of who is present only to pick realistic actions;
    the reference recomputes diffs from the events alone."""

    def __init__(self, seed: int):
        self.seed = seed
        self.present: dict[tuple[int, int], str] = {}

    def _event(self, rng: random.Random, seq: int, t: int, k: int, action: str) -> dict:
        meta = None
        if action == "track":
            meta = json.dumps({"status": rng.choice(_STATUSES), "v": rng.randint(0, 99)},
                              separators=(",", ":"))
            if self.present.get((t, k)) == meta:  # an update changes the meta
                meta = meta[:-1] + ',"x":1}'
            self.present[(t, k)] = meta
        else:
            self.present.pop((t, k), None)
        return {"topic": topic_name(t), "presence_key": presence_key(k), "action": action,
                "meta": meta, "ts": iso_ts(TS_BASE_MS + seq, sep="T", zone="Z")}

    def initial(self, n: int, first_seq: int) -> bytes:
        """Warm-up joins: `n` distinct keys tracked once."""
        rng = _rng(self.seed, "warm", 0)
        keys = rng.sample(range(N_TOPICS * KEYS_PER_TOPIC), n)
        lines = [json.dumps(self._event(rng, first_seq + j, key // KEYS_PER_TOPIC,
                                        key % KEYS_PER_TOPIC, "track"), separators=(",", ":"))
                 for j, key in enumerate(keys)]
        return ("\n".join(lines) + "\n").encode()

    def file(self, stream: str, index: int, n: int, first_seq: int) -> bytes:
        rng = _rng(self.seed, stream, index)
        lines = []
        for j in range(n):
            t = _zipf_pick(rng, N_TOPICS, 0.8)
            k = rng.randrange(KEYS_PER_TOPIC)
            if (t, k) not in self.present:
                action = "track"
            else:
                action = "track" if rng.random() < 0.5 else "untrack"
            lines.append(json.dumps(self._event(rng, first_seq + j, t, k, action),
                                    separators=(",", ":")))
        return ("\n".join(lines) + "\n").encode()


# ---------------------------------------------------------------------------
# the open-loop writer
# ---------------------------------------------------------------------------


def write_atomic(data: bytes, stage_dir: str, src_dir: str, name: str) -> None:
    tmp = os.path.join(stage_dir, name)
    with open(tmp, "wb") as f:
        f.write(data)
    os.rename(tmp, os.path.join(src_dir, name))


def file_name(index: int) -> str:
    return f"f{index:06d}.json"


class InputStream:
    """The measured file sequence of one open-loop workload: file k holds
    the events with ids k * per_file + j. A presence stream starts from the
    warm-up's `presence_state`."""

    def __init__(self, workload: str, seed: int, presence_state: dict | None = None):
        self.workload = workload
        self.seed = seed
        self.per_file = CDC_PER_FILE if workload == "cdc_poll" else PRESENCE_PER_FILE
        if workload == "presence_churn":
            self.script = PresenceScript(seed)
            self.script.present = dict(presence_state or {})

    def file(self, index: int) -> bytes:
        first = index * self.per_file
        if self.workload == "cdc_poll":
            return cdc_file(self.seed, "run", index, self.per_file, first)
        return self.script.file("run", index, self.per_file, first)


def presence_warm_state(seed: int, n: int, first_seq: int) -> tuple[bytes, dict]:
    """The warm-up file (`n` keys tracked) and the presence it leaves."""
    script = PresenceScript(seed)
    data = script.initial(n, first_seq)
    return data, script.present


def run_writer(args: argparse.Namespace) -> None:
    state = None
    if args.workload == "presence_churn":
        _, state = presence_warm_state(args.seed, args.warm_keys, args.warm_first_id)
    stream = InputStream(args.workload, args.seed, state)
    # build every file before the clock starts: the schedule then only waits
    # and renames, so generating inputs never makes the writer late
    payloads = [stream.file(k) for k in range(args.files)]
    log = []
    for k, data in enumerate(payloads):
        due = args.t0 + k * PERIOD_S
        delay = due - time.monotonic()
        if delay > 0:
            time.sleep(delay)
        write_atomic(data, args.stage, args.src, file_name(k))
        log.append({"file": k, "due": due, "written": time.monotonic()})
    tmp = args.log + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.rename(tmp, args.log)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("cdc_poll", "presence_churn"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--src", required=True)
    ap.add_argument("--stage", required=True)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--warm-keys", type=int, default=0)
    ap.add_argument("--warm-first-id", type=int, default=0)
    ap.add_argument("--log", required=True)
    run_writer(ap.parse_args())


if __name__ == "__main__":
    main()
