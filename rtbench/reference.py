"""Independent reference for the realtime serving benchmark.

Pure Python over the generated inputs; it imports nothing from
`realtime_spark`. It restates the reference system's rules
(supabase/realtime `apply_rls` and the channel message dispatcher, as
summarized in SURVEY.md) on one change or event at a time:

CDC, per (change, subscription):
  - entity and action filter match;
  - every filter passes, compared under the column's pg type, against the new
    row (the old row for DELETE); a missing column or a NULL comparison
    fails closed, and `not.` keeps NULL closed;
  - the role's RLS policy, if it has one, holds on the row (new row, else
    old row) with the subscriber's claims;
  - output rows are grouped per (change, role, selected_columns) with the
    sorted subscription ids; the record keeps selected + pk columns and only
    the role's granted columns; a DELETE under RLS ships the pk alone.

Presence: diffs are replayed per key in event-time order, then each diff's
gate decision is taken per socket of its topic.

Changes are keyed by (table, id) because the engine's `change_id` is scoped
to one micro-batch.
"""

from __future__ import annotations

import calendar
import json
import re
from collections import defaultdict

_TYPE_FAMILY = {
    "int2": "int", "int4": "int", "int8": "int",
    "float4": "float", "float8": "float",
    "bool": "bool",
}


def wire_text(v) -> str | None:
    """A wal2json value as the text the edge carries (numbers and booleans
    in their JSON spelling)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _typed(text: str | None, family: str):
    """Cast text to its comparison family; None when NULL or not castable."""
    if text is None:
        return None
    try:
        if family == "int":
            return int(text)
        if family == "float":
            return float(text)
        if family == "bool":
            return {"true": True, "false": False, "t": True, "f": False}.get(text.lower())
    except ValueError:
        return None
    return text


def parse_filter(s: str) -> dict:
    """`col=[not.]op.value` (one filter; the generated subscriptions use no
    conjunctions)."""
    col, rest = s.split("=", 1)
    negate = rest.startswith("not.")
    if negate:
        rest = rest[4:]
    op, value = rest.split(".", 1)
    values = None
    if op == "in":
        values = [v.strip() for v in value.strip("()").split(",")]
    return {"column": col, "op": op, "value": value, "values": values, "negate": negate}


def _like(text: str, pattern: str) -> bool:
    rx = "".join(".*" if ch == "%" else "." if ch == "_" else re.escape(ch) for ch in pattern)
    return re.fullmatch(rx, text, re.S) is not None


def filter_passes(f: dict, row: dict | None, types: dict[str, str]) -> bool:
    """Three-valued filter evaluation; only a TRUE result passes."""
    if row is None or f["column"] not in row:
        return False
    text = row[f["column"]]
    family = _TYPE_FAMILY.get(types.get(f["column"], "text"), "text")
    op = f["op"]
    if op == "is":
        res = text is None if f["value"] in ("null", "unknown") else (
            _typed(text, "bool") is (f["value"] == "true"))
    elif text is None:
        res = None
    elif op == "like":
        res = _like(text, f["value"])
    elif op == "in":
        a = _typed(text, family)
        res = None if a is None else any(a == _typed(v, family) for v in f["values"])
    else:
        a, b = _typed(text, family), _typed(f["value"], family)
        if a is None or b is None:
            res = None
        else:
            res = {"eq": a == b, "neq": a != b, "gt": a > b, "gte": a >= b,
                   "lt": a < b, "lte": a <= b}[op]
    if res is None:
        return False
    return (not res) if f["negate"] else res


def decode_change(line: str) -> dict:
    """wal2json v2 line -> {table, id, action, record, old_record, ...} with
    values as edge text."""
    w = json.loads(line)
    action = {"I": "INSERT", "U": "UPDATE", "D": "DELETE"}[w["action"]]
    cols = w.get("columns")
    ident = w.get("identity")
    record = {c["name"]: wire_text(c["value"]) for c in cols} if cols is not None else None
    old = {c["name"]: wire_text(c["value"]) for c in ident} if ident is not None else None
    meta = cols if cols is not None else ident
    key_row = record if record is not None else old
    return {
        "schema": w["schema"], "table": w["table"], "action": action,
        "id": key_row["id"], "record": record, "old_record": old,
        "col_meta": [(c["name"], c["type"]) for c in meta],
        "pk": [p["name"] for p in w.get("pk") or []],
        "commit_timestamp": w["timestamp"],
    }


def _iso_ms_z(ts: str) -> str:
    """'2026-01-01 00:00:01.234+00:00' -> '2026-01-01T00:00:01.234Z' (UTC
    inputs only)."""
    return ts[:10] + "T" + ts[11:23] + "Z"


def _mask(row: dict | None, keep: set | None, allowed: set) -> dict | None:
    if row is None:
        return None
    return {k: v for k, v in row.items() if (keep is None or k in keep) and k in allowed}


class CdcReference:
    """Expected output rows per change. `subs` are the subscription specs
    as given to the engine; `policies` maps (schema, table, role) to the
    policy kind ('owner': user_id equals claims.sub); `privileges` maps
    (role, schema, table) to granted columns. Models
    `project_output(..., rls_enabled=True)`, as the benchmark runs it."""

    def __init__(self, subs, type_maps, policies, privileges):
        self.type_maps = type_maps
        self.policies = policies
        self.privileges = {k: set(v) for k, v in privileges.items()}
        self.by_entity = defaultdict(list)
        for s in subs:
            f = s.get("filters")
            self.by_entity[(s.get("schema", "public"), s["table"])].append({
                "id": s["subscription_id"], "action": s.get("action", "*"),
                "filter": parse_filter(f) if f else None,
                "role": s.get("claims_role", "authenticated"),
                "sub": (s.get("claims") or {}).get("sub"),
                "selected": s.get("selected_columns"),
            })

    def _visible(self, s, ch) -> bool:
        if s["action"] not in ("*", ch["action"]):
            return False
        target = ch["old_record"] if ch["action"] == "DELETE" else ch["record"]
        types = self.type_maps.get((ch["schema"], ch["table"]), {})
        if s["filter"] is not None and not filter_passes(s["filter"], target, types):
            return False
        if self.policies.get((ch["schema"], ch["table"], s["role"])) == "owner":
            row = ch["record"] if ch["record"] is not None else ch["old_record"]
            owner = row.get("user_id") if row else None
            return owner is not None and owner == s["sub"]
        return True

    def expected(self, ch: dict) -> dict[tuple, dict]:
        """{(table, id, role, selected_json): output row} for one change."""
        groups: dict[tuple, list[str]] = defaultdict(list)
        sel_of: dict[tuple, list | None] = {}
        for s in self.by_entity.get((ch["schema"], ch["table"]), ()):
            if self._visible(s, ch):
                k = (s["role"], json.dumps(s["selected"]))
                groups[k].append(s["id"])
                sel_of[k] = s["selected"]
        out = {}
        for (role, sel_json), ids in groups.items():
            selected = sel_of[(role, sel_json)]
            keep = None if selected is None else set(selected) | set(ch["pk"])
            allowed = self.privileges.get((role, ch["schema"], ch["table"]), set())
            if ch["action"] == "DELETE":
                # with RLS enabled, a DELETE ships only the primary key
                record = None
                old = {k: v for k, v in ch["old_record"].items() if k in ch["pk"]}
            else:
                record = _mask(ch["record"], keep, allowed)
                old = _mask(ch["old_record"], keep, allowed) if ch["action"] == "UPDATE" else None
            columns = [{"name": n, "type": t} for n, t in ch["col_meta"]
                       if (keep is None or n in keep) and n in allowed]
            out[(ch["table"], ch["id"], role, sel_json)] = {
                "schema_name": ch["schema"], "table_name": ch["table"], "type": ch["action"],
                "commit_timestamp": _iso_ms_z(ch["commit_timestamp"]),
                "columns": columns, "record": record, "old_record": old, "errors": None,
                "claims_role": role, "selected_columns": selected,
                "subscription_ids": sorted(ids),
            }
        return out


def cdc_output_key(row: dict) -> tuple:
    """Key of one engine output row (parsed from its JSON)."""
    rec = row.get("record") or row.get("old_record") or {}
    return (row.get("table_name"), rec.get("id"), row.get("claims_role"),
            json.dumps(row.get("selected_columns")))


def cdc_output_value(row: dict) -> dict:
    fields = ("schema_name", "table_name", "type", "commit_timestamp", "columns", "record",
              "old_record", "errors", "claims_role", "selected_columns", "subscription_ids")
    return {f: row.get(f) for f in fields}


# ---------------------------------------------------------------------------
# presence
# ---------------------------------------------------------------------------

_TS_RE = re.compile(r"^(\d{4})-(\d\d)-(\d\d)T(\d\d):(\d\d):(\d\d)\.(\d{3})Z$")


def ts_millis(ts: str) -> int:
    m = _TS_RE.match(ts)
    if m is None:
        raise ValueError(f"unexpected event time {ts!r}")
    y, mo, d, h, mi, s, ms = (int(x) for x in m.groups())
    return calendar.timegm((y, mo, d, h, mi, s)) * 1000 + ms


def presence_msg_id(topic: str, key: str, kind: str, meta: str | None, ts_ms: int) -> str:
    return "|".join((topic, key, kind, meta or "", str(ts_ms)))


def presence_diffs(events: list[dict], state: dict | None = None) -> list[dict]:
    """Sequential replay in event-time order. Returns one diff per effective
    event: join (absent key tracked), update (meta changed), leave (present
    key untracked); no-op events yield nothing. `state` carries presence
    across calls and is updated in place."""
    state = {} if state is None else state
    out = []
    for e in sorted(events, key=lambda e: ts_millis(e["ts"])):
        k = (e["topic"], e["presence_key"])
        if e["action"] == "track":
            if k not in state:
                kind = "join"
            elif state[k] != e["meta"]:
                kind = "update"
            else:
                continue
            state[k] = e["meta"]
            meta = e["meta"]
        elif e["action"] == "untrack" and k in state:
            kind, meta = "leave", state.pop(k)
        else:
            continue
        out.append({"topic": e["topic"], "presence_key": e["presence_key"], "kind": kind,
                    "meta": meta, "ts_ms": ts_millis(e["ts"])})
    return out


class PresenceReference:
    """Per-diff dispatch decision over the topic's sockets (presence_diff
    gate: presence_read True delivers, False withholds, None defers; one
    encode per distinct serializer among delivered sockets)."""

    def __init__(self, sockets: list[dict]):
        self.by_topic = defaultdict(list)
        for s in sockets:
            self.by_topic[(s["tenant_id"], s["join_topic"])].append(s)

    def summary(self, diff: dict, tenant: str) -> dict:
        socks = self.by_topic.get((tenant, diff["topic"]), [])
        delivered = [s for s in socks if s["presence_read"] is True]
        return {
            "n_delivered": len(delivered),
            "n_withheld": sum(1 for s in socks if s["presence_read"] is False),
            "n_deferred": sum(1 for s in socks if s["presence_read"] is None),
            "n_replayed": 0, "n_encode_failed": 0,
            "n_encodes": len({s["serializer"] for s in delivered}),
        }
