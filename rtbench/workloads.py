"""The workloads of the realtime serving benchmark.

Each batch body calls the package's public functions, one span per call
(`Tracer.build`), and in traced batches executes each layer's output at the
boundary (`Tracer.materialize`). Outputs are collected on the driver with the
monotonic time they arrived, then checked against `reference.py`.

  cdc_poll        open loop, 200 changes/s in 100 ms files, 32 subscriptions
  presence_churn  open loop, 100 presence events/s, 200 topics x 5 sockets
  cdc_backlog     fixed backlogs drained with availableNow, 1,000 subscriptions
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time
from collections import defaultdict
from statistics import median

import gen
import reference as ref
from procs import cpu_seconds
from tracing import Tracer, quantile

HERE = os.path.dirname(os.path.abspath(__file__))
WARM_FIRST_ID = 100_000_000  # ids of warm-up events, which are neither timed nor checked
DRAIN_TIMEOUT_S = 60.0
# One warm-up batch runs cold (JIT, code generation, Python workers) before
# timing starts
CDC_WARM_CHANGES = 500
PRESENCE_WARM_KEYS = 500  # keys present before the measured events start
# An open-loop micro-batch reads at most this many files (maxCachedFiles=0
# makes every batch list the source afresh). On a 4-core host both pipelines
# fall behind their offered rate (presence only just), so every measured
# batch but the first and the last reads this many files or nearly so, and
# what a batch costs hardly depends on how long the batch before it took.
CDC_FILES_PER_BATCH = 45  # 900 changes
PRESENCE_FILES_PER_BATCH = 20  # 200 events

# cdc_backlog: one round is a backlog of ROUND_FILES files, drained by one
# availableNow query in batches of FILES_PER_BATCH files
BACKLOG_FILE_CHANGES = 250
BACKLOG_ROUND_FILES = 8
BACKLOG_FILES_PER_BATCH = 8
BACKLOG_MAX_ROUNDS = 12

_UNTRACED = Tracer(False)
_OWNER_POLICIES = {(gen.SCHEMA, t, gen.RLS_ROLE): "owner" for t in gen.TABLE_NAMES}


class Context:
    """Per-run state shared by the workload drivers."""

    def __init__(self, spark, tmp: str, seed: int, seconds: int, trace: bool, t_process: float):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.t_process = t_process
        self.tracer = Tracer(trace)
        # batches that start at or after this monotonic time are traced
        self.trace_from = math.inf
        self.marks: dict[str, float] = {}

    def batch_tracer(self) -> Tracer:
        return self.tracer if time.monotonic() >= self.trace_from else _UNTRACED

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.tmp, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def mark(self, name: str) -> None:
        self.marks[name] = time.monotonic() - self.t_process


# ---------------------------------------------------------------------------
# batch bodies
# ---------------------------------------------------------------------------


class Batches:
    """foreachBatch function: runs `body` and keeps (arrival time, batch id,
    traced, outputs) per batch, and the run's CPU seconds when each batch
    ended. In a traced run, the untraced batches also record the ids of the
    Spark jobs they ran (the query's job group)."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.collected: list[tuple[float, int, bool, list]] = []
        self.cpu_at_end: list[float] = []
        self.jobs: dict[int, set[int]] = {}

    def _job_ids(self) -> set[int]:
        sc = self.ctx.spark.sparkContext
        return set(sc.statusTracker().getJobIdsForGroup(sc.getLocalProperty("spark.jobGroup.id")))

    def __call__(self, df, batch_id: int) -> None:
        tr = self.ctx.batch_tracer()
        count_jobs = self.ctx.trace and not tr.enabled
        before = self._job_ids() if count_jobs else set()
        with tr.span("batch", batch_id):
            rows = self.body(tr, df, batch_id)
        self.collected.append((time.monotonic(), batch_id, tr.enabled, rows))
        self.cpu_at_end.append(cpu_seconds())
        if count_jobs:
            self.jobs[batch_id] = self._job_ids() - before

    def body(self, tr: Tracer, df, batch_id: int) -> list:
        raise NotImplementedError

    def cpu_ms(self) -> dict[int, float]:
        """CPU milliseconds of each batch, from the end of the batch before it
        to its own end: the trigger, offset and commit logs, plan
        construction, execution and collect."""
        ids = [b for _, b, _, _ in self.collected]
        return {ids[i]: (self.cpu_at_end[i] - self.cpu_at_end[i - 1]) * 1000
                for i in range(1, len(ids))}


class CdcBatches(Batches):
    """parse_wal2json -> matched_pairs -> apply_rls_policies ->
    project_output(privileges) -> to_json -> collect. wal2json is parsed
    inside the batch body: parse_wal2json uses monotonically_increasing_id,
    which a streaming frame rejects."""

    def __init__(self, ctx: Context, sub_specs: list[dict]):
        from realtime_spark.operators.auth import rls_policies_df
        from realtime_spark.operators.cdc import subscriptions_df
        from realtime_spark.operators.projection import privileges_df

        super().__init__(ctx)
        self.subs = subscriptions_df(ctx.spark, sub_specs, gen.TYPE_MAPS)
        self.pols = rls_policies_df(ctx.spark, [
            {"schema": s, "table": t, "claims_role": role, "policy_expr": gen.RLS_POLICY_EXPR}
            for s, t, role in _OWNER_POLICIES
        ])
        self.priv = privileges_df(ctx.spark, gen.PRIVILEGES)

    def body(self, tr: Tracer, df, batch_id: int) -> list[str]:
        from pyspark.sql import functions as F
        from realtime_spark.operators.auth import apply_rls_policies
        from realtime_spark.operators.cdc import matched_pairs
        from realtime_spark.operators.projection import project_output
        from realtime_spark.sources.wal2json import parse_wal2json

        df = tr.build("sources.parse", batch_id, parse_wal2json, df)
        df = tr.materialize("sources.parse", batch_id, df)
        df = tr.build("cdc.match", batch_id, matched_pairs, df, self.subs)
        df = tr.materialize("cdc.match", batch_id, df)
        df = tr.build("auth.rls", batch_id, apply_rls_policies, df, self.pols)
        df = tr.materialize("auth.rls", batch_id, df)
        df = tr.build("projection", batch_id, project_output, df,
                      privileges=self.priv, rls_enabled=True)
        df = tr.materialize("projection", batch_id, df)
        with tr.span("sink.collect", batch_id):
            return [r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()]


class PresenceBatches(Batches):
    """Receives the output of presence_diffs_sharded (the streaming state
    operator) and runs fastlane_pairs -> fastlane_summary -> collect."""

    def __init__(self, ctx: Context, sockets: list[dict]):
        super().__init__(ctx)
        self.sockets = ctx.spark.createDataFrame(
            sockets,
            "socket_id string, tenant_id string, join_topic string, serializer string, "
            "presence_read boolean, broadcast_read boolean, replayed_ids array<string>",
        )

    def _dispatch(self, diffs):
        from pyspark.sql import functions as F
        from realtime_spark.operators.dispatch import (
            PRESENCE_DIFF, fastlane_pairs, fastlane_summary,
        )

        msgs = diffs.select(
            F.concat_ws("|", "topic", "presence_key", "kind", F.coalesce("meta", F.lit("")),
                        F.unix_millis("ts").cast("string")).alias("msg_id"),
            F.lit(gen.TENANT).alias("tenant_id"),
            "topic",
            F.lit(PRESENCE_DIFF).alias("event"),
            F.lit(False).alias("is_user_broadcast"),
            F.lit(None).cast("string").alias("payload_encoding"),
            F.lit(None).cast("string").alias("message_uid"),
            F.lit(None).cast("string").alias("sender_socket"),
        )
        return fastlane_summary(fastlane_pairs(msgs, self.sockets))

    def body(self, tr: Tracer, df, batch_id: int) -> list[dict]:
        df = tr.materialize("presence.state", batch_id, df)
        df = tr.build("dispatch", batch_id, self._dispatch, df)
        df = tr.materialize("dispatch", batch_id, df)
        with tr.span("sink.collect", batch_id):
            return [r.asDict() for r in df.collect()]


# ---------------------------------------------------------------------------
# checking
# ---------------------------------------------------------------------------


class Check:
    """Per-event comparison of delivered outputs with the reference."""

    def __init__(self):
        self.expected: dict[int, dict] = {}  # event id -> {output key: value}
        self.actual: dict[int, dict] = defaultdict(dict)
        self.done_at: dict[int, float] = {}
        self.traced: dict[int, bool] = {}
        self.extra: list = []
        self.failed_ids: set[int] = set()
        self.mismatches: list[str] = []

    def expect(self, event_id: int, outputs: dict) -> None:
        self.expected[event_id] = outputs

    def deliver(self, event_id: int | None, key, value, at: float, traced: bool) -> None:
        if event_id not in self.expected:
            self.extra.append((key, value))
            return
        got = self.actual[event_id]
        if key in got:
            self.failed_ids.add(event_id)
            self._note(f"duplicate output {key}")
        got[key] = value
        self.done_at[event_id] = max(self.done_at.get(event_id, at), at)
        self.traced[event_id] = traced

    def _note(self, msg: str) -> None:
        if len(self.mismatches) < 5:
            self.mismatches.append(msg)

    def finish(self) -> None:
        for eid, exp in self.expected.items():
            got = self.actual.get(eid, {})
            if got == exp:
                continue
            self.failed_ids.add(eid)
            for k in exp.keys() - got.keys():
                self._note(f"missing {k}")
            for k in got.keys() - exp.keys():
                self._note(f"extra {k}: {got[k]}")
            for k in exp.keys() & got.keys():
                if exp[k] != got[k]:
                    self._note(f"wrong {k}: got {got[k]} want {exp[k]}")
        for key, value in self.extra[:5]:
            self._note(f"unexpected output {key}: {value}")

    @property
    def attempted(self) -> int:
        return len(self.expected)

    @property
    def failed(self) -> int:
        return len(self.failed_ids) + len(self.extra)

    def latencies(self, start_of, end: float, traced: bool | None = None) -> list[float]:
        """Seconds from each event's start stamp to its last output; a
        failed event counts as still waiting at `end`."""
        out = []
        for eid in self.expected:
            if traced is not None and self.traced.get(eid, False) != traced:
                continue
            if eid in self.failed_ids or eid not in self.done_at:
                out.append(end - start_of(eid))
            else:
                out.append(self.done_at[eid] - start_of(eid))
        return out


def _read_lines(paths) -> list[str]:
    lines = []
    for p in paths:
        with open(p) as f:
            lines.extend(x for x in f.read().splitlines() if x)
    return lines


def _check_cdc(check: Check, cdc_ref: ref.CdcReference, lines: list[str], collected) -> None:
    for line in lines:
        ch = ref.decode_change(line)
        check.expect(int(ch["id"]), cdc_ref.expected(ch))
    for at, _batch, traced, rows in collected:
        for js in rows:
            row = json.loads(js)
            key = ref.cdc_output_key(row)
            eid = int(key[1]) if key[1] is not None and key[1].isdigit() else None
            if eid is not None and eid >= WARM_FIRST_ID:
                continue
            check.deliver(eid, key, ref.cdc_output_value(row), at, traced)


def _presence_seq(msg_id: str) -> int:
    return int(msg_id.rsplit("|", 1)[1]) - gen.TS_BASE_MS


def _check_presence(check: Check, seed: int, lines: list[str], collected) -> None:
    events = [json.loads(x) for x in lines]
    _, warm_state = gen.presence_warm_state(seed, PRESENCE_WARM_KEYS, WARM_FIRST_ID)
    state = {(gen.topic_name(t), gen.presence_key(k)): meta
             for (t, k), meta in warm_state.items()}
    pres = ref.PresenceReference(gen.presence_sockets(seed))
    by_event: dict[int, dict] = {ref.ts_millis(e["ts"]) - gen.TS_BASE_MS: {} for e in events}
    for d in ref.presence_diffs(events, state):
        mid = ref.presence_msg_id(d["topic"], d["presence_key"], d["kind"], d["meta"], d["ts_ms"])
        by_event[d["ts_ms"] - gen.TS_BASE_MS][mid] = pres.summary(d, gen.TENANT)
    for eid, outs in by_event.items():
        check.expect(eid, outs)
    fields = ("n_delivered", "n_withheld", "n_deferred", "n_replayed", "n_encode_failed",
              "n_encodes")
    for at, _batch, traced, rows in collected:
        for r in rows:
            seq = _presence_seq(r["msg_id"])
            if seq >= WARM_FIRST_ID:
                continue
            value = {f: r[f] for f in fields}
            if r["tenant_id"] != gen.TENANT or r["event"] != "presence_diff":
                value["envelope"] = (r["tenant_id"], r["event"])
            check.deliver(seq, r["msg_id"], value, at, traced)


# ---------------------------------------------------------------------------
# per-layer figures
# ---------------------------------------------------------------------------

_DURATIONS = {
    "latest_offset": "latestOffset", "get_batch": "getBatch", "add_batch": "addBatch",
    "wal_commit": "walCommit", "commit_offsets": "commitOffsets", "trigger": "triggerExecution",
}


def _p50(values) -> float:
    values = list(values)
    return float(median(values)) if values else 0.0


def streaming_layer(spark, progress: list[dict], jobs: dict[int, set[int]]) -> dict:
    """From the untraced measured batches: p50 of each durationMs phase and
    of input rows, and Spark jobs and tasks per batch."""
    m = {f"streaming.{name}_ms_p50": _p50(p["durationMs"].get(key, 0) for p in progress)
         for name, key in _DURATIONS.items()}
    m["streaming.rows_per_batch_p50"] = _p50(p["numInputRows"] for p in progress)
    st = spark.sparkContext.statusTracker()
    n_jobs = n_tasks = 0
    for p in progress:
        for j in jobs.get(p["batchId"], ()):
            n_jobs += 1
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                n_tasks += si.numTasks if si else 0
    m["streaming.jobs_per_batch"] = n_jobs / max(1, len(progress))
    m["streaming.tasks_per_batch"] = n_tasks / max(1, len(progress))
    return m


def sink_layer(collected, cdc: bool) -> dict:
    """Output rows and bytes delivered for the measured events, traced or
    not; both repeat exactly for a seed when the outputs are correct."""
    rows = nbytes = 0
    for _, _, _, out in collected:
        for r in out:
            if cdc:
                key = ref.cdc_output_key(json.loads(r))[1]
                warm = key is not None and key.isdigit() and int(key) >= WARM_FIRST_ID
                size = len(r)
            else:
                warm = _presence_seq(r["msg_id"]) >= WARM_FIRST_ID
                size = len(json.dumps(r))
            if not warm:
                rows += 1
                nbytes += size
    return {"projection.rows_out": float(rows) if cdc else 0.0, "sink.bytes_out": float(nbytes)}


def _presence_layer(progress: list[dict], collected, n_events: int) -> dict:
    ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
    last = ops[-1] if ops else {}
    diffs = delivered = offered = encodes = 0
    for _, _, _, rows in collected:
        for r in rows:
            if _presence_seq(r["msg_id"]) >= WARM_FIRST_ID:
                continue
            diffs += 1
            delivered += r["n_delivered"]
            offered += r["n_delivered"] + r["n_withheld"] + r["n_deferred"]
            encodes += r["n_encodes"]
    return {
        "presence.state_rows": float(last.get("numRowsTotal", 0)),
        "presence.state_bytes": float(last.get("memoryUsedBytes", 0)),
        "presence.state_commit_ms": _p50(o.get("commitTimeMs", 0) for o in ops),
        "presence.state_partitions": float(last.get("numShufflePartitions", 0)),
        "presence.diffs_per_event": diffs / max(1, n_events),
        "dispatch.delivered_share": delivered / max(1, offered),
        "dispatch.encodes_per_delivery": encodes / max(1, delivered),
    }


def span_layer(spans: list[dict]) -> dict:
    """From the traced batches' spans: p50 per batch of each build and exec
    span, and ratios of the rows the exec spans counted."""
    per = defaultdict(lambda: defaultdict(float))
    counted = defaultdict(int)
    for s in spans:
        per[s["name"]][s["batch"]] += (s["end"] - s["start"]) * 1000
        counted[s["name"]] += s["counts"].get("rows", 0)
    m = {
        "cdc.match_build_ms": "cdc.match.build", "auth.rls_build_ms": "auth.rls.build",
        "projection.build_ms": "projection.build", "cdc.match_exec_ms": "cdc.match.exec",
        "auth.rls_exec_ms": "auth.rls.exec", "projection.exec_ms": "projection.exec",
        "sources.parse_exec_ms": "sources.parse.exec", "sink.collect_ms": "sink.collect",
        "presence.state_exec_ms": "presence.state.exec", "dispatch.exec_ms": "dispatch.exec",
    }
    m = {metric: _p50(per[span].values()) for metric, span in m.items()}
    changes, pairs = counted["sources.parse.exec"], counted["cdc.match.exec"]
    m["cdc.pairs_per_change"] = pairs / changes if changes else 0.0
    m["auth.pairs_kept_share"] = counted["auth.rls.exec"] / pairs if pairs else 0.0
    return m


# ---------------------------------------------------------------------------
# open loop: cdc_poll and presence_churn
# ---------------------------------------------------------------------------


def _spawn_writer(ctx: Context, workload: str, src: str, t0: float, files: int, log: str):
    cmd = [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
           "--seed", str(ctx.seed), "--src", src, "--stage", ctx.dir("stage"),
           "--t0", repr(t0), "--files", str(files), "--log", log,
           "--warm-keys", str(PRESENCE_WARM_KEYS), "--warm-first-id", str(WARM_FIRST_ID)]
    return subprocess.Popen(cmd, stdin=subprocess.DEVNULL)


def open_loop(ctx: Context, workload: str) -> dict:
    spark = ctx.spark
    src, stage = ctx.dir("src"), ctx.dir("stage")
    files_per_batch = CDC_FILES_PER_BATCH if workload == "cdc_poll" else PRESENCE_FILES_PER_BATCH
    reader = (spark.readStream.option("maxFilesPerTrigger", files_per_batch)
              .option("maxCachedFiles", 0))
    if workload == "cdc_poll":
        per_file = gen.CDC_PER_FILE
        batches = CdcBatches(ctx, gen.cdc_poll_subscriptions(ctx.seed))
        stream = reader.text(src)
        warm = gen.cdc_file(ctx.seed, "warm", 0, CDC_WARM_CHANGES, WARM_FIRST_ID)
    else:
        from realtime_spark.streaming.presence import PRESENCE_EVENT_DDL, presence_diffs_sharded

        per_file = gen.PRESENCE_PER_FILE
        batches = PresenceBatches(ctx, gen.presence_sockets(ctx.seed))
        stream = presence_diffs_sharded(reader.schema(PRESENCE_EVENT_DDL).json(src))
        warm, _ = gen.presence_warm_state(ctx.seed, PRESENCE_WARM_KEYS, WARM_FIRST_ID)
    query = (stream.writeStream.foreachBatch(batches)
             .option("checkpointLocation", ctx.dir("ckpt"))
             .trigger(processingTime="100 milliseconds").start())
    ctx.mark("query_started")
    n_files = ctx.seconds * 10
    n_events = n_files * per_file
    log_path = os.path.join(ctx.tmp, "writer.json")
    writer = None
    try:
        gen.write_atomic(warm, stage, src, "warm.json")
        deadline = time.monotonic() + 120
        while not batches.collected:
            if not query.isActive:
                raise RuntimeError(f"streaming query failed: {query.exception()}")
            if time.monotonic() > deadline:
                raise TimeoutError("warm-up batch did not complete")
            time.sleep(0.02)
        ctx.mark("warm_done")
        warm_batch = batches.collected[-1][1]
        t0 = time.monotonic() + 0.3
        setup_s = t0 - ctx.t_process
        if ctx.trace:  # first half untraced, second half traced
            ctx.trace_from = t0 + ctx.seconds / 2
        writer = _spawn_writer(ctx, workload, src, t0, n_files, log_path)
        writer.wait(timeout=ctx.seconds + 30)
        if writer.returncode != 0:
            raise RuntimeError(f"input writer exited with {writer.returncode}")
        # wait until every measured input row went through a batch; a failed
        # query leaves its events missing, which the check reports
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        while time.monotonic() < deadline and query.isActive:
            seen = sum(p["numInputRows"] for p in query.recentProgress
                       if p["batchId"] > warm_batch)
            if seen >= n_events:
                break
            time.sleep(0.25)
        end = time.monotonic()
        ctx.mark("drained")
        prog = [p for p in query.recentProgress
                if p["batchId"] > warm_batch and p["numInputRows"] > 0]
    finally:
        if writer is not None and writer.poll() is None:
            writer.kill()
            writer.wait()
        query.stop()
        ctx.mark("stopped")

    with open(log_path) as f:
        wlog = json.load(f)
    lines = _read_lines(os.path.join(src, gen.file_name(k)) for k in range(n_files))
    check = Check()
    if workload == "cdc_poll":
        cdc_ref = ref.CdcReference(gen.cdc_poll_subscriptions(ctx.seed), gen.TYPE_MAPS,
                                   _OWNER_POLICIES, gen.PRIVILEGES)
        _check_cdc(check, cdc_ref, lines, batches.collected)
    else:
        _check_presence(check, ctx.seed, lines, batches.collected)
    check.finish()

    due = {w["file"]: w["due"] for w in wlog}
    start_of = lambda eid: due[eid // per_file]  # noqa: E731
    lat = check.latencies(start_of, end)
    last = max(check.done_at.values(), default=end)
    # the first measured batch reads what arrived before it started and the
    # last what was left, so only the batches between them are counted
    batch_cpu = batches.cpu_ms()
    result = {
        "check": check,
        "setup_s": setup_s,
        "latency_p50_ms": quantile(lat, 0.5) * 1000,
        "latency_p99_ms": quantile(lat, 0.99) * 1000,
        "throughput_eps": (check.attempted - len(check.failed_ids)) / max(1e-9, last - t0),
        "cpu_ms_per_batch": _p50(batch_cpu[p["batchId"]] for p in prog[1:-1]),
        "batches": [(p["numInputRows"], p["durationMs"].get("triggerExecution", 0),
                     round(batch_cpu.get(p["batchId"], 0))) for p in prog],
    }
    if ctx.trace:
        untraced_prog = [p for p in prog if p["batchId"] in batches.jobs]
        layer = streaming_layer(spark, untraced_prog, batches.jobs)
        layer["generator.lateness_ms_p99"] = quantile(
            [(w["written"] - w["due"]) * 1000 for w in wlog], 0.99)
        layer["generator.events"] = float(n_events)
        untraced = check.latencies(start_of, end, traced=False)
        traced = check.latencies(start_of, end, traced=True)
        plain_done = [t for e, t in check.done_at.items() if not check.traced[e]]
        if untraced and plain_done:
            layer["latency_p50_ms"] = quantile(untraced, 0.5) * 1000
            layer["latency_p99_ms"] = quantile(untraced, 0.99) * 1000
            layer["throughput_eps"] = len(plain_done) / (max(plain_done) - t0)
        layer["trace.overhead_share"] = (
            median(traced) / median(untraced) - 1 if traced and untraced else 0.0)
        layer.update(sink_layer(batches.collected, workload == "cdc_poll"))
        if workload == "presence_churn":
            layer.update(_presence_layer(untraced_prog, batches.collected, n_events))
        result["layers"] = layer
    return result


# ---------------------------------------------------------------------------
# cdc_backlog
# ---------------------------------------------------------------------------


def cdc_backlog(ctx: Context) -> dict:
    spark = ctx.spark
    specs = gen.cdc_backlog_subscriptions(ctx.seed)
    batches = CdcBatches(ctx, specs)
    src, stage, ckpt = ctx.dir("src"), ctx.dir("stage"), ctx.dir("ckpt")
    stream = spark.readStream.option("maxFilesPerTrigger", BACKLOG_FILES_PER_BATCH).text(src)

    def drain() -> None:
        q = (stream.writeStream.foreachBatch(batches).option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        try:
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                raise TimeoutError("backlog drain timed out")
        finally:
            q.stop()

    gen.write_atomic(gen.cdc_file(ctx.seed, "warm", 0, BACKLOG_FILE_CHANGES, WARM_FIRST_ID),
                     stage, src, "warm.json")
    drain()
    ctx.mark("warm_done")
    # every round's backlog is written before the timer starts
    per_round = BACKLOG_ROUND_FILES * BACKLOG_FILE_CHANGES
    rounds = []
    for r in range(BACKLOG_MAX_ROUNDS):
        rdir = ctx.dir("rounds", str(r))
        for k in range(BACKLOG_ROUND_FILES):
            idx = r * BACKLOG_ROUND_FILES + k
            data = gen.cdc_file(ctx.seed, "backlog", idx, BACKLOG_FILE_CHANGES,
                                idx * BACKLOG_FILE_CHANGES)
            with open(os.path.join(rdir, gen.file_name(idx)), "wb") as f:
                f.write(data)
        rounds.append(rdir)

    t_start = time.monotonic()
    setup_s = t_start - ctx.t_process
    drains = []  # (round, start, end, traced)
    cpu_s = 0.0
    n_batches = len(batches.collected)
    for r, rdir in enumerate(rounds):
        # a traced run drains at least one untraced and one traced round
        if time.monotonic() - t_start >= ctx.seconds and (not ctx.trace or r >= 2):
            break
        traced = ctx.trace and r % 2 == 1
        ctx.trace_from = -math.inf if traced else math.inf
        cpu0 = cpu_seconds()
        t_r = time.monotonic()
        for name in sorted(os.listdir(rdir)):
            os.rename(os.path.join(rdir, name), os.path.join(src, name))
        drain()
        drains.append((r, t_r, time.monotonic(), traced))
        cpu_s += cpu_seconds() - cpu0
    if len(drains) == len(rounds):
        raise RuntimeError("backlog rounds ran out before the measured window ended")

    lines = _read_lines(os.path.join(src, gen.file_name(r * BACKLOG_ROUND_FILES + k))
                        for r, *_ in drains for k in range(BACKLOG_ROUND_FILES))
    check = Check()
    cdc_ref = ref.CdcReference(specs, gen.TYPE_MAPS, _OWNER_POLICIES, gen.PRIVILEGES)
    _check_cdc(check, cdc_ref, lines, batches.collected)
    check.finish()
    round_start = {r: t for r, t, _, _ in drains}
    start_of = lambda eid: round_start[eid // per_round]  # noqa: E731
    lat = check.latencies(start_of, drains[-1][2])
    result = {
        "check": check,
        "setup_s": setup_s,
        "latency_p50_ms": quantile(lat, 0.5) * 1000,
        "latency_p99_ms": quantile(lat, 0.99) * 1000,
        "throughput_eps": (check.attempted - len(check.failed_ids))
        / sum(e - s for _, s, e, _ in drains),
        "cpu_ms_per_batch": cpu_s * 1000 / (len(batches.collected) - n_batches),
    }
    if ctx.trace:
        plain = [e - s for _, s, e, tr in drains if not tr]
        traced = [e - s for _, s, e, tr in drains if tr]
        result["layers"] = {
            "latency_p50_ms": result["latency_p50_ms"],
            "latency_p99_ms": result["latency_p99_ms"],
            "throughput_eps": result["throughput_eps"],
            "trace.overhead_share": median(traced) / median(plain) - 1,
            "generator.events": float(len(drains) * per_round),
            **sink_layer(batches.collected, True),
        }
    return result


def run(ctx: Context, workload: str) -> dict:
    if workload == "cdc_backlog":
        return cdc_backlog(ctx)
    return open_loop(ctx, workload)
