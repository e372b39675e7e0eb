"""Realtime serving benchmark: open-loop CDC and presence latency,
many-subscriber CDC throughput, per-layer traces.

    python3 rtbench/run.py --workload cdc_poll --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads: cdc_poll, cdc_backlog,
presence_churn (see workloads.py and BENCHMARK.json for why each exists).
`--trace 0` prints the end-to-end metrics; `--trace 1` prints the per-layer
metrics and writes the spans to .rtbench_out/. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.

Spark settings are fitted to the host: local[<nproc - 1>] and a maximum driver
heap of a sixteenth of physical RAM (1-4 GiB) through SPARK_DRIVER_MEMORY. All state,
Spark's scratch space included, lives under .rtbench_tmp/ and is removed on
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_PROCESS = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("cdc_poll", "cdc_backlog", "presence_churn")

END_TO_END = {"cpu_ms_per_batch": "ms", "memory_mb": "MB", "setup_s": "s"}
# Wall-clock diagnostics of traced runs, from their untraced half. On a
# shared host whole runs slow down by up to 2x, so latency percentiles do
# not repeat within the bounds the benchmark may set; an open loop's
# throughput_eps only confirms the offered rate.
PER_LAYER = {
    "latency_p50_ms": "ms", "latency_p99_ms": "ms", "throughput_eps": "1/s",
    "cdc.match_build_ms": "ms", "auth.rls_build_ms": "ms", "projection.build_ms": "ms",
    "cdc.match_exec_ms": "ms", "cdc.pairs_per_change": "ratio", "auth.rls_exec_ms": "ms",
    "auth.pairs_kept_share": "ratio", "projection.exec_ms": "ms", "projection.rows_out": "count",
    "sources.parse_exec_ms": "ms", "sink.collect_ms": "ms", "sink.bytes_out": "bytes",
    "streaming.latest_offset_ms_p50": "ms", "streaming.get_batch_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms", "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms", "streaming.trigger_ms_p50": "ms",
    "streaming.rows_per_batch_p50": "count", "streaming.jobs_per_batch": "count",
    "streaming.tasks_per_batch": "count",
    "presence.state_exec_ms": "ms", "presence.state_rows": "count",
    "presence.state_bytes": "bytes", "presence.state_commit_ms": "ms",
    "presence.state_partitions": "count", "presence.diffs_per_event": "ratio",
    "dispatch.exec_ms": "ms", "dispatch.delivered_share": "ratio",
    "dispatch.encodes_per_delivery": "ratio",
    "generator.lateness_ms_p99": "ms", "generator.events": "count",
    "trace.overhead_share": "ratio",
}


def host_settings() -> dict[str, str]:
    # one core stays free for the driver's Python process, the input writer
    # and the JVM's compiler and GC threads
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(4096, total_kb // 1024 // 16))
    return {"cores": str(cores), "driver_memory": f"{heap_mb}m"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, "realtime_spark", "__init__.py")):
        print(f"realtime_spark package not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    host = host_settings()
    tmp = os.path.join(ROOT, ".rtbench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(tmp, "java"), exist_ok=True)
    os.environ["SPARK_DRIVER_MEMORY"] = host["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}"
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from procs import jvm_live_mb, peak_rss_mb, stop_spark
    from tracing import self_times

    spark = None
    try:
        from realtime_spark.session import get_spark

        spark = get_spark("rtbench", cpus=int(host["cores"]))
        ctx = workloads.Context(spark, tmp, args.seed, args.seconds, bool(args.trace),
                                T_PROCESS)
        ctx.mark("session_ready")
        res = workloads.run(ctx, args.workload)
        peak = peak_rss_mb()
        memory_mb = jvm_live_mb(spark) + peak["workers"]
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    check = res["check"]
    share = check.failed / max(1, check.attempted)
    marks = ", ".join(f"{k}={v:.1f}s" for k, v in ctx.marks.items())
    print(f"{args.workload} seed={args.seed}: error_share={share:.6f} "
          f"({check.failed} of {check.attempted} events failed), "
          f"setup_s={res['setup_s']:.3f} ({marks}), p50={res['latency_p50_ms']:.1f} ms, "
          f"p99={res['latency_p99_ms']:.1f} ms, {res['throughput_eps']:.1f} events/s, "
          f"cpu={res['cpu_ms_per_batch']:.0f} ms/batch, "
          f"memory_mb={memory_mb:.0f}, peak_rss_mb={sum(peak.values()):.0f} "
          f"(jvm {peak['jvm']:.0f}, workers {peak['workers']:.0f}), host={host}")
    if res.get("batches"):
        print("  batches (rows/trigger ms/cpu ms): "
              + " ".join("/".join(map(str, b)) for b in res["batches"]))
    for m in check.mismatches:
        print(f"  mismatch: {m}")
    if args.trace:
        values = workloads.span_layer(ctx.tracer.spans)
        values.update(res["layers"])
        values = {k: float(values.get(k, 0.0)) for k in PER_LAYER}
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in values.items()}
        for k, v in values.items():
            print(f"  {k} = {v:.4f} {PER_LAYER[k]}")
        selfs = self_times(ctx.tracer.spans)
        for s in ctx.tracer.spans:
            s["self"] = selfs[s["id"]]
        out_dir = os.path.join(ROOT, ".rtbench_out")
        os.makedirs(out_dir, exist_ok=True)
        ctx.tracer.write(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                         {"workload": args.workload, "seed": args.seed, "layers": values})
    else:
        values = {"cpu_ms_per_batch": res["cpu_ms_per_batch"], "memory_mb": memory_mb,
                  "setup_s": res["setup_s"]}
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    print(json.dumps({"correct": check.failed == 0, "attempted": check.attempted,
                      "failed": check.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
