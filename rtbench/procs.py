"""The processes a benchmark run starts, read from /proc: peak memory and
CPU time of the Spark JVM and its Python workers, the JVM's live memory, and
a clean shutdown."""

from __future__ import annotations

import os
import time


def descendants() -> set[int]:
    """Live descendants of this process."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    mine, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in mine]
        mine.update(kids)
        frontier.extend(kids)
    return mine


def cpu_seconds() -> float:
    """CPU time (user + system) used so far by this process and its
    descendants, including descendants they have already reaped; this
    process's own reaped children (the input writer) are left out."""
    me = os.getpid()
    ticks = 0
    for pid in descendants() | {me}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[11:15] = utime, stime, cutime, cstime
        ticks += int(fields[11]) + int(fields[12])
        if pid != me:
            ticks += int(fields[13]) + int(fields[14])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> dict[str, float]:
    """Summed peak RSS (VmHWM) of this process's live descendants, split into
    the Spark JVM ("jvm") and its Python workers ("workers"). Read before the
    session stops."""
    total_kb = {"jvm": 0, "workers": 0}
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as f:
                kind = "jvm" if f.read().strip() == "java" else "workers"
            with open(f"/proc/{pid}/status") as f:
                total_kb[kind] += next((int(line.split()[1]) for line in f
                                        if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return {k: kb / 1024 for k, kb in total_kb.items()}


def jvm_live_mb(spark) -> float:
    """Heap the Spark JVM still holds after a full collection, plus its
    non-heap memory in use (metaspace, generated code): what the run left
    live, whatever heap size the collector chose to commit."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mem.getHeapMemoryUsage().getUsed() + mem.getNonHeapMemoryUsage().getUsed()) / 2**20


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in (which ends the Python
    workers), and wait until every process this run started has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
