"""Write-Audit-Publish (WAP): the production pattern for gating a dataset
release behind quality checks — write to an isolated staging location, run
the audit suite against the staged data, and only on a clean audit promote
it to the published location. Consumers never observe a half-written or
audit-failing dataset, and never a missing one: promotion swaps a version
POINTER (one atomic os.replace of a small file), not the data directory
itself, so there is no instant at which "published" does not resolve.

This is the workflow glue over quality_checks.run_checks — the Iceberg/
Netflix WAP branch-commit pattern expressed on plain directories: audited
data lands in an immutable `{base_dir}/v{n}` dir, `{base_dir}/CURRENT`
names the live version, and a failed audit leaves the staging dir for
inspection plus the previous published version untouched. The immediately
previous version is retained one promotion (readers mid-scan keep their
files); older ones are garbage-collected.

At 100 TB the pointer swap becomes an Iceberg branch fast-forward / Delta
table swap — the same commit-pointer idea; the stage->audit->promote
sequence and the audit frame are identical.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_POINTER = "CURRENT"


class AuditFailure(Exception):
    """Raised when the staged dataset fails its audit; carries the audit
    rows for the failure report."""

    def __init__(self, failures: list[dict]):
        self.failures = failures
        names = ", ".join(f["constraint"] for f in failures)
        super().__init__(f"audit failed: {names}")


def _version_dirs(base_dir: str) -> list[int]:
    if not os.path.isdir(base_dir):
        return []
    return sorted(
        int(d[1:]) for d in os.listdir(base_dir)
        if d.startswith("v") and d[1:].isdigit()
    )


def _current_version(base_dir: str) -> int | None:
    try:
        with open(os.path.join(base_dir, _POINTER)) as fh:
            name = fh.read().strip()
        return int(name[1:]) if name.startswith("v") else None
    except (OSError, ValueError):
        return None


def wap_publish(
    df: DataFrame,
    base_dir: str,
    checks,
) -> DataFrame:
    """Stage `df`, audit the STAGED files (what consumers would read, not
    the logical plan — catches writer bugs too), and promote on success.

    Returns the audit frame (all ok). Raises AuditFailure (staging left in
    place for inspection, previous published untouched) when any check
    fails. Layout: {base_dir}/staging, {base_dir}/v{n}, {base_dir}/CURRENT.

    Crash safety: the only mutation visible to readers is the single
    os.replace of the CURRENT pointer file. A crash before it leaves the
    old version live (the orphan v{n+1} dir is swept by a later
    promotion's GC, which retains only the new version and the one the
    pointer named just before the swap); a crash after it has already
    completed the publish.
    """
    from realtime_spark.operators.quality_checks import run_checks

    spark = df.sparkSession
    staging = os.path.join(base_dir, "staging")
    shutil.rmtree(staging, ignore_errors=True)

    df.write.mode("overwrite").parquet(staging)

    staged = spark.read.parquet(staging)
    audit = run_checks(staged, "dataset", checks)
    rows = [r.asDict() for r in audit.collect()]
    failures = [r for r in rows if not r["ok"]]
    if failures:
        raise AuditFailure(failures)

    # promote: move audited staging into an immutable version dir, then
    # swap the pointer with ONE atomic replace.
    vs = _version_dirs(base_dir)
    nxt = (vs[-1] + 1) if vs else 0
    vdir = os.path.join(base_dir, f"v{nxt}")
    # the version the pointer names RIGHT NOW is what in-flight readers
    # resolved — it, not the highest-numbered dir, is the predecessor to
    # retain (a crash between rename and pointer swap leaves an orphan
    # dir above the published one; keying GC off the listing would retain
    # the orphan and delete the live predecessor)
    prev = _current_version(base_dir)
    os.replace(staging, vdir)
    tmp_ptr = os.path.join(base_dir, f"_{_POINTER}.tmp")
    with open(tmp_ptr, "w") as fh:
        fh.write(f"v{nxt}")
    os.replace(tmp_ptr, os.path.join(base_dir, _POINTER))
    # GC: keep the new version and the outgoing pointer target (in-flight
    # readers of the old pointer), drop everything else — including
    # crash-orphaned dirs that were staged but never published.
    for v in vs:
        if v not in (nxt, prev):
            shutil.rmtree(os.path.join(base_dir, f"v{v}"), ignore_errors=True)
    # the staged files just moved to vdir: return a materialized audit
    # frame (collected rows), not a plan over the renamed-away staging path
    return spark.createDataFrame([tuple(r.values()) for r in rows], audit.schema)


def read_published(spark: SparkSession, base_dir: str) -> DataFrame:
    cur = _current_version(base_dir)
    if cur is not None:
        return spark.read.parquet(os.path.join(base_dir, f"v{cur}"))
    # legacy layout (pre-pointer): a plain published/ directory
    return spark.read.parquet(os.path.join(base_dir, "published"))
