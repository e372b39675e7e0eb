"""Local replica of the driver's duckdb-oracle comparison so we catch
mismatches before the driver does: row-count + schema-width + column-name-
sorted, row-order-insensitive value comparison."""

from __future__ import annotations

import math
import os

import duckdb

from realtime_spark.session import physical_memory_bytes
from realtime_spark.sources.testdata import TABLES


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if v is None:
        return None
    # float vs int stay DISTINCT (the driver hashes "123.0" != "123"; DuckDB
    # SUM(BIGINT) -> HUGEINT reaches pandas as float64 — oracles must CAST)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # + 0.0 folds -0.0: engines may disagree on the SIGN of a zero
        # (summation-order noise rounded to zero), which is equal under ==
        # but sorts/reprs differently and would misalign the row zip
        return ("f", round(v, 9) + 0.0)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return v


def default_oracle_workers() -> int:
    """Concurrent oracle comparisons for this host: up to 6, one per two
    cores of SPARK_GRAFT_CPUS and one per 4 GiB of physical memory (every
    worker adds Spark jobs in the shared JVM plus a DuckDB connection)."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or os.cpu_count() or 4
    mem_gib = physical_memory_bytes() // 2**30
    return max(1, min(6, cpus // 2, mem_gib // 4))


def run_oracle_matrix(
    spark,
    sf_dir: str,
    names,
    queries: dict,
    oracles: dict,
    workers: int | None = None,
) -> dict:
    """Run the (spark query, duckdb oracle) comparisons for `names`
    CONCURRENTLY over one shared SparkSession and return
    {name: None | Exception} — None means the comparison passed.

    This is the optimization guide's section 2.6 ("overlap independent
    jobs") applied to the test harness itself: each comparison is one
    small Spark job plus a single-threaded DuckDB replay plus a driver-side
    pandas diff, so serial per-test execution left the box ~80% idle; a
    small thread pool overlaps one query's DuckDB/pandas tail with the next
    query's Spark stages. Results are unaffected: queries share the session
    but own disjoint scratch roots / view names, partition-count races from
    scoped confs change file counts only, and each worker uses its own
    DuckDB connection. The default worker count is fitted to the host
    (`default_oracle_workers`); SPARK_GRAFT_ORACLE_WORKERS overrides it,
    and =1 restores serial execution for debugging."""
    from concurrent.futures import ThreadPoolExecutor

    if workers is None:
        workers = int(
            os.environ.get("SPARK_GRAFT_ORACLE_WORKERS") or default_oracle_workers()
        )

    def one(name: str):
        con = duckdb_con(sf_dir)
        try:
            df = queries[name](spark, sf_dir)
            if name not in oracles:
                assert df.count() >= 0  # rows-only check
            else:
                compare(df, con, oracles[name], name)
            return None
        except Exception as e:
            return e
        finally:
            con.close()

    if workers <= 1:
        return {n: one(n) for n in names}
    with ThreadPoolExecutor(max_workers=workers) as pool:
        futs = [(n, pool.submit(one, n)) for n in names]
        return {n: f.result() for n, f in futs}


def compare(spark_df, con, sql: str, name: str = "?") -> None:
    sdf = spark_df.toPandas()
    odf = con.execute(sql).df()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} != oracle {len(odf)}"
    s_cols = sorted(sdf.columns)
    o_cols = sorted(odf.columns)
    assert s_cols == o_cols, f"{name}: columns {s_cols} != oracle {o_cols}"
    s_rows = sorted(
        (tuple(_norm(v) for v in row) for row in sdf[s_cols].itertuples(index=False)),
        key=repr,
    )
    o_rows = sorted(
        (tuple(_norm(v) for v in row) for row in odf[o_cols].itertuples(index=False)),
        key=repr,
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"
