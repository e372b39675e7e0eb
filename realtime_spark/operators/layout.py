"""Multi-dimensional data layout: Z-order (Morton) clustering and the
file-stats manifest that turns it into scan pruning.

Why this exists at 100 TB: engines skip data through per-file / per-row-group
min-max statistics. Sorting by ONE column gives tight ranges on that column
only; interleaving the bits of SEVERAL columns (Z-order) gives
moderately-tight ranges on ALL of them, so selective predicates on any
clustered dimension prune most files (the Delta/Iceberg OPTIMIZE ZORDER
pattern, e.g. delta-io/delta OptimizeTableCommand). Spark-first shape:

  - the Z-key is a pure JVM bit-interleave expression (codegen, no UDF);
  - clustering = repartitionByRange(z) + sortWithinPartitions(z): ONE range
    shuffle, then each task writes one locality-tight file;
  - the manifest (per-file min/max of the clustered columns) is computed
    relationally from `input_file_name()` — the same stats parquet footers
    carry, materialized queryably;
  - pruning = a broadcast-size manifest filter that yields the file list a
    predicate must read; `files_matching` reports it (tested: a box
    predicate on a Z-ordered layout reads a fraction of the files a
    single-column sort must).

The reference has no storage layout control (its store is Postgres,
partitioned by day: lib/realtime/messages.ex:72-78 — time is the ONLY
clustered dimension); this generalizes that idea to arbitrary dimensions
for the training-data corpus.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_DEFAULT_BITS = 8


def minmax_code(x: Column, mn: Column, mx: Column, bits: int = _DEFAULT_BITS) -> Column:
    """Scale a numeric into an unsigned `bits`-bit code by corpus min/max:
    floor((x - mn) / (mx - mn) * (2^bits - 1) + 0.5); constant columns code
    to 0. floor(x+0.5) keeps Spark and DuckDB identical (no cast-rounding
    ambiguity)."""
    top = (1 << bits) - 1
    return (
        F.when(mx == mn, F.lit(0))
        .otherwise(
            F.floor((x.cast("double") - mn) / (mx - mn) * F.lit(float(top)) + 0.5)
        )
        .cast("bigint")
    )


def interleave_bits(codes: Sequence[Column], bits: int = _DEFAULT_BITS) -> Column:
    """Morton interleave of n `bits`-bit codes into one Z-key: output bit
    (b * n + i) takes bit b of codes[i] (codes[0] owns the most-significant
    position within each group). Pure arithmetic/bit expression — one
    codegen span, and mechanically mirrored in SQL by sql_interleave_bits."""
    n = len(codes)
    if n * bits > 63:
        # the top output bit would reach the bigint sign bit and the key
        # silently wraps negative (and the SQL mirror errors instead) —
        # shrink bits per column as dimensionality grows
        raise ValueError(
            f"z-key needs {n * bits} bits; use bits <= {63 // n} for {n} columns"
        )
    z = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(codes):
            pos = b * n + (n - 1 - i)
            bit = F.shiftright(c, b).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, pos)
    return z


def sql_interleave_bits(code_sqls: Sequence[str], bits: int = _DEFAULT_BITS) -> str:
    """DuckDB mirror of interleave_bits over SQL fragments."""
    n = len(code_sqls)
    terms = []
    for b in range(bits):
        for i, c in enumerate(code_sqls):
            pos = b * n + (n - 1 - i)
            terms.append(f"((({c} >> {b}) & 1) << {pos})")
    return "(" + " + ".join(terms) + ")"


def zorder_keys(
    df: DataFrame, cols: Sequence[str], bits: int = _DEFAULT_BITS
) -> DataFrame:
    """df + (z bigint): the Morton key over min/max-scaled codes of `cols`.
    The per-column min/max is one global aggregate folded to a single row
    and broadcast-cross-joined back — same shape as scalar quantization's
    stats pass; everything after is map-only."""
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c)).alias(f"_mn_{c}"), F.max(F.col(c)).alias(f"_mx_{c}")]
    stats = df.agg(*aggs)
    coded = df.crossJoin(F.broadcast(stats))
    codes = [
        minmax_code(
            F.col(c), F.col(f"_mn_{c}"), F.col(f"_mx_{c}"), bits
        )
        for c in cols
    ]
    return coded.withColumn("z", interleave_bits(codes, bits)).drop(
        *[f"_mn_{c}" for c in cols], *[f"_mx_{c}" for c in cols]
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 16,
) -> None:
    """Cluster and write: range-partition on the Z-key (one shuffle; range
    bounds from a sample, so files get ~equal rows even on skewed data),
    sort each partition by z, one file per partition. Parquet footers then
    carry tight min/max for EVERY clustered column in every file."""
    z = zorder_keys(df, cols)
    z.repartitionByRange(n_files, "z").sortWithinPartitions("z").write.mode(
        "overwrite"
    ).parquet(path)


def file_manifest(files_df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Per-file min/max stats of `cols` over a read-back frame: the queryable
    equivalent of the parquet footer stats a scan planner consults. Output:
    (file, *[mn_c, mx_c]) — |files| rows, broadcastable."""
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c)).alias(f"mn_{c}"), F.max(F.col(c)).alias(f"mx_{c}")]
    return files_df.groupBy(
        F.input_file_name().alias("file")
    ).agg(*aggs)


def files_matching(
    manifest: DataFrame, bounds: dict[str, tuple[float, float]]
) -> DataFrame:
    """The files a box predicate must read: file survives iff its [mn, mx]
    interval overlaps the predicate interval on EVERY bounded column —
    exactly the footer-stats pruning rule. Returns the manifest subset."""
    keep = F.lit(True)
    for c, (lo, hi) in sorted(bounds.items()):
        keep = keep & (F.col(f"mx_{c}") >= F.lit(lo)) & (F.col(f"mn_{c}") <= F.lit(hi))
    return manifest.filter(keep)
