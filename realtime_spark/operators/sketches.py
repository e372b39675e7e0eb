"""Deterministic probabilistic sketches: count-min and Bloom membership.

At 100 TB, exact per-key counting and exact membership pre-filters are
sometimes the dominant shuffle (e.g. token frequencies for LM scoring,
"have we already ingested this digest" checks before dedup). Sketches cap
that cost: a count-min sketch is depth x width counters regardless of key
cardinality; a Bloom filter is m bits regardless of set size. Both are
usually unverifiable against an exact oracle — unless the hash family is
engine-stable. Here every hash is `md5("<i>:" || key)` truncated to 60
bits, which DuckDB reproduces exactly (`('0x' || substr(md5(...),1,15))
::BIGINT`), so the sketch CONTENTS — including every collision and every
false positive — are oracle-checkable, not just the sketch's error bound.

Scale shape:
- build: one explode (depth rows per item) -> map-side-combined groupBy
  over (depth x width) cells; the shuffle carries at most d*w aggregates
  per partition, independent of input size.
- probe: the built sketch is at most d*w (CMS) or m (Bloom positions)
  rows — broadcast; probing is a per-row hash + broadcast lookup, no
  shuffle of the probe stream.
- The Bloom bitset is represented relationally as the set of occupied bit
  positions (<= m rows) rather than packed words: identical semantics and
  FP behavior, and the representation stays joinable/broadcastable.

Reference anchor: the reference has no sketches (SURVEY §2.4 "no
approximate sketches") — this is a beyond-reference family for the
training-data north star.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def stable_hash(col: Column, seed: Column | int, mod: int) -> Column:
    """60-bit md5-based universal hash, identical in Spark and DuckDB SQL:
    ('0x' || substr(md5(seed || ':' || key), 1, 15))::BIGINT % mod."""
    seed_c = seed if isinstance(seed, Column) else F.lit(str(seed))
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(seed_c.cast("string"), F.lit(":"), col)), 1, 15
            ),
            16,
            10,
        ).cast("bigint")
        % F.lit(mod)
    )


def sql_stable_hash(key_sql: str, seed_sql: str, mod: int) -> str:
    """DuckDB mirror of stable_hash (seed/key given as SQL fragments)."""
    return (
        f"('0x' || substr(md5(CAST({seed_sql} AS VARCHAR) || ':' || {key_sql}),"
        f" 1, 15))::BIGINT % {mod}"
    )


# ---------------------------------------------------------------------------
# count-min sketch
# ---------------------------------------------------------------------------


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Build a count-min sketch over `key_col`: (i, bucket, cnt) with
    i < depth, bucket < width, cnt = rows hashing there."""
    cells = df.select(
        F.col(key_col).cast("string").alias("_k"),
        F.lit(1).cast("bigint").alias("_w"),
    ).select(
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda i: stable_hash(F.col("_k"), i, width),
            )
        ).alias("i", "bucket"),
        "_w",
    )
    return cells.groupBy("i", "bucket").agg(F.sum("_w").alias("cnt"))


def cms_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, depth: int = 4, width: int = 256
) -> DataFrame:
    """Point-estimate each key: min over rows of its bucket counters.
    The sketch (<= depth x width rows) is broadcast; unseen buckets read 0.
    Output: keys + (est bigint)."""
    probes = keys.select(
        F.col(key_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(depth - 1)),
                lambda i: stable_hash(F.col(key_col).cast("string"), i, width),
            )
        ).alias("i", "bucket"),
    )
    joined = probes.join(F.broadcast(sketch), ["i", "bucket"], "left")
    return joined.groupBy(key_col).agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est")
    )


# ---------------------------------------------------------------------------
# Bloom filter (relational bitset: occupied positions)
# ---------------------------------------------------------------------------


def _hll_rho(w: Column, quotient_bits: int) -> Column:
    """Leading-zero rank of a `quotient_bits`-wide value: rho = clz(w) + 1,
    capped at quotient_bits. Engine-stable via bin(): both Spark and DuckDB
    render the minimal binary string ('0' for zero), so the single
    expression quotient_bits + 1 - length(bin(w)) is the capped rank for
    every w >= 0 — the all-zeros word lands on the cap with no branch, and
    the cap keeps 2^(quotient_bits - rho) an exact integer."""
    return (F.lit(quotient_bits + 1) - F.length(F.bin(w))).cast("int")


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: Sequence[str] = (),
    precision: int = 8,
) -> DataFrame:
    """HyperLogLog register table per group: (*group_cols, j, rho) with
    j < 2^precision and rho = max leading-zero rank of keys hashing to j.

    The 60-bit stable hash splits into bucket (low `precision` bits) and a
    (60 - precision)-bit quotient whose leading-zero rank feeds the register.
    Registers are max-aggregated, so the build is one map-side-combined
    groupBy carrying at most |groups| x 2^precision rows through the shuffle
    regardless of input size — the whole point at 100 TB, where exact
    COUNT(DISTINCT) shuffles every distinct key. Registers from disjoint
    shards union+max-merge losslessly (sketch mergeability)."""
    m = 1 << precision
    qbits = 60 - precision
    h = stable_hash(F.col(key_col).cast("string"), F.lit(""), 1 << 60)
    return (
        # NULL keys hash to NULL and would emit a phantom (j=NULL, rho=NULL)
        # register that inflates n_registers while the NULL rho skips the
        # sum — both estimator branches drift; COUNT(DISTINCT) ignores
        # NULLs, so the sketch must too
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, h.alias("_h"))
        .select(
            *group_cols,
            (F.col("_h") % m).alias("j"),
            _hll_rho(F.shiftright(F.col("_h"), precision), qbits).alias("_rho"),
        )
        .groupBy(*group_cols, "j")
        .agg(F.max("_rho").alias("rho"))
    )


def hll_estimate(
    registers: DataFrame, group_cols: Sequence[str] = (), precision: int = 8
) -> DataFrame:
    """Cardinality estimate per group from a register table.

    The harmonic sum S = sum_j 2^-M_j is computed as an exact integer
    (each term scaled by 2^qbits: shiftleft(1, qbits - rho), empty
    registers contribute 2^qbits), so the only float op is the final
    division — engine-deterministic, no float-summation order issues.
    Flajolet's small-range linear-counting correction applies when
    E <= 2.5m and empty registers exist. Output: (*group_cols,
    n_registers, est bigint)."""
    m = 1 << precision
    qbits = 60 - precision
    alpha = 0.7213 / (1.0 + 1.079 / m)  # standard bias constant, m >= 128
    per_group = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_registers"),
        F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {qbits} - rho)")).alias("_s_used"),
    )
    zeros = F.lit(m) - F.col("n_registers")
    s_scaled = F.col("_s_used") + zeros * F.shiftleft(F.lit(1).cast("bigint"), qbits)
    raw = F.lit(alpha * m * m) / (
        F.col("s_scaled_d") / F.lit(float(1 << qbits))
    )
    est = F.when(
        (F.col("_raw") <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(F.col("_raw"))
    return (
        per_group.withColumn("s_scaled_d", s_scaled.cast("double"))
        .withColumn("_raw", raw)
        .withColumn("est", F.round(est).cast("bigint"))
        .select(*group_cols, "n_registers", "est")
    )


def bloom_build(
    df: DataFrame, key_col: str, num_hashes: int = 3, num_bits: int = 2048
) -> DataFrame:
    """Occupied bit positions of a Bloom filter over `key_col`
    (<= num_bits rows): (bitpos bigint)."""
    return (
        df.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                    lambda i: stable_hash(F.col(key_col).cast("string"), i, num_bits),
                )
            ).alias("bitpos")
        )
        .distinct()
    )


def bloom_maybe_contains(
    bloom: DataFrame,
    keys: DataFrame,
    key_col: str,
    num_hashes: int = 3,
    num_bits: int = 2048,
) -> DataFrame:
    """Probe: a key is 'maybe present' iff ALL its bit positions are set.
    The position set is broadcast; no shuffle of the probe stream beyond
    the per-key regroup. Output: keys + (maybe_present boolean)."""
    probes = keys.select(
        F.col(key_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(num_hashes - 1)),
                lambda i: stable_hash(F.col(key_col).cast("string"), i, num_bits),
            )
        ).alias("bitpos"),
    )
    hit = probes.join(
        F.broadcast(bloom.withColumn("_set", F.lit(1))), "bitpos", "left"
    )
    # MIN==1 (not SUM==k): 'all probed positions are set' must hold per
    # DISTINCT key — a key appearing twice in `keys` doubles the exploded
    # rows and a SUM==k test then reports a true member as absent
    return hit.groupBy(key_col).agg(
        (F.min(F.coalesce(F.col("_set"), F.lit(0))) == F.lit(1)).alias(
            "maybe_present"
        )
    )
