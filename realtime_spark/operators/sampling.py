"""Deterministic sampling / split-assignment operators for training-data
pipelines (beyond-reference, BASELINE.json north star).

Everything is hash-based and therefore (a) reproducible across engines — the
DuckDB oracle recomputes the identical md5-derived bucket — and (b) map-only:
no shuffle, no RNG state, no driver coordination. At 100 TB a fraction-based
sample or split assignment must not depend on row order or partition layout;
a content hash of the stable key is the only scale-safe way to do it.

  - hash_bucket:   key -> uniform bucket in [0, buckets) via md5 (60-bit prefix)
  - hash_sample:   keep rows whose bucket < fraction * buckets (map-only)
  - stratified_sample: per-stratum fractions (map-only; one small CASE)
  - split_assign:  train/val/test split by cumulative weight ranges (map-only)
  - sample_n_per_group: exactly-n deterministic rows per group (one shuffle on
    the group key; hash order makes the pick stable, not first-seen order)
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_BUCKETS = 10_000


def hash_bucket(key: Column, buckets: int = _BUCKETS) -> Column:
    """Uniform deterministic bucket in [0, buckets): first 15 md5 hex chars
    (60 bits, always positive) of the key's string form, mod buckets.
    SQL mirror: ('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 15))::BIGINT % n.
    """
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10)
        .cast("bigint") % buckets
    )


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Deterministic ~fraction sample keyed on `key_col`. Map-only: the
    predicate reaches the scan (partition/row-group pruning applies when the
    key correlates with layout)."""
    # round, don't truncate: 0.29 * 10000 is 2899.999... in binary floats
    # and int() would keep one bucket too few
    return df.filter(
        hash_bucket(F.col(key_col)) < int(round(fraction * _BUCKETS))
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: Mapping[str, float],
    key_col: str,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic sampling: each stratum keeps its own
    fraction (e.g. downsample boilerplate-heavy sources, keep rare ones).
    Map-only; the stratum threshold is a small CASE expression."""
    thresh: Column = F.lit(int(round(default_fraction * _BUCKETS)))
    for stratum, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata_col) == stratum, F.lit(int(round(frac * _BUCKETS)))
        ).otherwise(thresh)
    return df.filter(hash_bucket(F.col(key_col)) < thresh)


def split_assign(
    df: DataFrame,
    key_col: str,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.98), ("val", 0.01), ("test", 0.01),
    ),
    out_col: str = "split",
) -> DataFrame:
    """Assign every row to a named split by cumulative hash-bucket ranges.
    Weights must sum to <= 1; any remainder falls into the last split.
    Deterministic per key: the same document always lands in the same split
    regardless of cluster size, partitioning, or run count."""
    b = hash_bucket(F.col(key_col))
    expr: Column | None = None
    cum = 0.0
    for name, w in splits[:-1]:
        cum += w
        cond = b < int(round(cum * _BUCKETS))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = splits[-1][0]
    out = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(out_col, out)


def cluster_split(
    df: DataFrame,
    key_col: str,
    clusters: DataFrame,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.98), ("val", 0.01), ("test", 0.01),
    ),
    out_col: str = "split",
) -> DataFrame:
    """LEAKAGE-FREE split: every member of a near-dup cluster lands in the
    same split, so no eval example has a near-duplicate in train (the
    contamination a naive per-doc hash split guarantees at 100 TB dup
    rates). The split key is the cluster REPRESENTATIVE — cluster_id for
    clustered docs (dedup.duplicate_clusters output), the doc's own key
    otherwise — hashed through the same cumulative-bucket ranges as
    split_assign, so unclustered docs split identically to split_assign.

    `clusters` is (doc_id, cluster_id) over PAIR MEMBERS ONLY (docs in no
    near-dup pair never appear), which is tiny next to the corpus — the
    join is a broadcast, and the whole operator stays map-only."""
    c = clusters.select(
        F.col("doc_id").alias(key_col), F.col("cluster_id").alias("__rep")
    )
    joined = df.join(F.broadcast(c), key_col, "left")
    b = hash_bucket(F.coalesce(F.col("__rep"), F.col(key_col)))
    expr: Column | None = None
    cum = 0.0
    for name, w in splits[:-1]:
        cum += w
        cond = b < int(round(cum * _BUCKETS))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = splits[-1][0]
    out = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return joined.withColumn(out_col, out).drop("__rep")


def sample_n_per_group(
    df: DataFrame, group_col: str, key_col: str, n: int
) -> DataFrame:
    """Exactly min(n, |group|) rows per group, picked by hash order of the
    key (stable across partitioning). One shuffle on the group key; at scale
    this is the standard per-source cap ("at most N docs per domain")."""
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col), 2**60), F.col(key_col)
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .drop("_rn")
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    key_col: str,
    budget: int,
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-scaled domain mixing: sample ~budget rows total with
    per-group take counts proportional to (group share)^alpha — the standard
    multilingual/multi-domain pretraining reweighting (alpha < 1 upsamples
    small domains relative to their natural share; alpha = 1 is natural
    sampling, alpha = 0 uniform).

    take_k(g) = (budget * w_g) div (sum_h w_h) with integer weights
    w_g = floor(n_g^alpha * 1e6), rows picked by deterministic hash order of
    `key_col` within each group. Weights are quantized to integers BEFORE
    the normalizing sum so take counts are exact integer arithmetic —
    a floating z would depend on summation order and could flip a floor at
    a boundary between engines/partitionings.

    Scale shape: group counts are a map-side-combined aggregate collapsed to
    a |groups|-row dimension; weights compute on that tiny frame and
    broadcast-join back; the per-group take is ONE row_number window whose
    partition key is the group — the same single shuffle the cap operator
    pays. Wall-clock is indistinguishable from sample_n_per_group.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n_g"))
    # pow with alpha=0.5 is sqrt (IEEE correctly rounded — engine-identical);
    # floor(x * 1e6) quantizes to an exact bigint weight
    counts = counts.withColumn(
        "_wi",
        F.floor(F.pow(F.col("_n_g"), F.lit(alpha)) * F.lit(1e6)).cast("bigint"),
    )
    total = counts.agg(F.sum("_wi").alias("_z"))
    takes = counts.crossJoin(F.broadcast(total)).select(
        group_col,
        "_n_g",
        # DECIMAL(38,0) intermediate: budget * _wi exceeds int64 as soon as
        # budget x weight reaches ~9.2e18 (e.g. a 1e9-row budget against a
        # 1e10-row group), and the silent non-ANSI wraparound would yield a
        # negative take that samples zero rows; div's bigint result is fine
        # because take_k <= budget
        F.expr(
            f"CAST((CAST({int(budget)} AS DECIMAL(38,0)) * _wi) DIV _z AS BIGINT)"
        ).alias("_take_k"),
    )
    w = Window.partitionBy(group_col).orderBy(
        hash_bucket(F.col(key_col), 2**60), F.col(key_col)
    )
    ranked = df.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(takes), group_col)
        .filter(F.col("_rn") <= F.least(F.col("_take_k"), F.col("_n_g")))
        .drop("_n_g", "_take_k")
        .withColumnRenamed("_rn", "mix_rank")
    )


def training_order(
    df: DataFrame, key_col: str, n_shards: int
) -> DataFrame:
    """Deterministic global training order as (shard, position): shard by
    hash of the key, position by hash order within the shard. Equivalent to
    one global pseudo-random permutation, but the only sort is per-shard —
    a global row_number would serialize 100 TB through one partition, while
    this shape is n_shards independent sorts that each fit an executor.
    Readers stream shards round-robin to consume the permutation."""
    shard = hash_bucket(F.col(key_col), n_shards)
    w = Window.partitionBy(shard).orderBy(
        hash_bucket(F.col(key_col), 2**60), F.col(key_col)
    )
    # payload columns ride along so the permutation can be materialized
    # (shards.write_training_shards) without a join back onto the corpus
    return df.select(
        "*",
        shard.alias("shard"),
        F.row_number().over(w).alias("position"),
    )


def weighted_sample_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight: Column,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling without replacement: keep the k rows
    per group with the smallest exponential clock

        priority = -ln(u) / w,   u = (h + 1) / 2^60  in (0, 1]

    where h is the stable 60-bit md5 hash of the key — the
    Efraimidis-Spirakis A-ES scheme with the RNG replaced by a content
    hash, so the 'random' draw is reproducible across engines, runs, and
    partitionings. P(row first) ∝ its weight; weights must be > 0.

    Map-only scoring + one top-k window on the group key (same shuffle
    shape as sample_n_per_group). Priorities are rounded to 9 digits
    and tie-broken by key so rank order is engine-stable (ln is evaluated
    on identical IEEE doubles both sides). Output: df + (priority double);
    at most k rows per group."""
    h = (
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 15), 16, 10)
        .cast("bigint")
    )
    # (h + 1) stays integer BEFORE the cast to double: double(h) + 1.0 and
    # double(h + 1) can differ by an ulp past 2^53, and the oracle does the
    # integer add first
    u = (h + F.lit(1)) / F.lit(float(1 << 60))
    pr = -F.log(u) / weight.cast("double")
    scale = float(10 ** 9)
    prq = F.floor(pr * scale + 0.5) / scale
    w = Window.partitionBy(group_col).orderBy(
        F.col("priority").asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("priority", prq)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
