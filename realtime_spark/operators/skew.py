"""Skew mitigation for shuffle joins: explicit key salting.

At 100 TB a handful of hot keys (one viral topic, one mega-tenant) can pin
an entire shuffle join on one reducer. Two remedies, in preference order:

1. **AQE skew-join** (`spark.sql.adaptive.skewJoin.enabled`, on in
   session.tune_session): splits oversized partitions at runtime. Use it
   first — zero code.
2. **Explicit salting** (this module): when AQE can't help — e.g. the skew
   is in a `groupBy` feeding the join, or the build side must be replicated
   anyway — spread each hot key over `salt` sub-keys and replicate the
   other side `salt`×.

`salted_join` is deterministic: the salt is `xxhash64(row) % salt`, not
rand(), so retries/recomputations of a lost partition produce identical
results (a rand() salt breaks exactly-once under task retry — the shuffle
files no longer agree between attempts).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    skewed: DataFrame,
    other: DataFrame,
    on: Sequence[str],
    salt: int = 8,
) -> DataFrame:
    """Inner equi-join where `skewed` has hot keys: each skewed row gets a
    deterministic salt bucket, `other` is replicated `salt`x, and the join
    runs on (keys + salt bucket) — hot keys spread over `salt` reducers.

    Replication multiplies the non-skewed side's shuffle volume by `salt`;
    use only when `other` is much smaller than the skewed side's hot keys
    (but too big / too dynamic to broadcast outright).

    The salt mixes a row hash with the partition id so full-duplicate hot
    rows (e.g. a pre-projected key-only frame, where a pure content hash
    would be constant per key) still spread; duplicates WITHIN a partition
    share a bucket, which the partitioner already bounds.
    """
    on = list(on)
    l = skewed.withColumn(
        "_salt",
        F.pmod(
            F.xxhash64(*[F.col(c) for c in skewed.columns])
            + F.spark_partition_id(),
            F.lit(salt),
        ),
    )
    r = other.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("bigint") for i in range(salt)]))
    )
    return l.join(r, on + ["_salt"], "inner").drop("_salt")


def skew_stats(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Pre-join skew diagnostics for a candidate shuffle key: one row with

        n_rows, n_keys, max_cnt, mean_cnt_floor, skew_factor_floor
        (= floor(max/mean)), suggested_salt (= ceil((max*n_keys/n_rows)/4),
        1 when balanced)

    skew_factor ~ the slowdown of the hottest reducer vs the average; the
    salt suggestion targets <= 4x residual imbalance. Two map-side-combined
    aggregations (per-key counts -> scalar fold); the key frame never
    carries payload columns, so the probe costs one narrow shuffle however
    wide the table is. Run it BEFORE choosing salted_join vs trusting AQE.
    All-integer except the final ratios — engine-reproducible."""
    counts = df.groupBy(*[F.col(k) for k in keys]).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return counts.agg(
        F.sum("cnt").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("cnt").alias("max_cnt"),
    ).select(
        "n_rows",
        "n_keys",
        "max_cnt",
        F.floor(F.col("n_rows") / F.col("n_keys")).alias("mean_cnt_floor"),
        # DECIMAL(38,0) product: max_cnt * n_keys overflows int64 exactly in
        # the huge-corpus high-cardinality regime this probe targets (a
        # wrapped negative would suggest salt=1 on the most skewed input)
        F.floor(
            F.col("max_cnt").cast("decimal(38,0)")
            * F.col("n_keys")
            / F.col("n_rows")
        ).alias("skew_factor_floor"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.ceil(
                F.col("max_cnt").cast("decimal(38,0)")
                * F.col("n_keys")
                / F.col("n_rows")
                / 4
            ).cast("bigint"),
        ).alias("suggested_salt"),
    )
