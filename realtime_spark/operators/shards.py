"""Training-shard writer: the dataloader-facing sink of the corpus pipeline.

A cleaned corpus is consumed by data loaders that want (a) a deterministic
global order (resume from step N without replaying), (b) size-bounded files
(loader parallelism = file count, no 100 GB stragglers), and (c) in-file
order matching the global permutation. `training_order` (sampling.py)
computes the (shard, position) permutation; this module materializes it:

    write_training_shards: one output file per shard, rows sorted by
    position INSIDE each file — repartition on shard + sortWithinPartitions,
    so the only movement is one hash exchange; no global sort ever happens.

Scale notes (100 TB):
- file count = n_shards, chosen so corpus/n_shards ~ 256 MB-1 GB per file.
- partitionBy(shard) writes each shard's file independently; with
  maxRecordsPerFile as a safety bound an oversized shard splits rather
  than OOMing a writer task.
- the manifest (per-shard row counts + digests) is tiny and lets a loader
  verify completeness before an epoch starts; re-derived from the written
  files so it certifies what is actually on disk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_spark.operators.sampling import training_order


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int,
) -> None:
    """Materialize the deterministic training permutation to disk: parquet
    partitioned by `shard`, rows sorted by `position` within each file."""
    ordered = training_order(df, key_col, n_shards)
    (
        # range-partition on the shard id: hash-partitioning the id leaves
        # ~1/e of the write tasks empty and others carrying 2-3 shards
        # (balls-in-bins), breaking the one-balanced-file-per-task shape;
        # ranges over the uniform 0..n_shards-1 ids map ~one shard per task
        ordered.repartitionByRange(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "position")
        .write.mode("overwrite")
        .option("maxRecordsPerFile", "1000000")
        .partitionBy("shard")
        .parquet(path)
    )


def read_training_shards(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def shard_manifest(spark: SparkSession, path: str, key_col: str) -> DataFrame:
    """Per-shard certification manifest from the WRITTEN files: row count,
    min/max position, and an order-insensitive key digest. A loader compares
    this against the expected permutation before starting an epoch."""
    df = spark.read.parquet(path)
    return df.groupBy("shard").agg(
        F.count(F.lit(1)).alias("rows"),
        F.min("position").alias("min_pos"),
        F.max("position").alias("max_pos"),
        # decimal accumulator: ANSI mode makes a bigint SUM of 64-bit hashes
        # throw on overflow; decimal(38,0) never overflows at any shard size
        F.sum(
            F.xxhash64(F.col(key_col).cast("string")).cast("decimal(38,0)")
        ).alias("key_digest"),
    )


def _permuted_tokens(
    df: DataFrame,
    key_col: str,
    n_shards: int,
) -> DataFrame:
    """Shared base projection of the token-layout operators: (key,
    n_tokens, shard, _ord) under the SAME permutation spec as
    `training_order` (sampling.hash_bucket on the key for both the shard
    and the order tie-break) — the single place that contract lives, so
    pack_token_windows and length_bucket_batches cannot drift apart.
    Tokens are the whitespace count every pipeline reports."""
    from realtime_spark.operators.sampling import hash_bucket
    from realtime_spark.operators.text import whitespace_token_count

    n_tok = whitespace_token_count(F.col("text")).cast("bigint")
    key = F.col(key_col)
    return df.select(
        key,
        n_tok.alias("n_tokens"),
        hash_bucket(key, n_shards).alias("shard"),
        hash_bucket(key, 2**60).alias("_ord"),
    )


def pack_token_windows(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    seq_len: int,
) -> DataFrame:
    """Concatenate-and-chunk sequence packing LAYOUT: lay the corpus out as a
    token stream in the deterministic training order and cut it into
    fixed `seq_len` windows — the standard LM pretraining layout, where a
    document may straddle window boundaries and a window holds fragments
    of several documents. (Whole-document greedy binning — no straddling,
    each doc in exactly one pack — is the sibling
    `text.pack_by_token_budget`; this operator models the token-level
    placement that binning cannot: offsets, spans, continuations.) Returns one row per document with its placement:

        (key, shard, position, n_tokens, start_tok,
         first_window, last_window, window_offset, n_windows)

    `start_tok` is the exclusive per-shard prefix sum of token counts;
    windows are shard-local (window w = tokens [w*L, (w+1)*L) of that
    shard's stream). Zero-token documents contribute nothing to the
    stream and are dropped.

    Scale shape (100 TB): packing is shard-confined — the prefix sum is a
    window over (shard, position), the SAME partitioning `training_order`
    already produced, so the whole operator is ONE hash exchange on the
    shard id plus per-shard sorts; a corpus-global prefix sum (one giant
    ordered window) never appears. n_shards is chosen so one shard's rows
    fit an executor sort spill budget, exactly like write_training_shards.
    Tokens are the whitespace token count every pipeline reports.

    The permutation is re-derived here (same hash spec as
    `training_order`, positions identical) rather than layered on top of
    it: windowing by an expression makes Spark stage it as a fresh
    internal attribute, and the prefix-sum window then cannot prove it is
    already partitioned by the same key — a second full shuffle. Deriving
    shard/order as named attributes first lets both windows share one
    exchange + one sort (asserted by tests)."""
    from pyspark.sql import Window

    base = _permuted_tokens(df, key_col, n_shards)
    # both windows share (shard, (_ord, key)) — position numbers the FULL
    # permutation (matching training_order / the materialized shards), the
    # prefix sum runs over the surviving token stream
    w_pos = Window.partitionBy("shard").orderBy("_ord", key_col)
    w_sum = w_pos.rowsBetween(Window.unboundedPreceding, -1)
    placed = (
        base.withColumn("position", F.row_number().over(w_pos))
        .filter(F.col("n_tokens") > 0)
        .withColumn(
            "start_tok", F.coalesce(F.sum("n_tokens").over(w_sum), F.lit(0))
        )
        .withColumn("first_window", F.expr(f"start_tok div {seq_len}"))
        .withColumn(
            "last_window",
            F.expr(f"(start_tok + n_tokens - 1) div {seq_len}"),
        )
    )
    return placed.select(
        key_col,
        "shard",
        "position",
        "n_tokens",
        "start_tok",
        "first_window",
        "last_window",
        (F.col("start_tok") % seq_len).alias("window_offset"),
        (F.col("last_window") - F.col("first_window") + 1).alias("n_windows"),
    )


def packed_window_stats(packed: DataFrame, seq_len: int) -> DataFrame:
    """Per-(shard, window) fill accounting over a `pack_token_windows` layout:
    how many documents touch the window, how many tokens of it are
    occupied (== seq_len everywhere except each shard's final window),
    and how many of its documents are continuations that started in an
    earlier window — the fragmentation statistic packing-aware loaders
    and attention-mask builders need.

    The explode is bounded: a document spanning W windows emits W rows,
    and sum(W) <= total_tokens/seq_len + n_docs, so the fan-out is linear
    in the corpus, shard-confined, and aggregated by the same shard key —
    one exchange."""
    spans = packed.select(
        "shard",
        "start_tok",
        "n_tokens",
        F.explode(
            F.sequence(F.col("first_window"), F.col("last_window"))
        ).alias("window"),
    )
    lo = F.col("window") * seq_len
    hi = (F.col("window") + 1) * seq_len
    occupied = F.least(F.col("start_tok") + F.col("n_tokens"), hi) - F.greatest(
        F.col("start_tok"), lo
    )
    return (
        spans.groupBy("shard", "window")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(occupied).alias("tokens_filled"),
            F.sum(
                (F.col("start_tok") < lo).cast("int")
            ).alias("n_continuations"),
        )
    )


def length_bucket_batches(
    df: DataFrame,
    key_col: str,
    n_shards: int,
    batch_size: int,
    boundaries: list[int],
) -> DataFrame:
    """Length-bucketed batching: group documents of similar token length
    into fixed-size batches so per-batch padding (to the batch max) stays
    small — the standard finetuning/eval loader layout, where batching by
    arrival order wastes most of the batch on pad tokens.

    `boundaries` are ascending upper-exclusive bucket edges: with
    [64, 128] a 63-token doc is bucket 0, 64..127 bucket 1, >=128 bucket
    2. Within each (bucket, shard) the deterministic permutation order
    (same hash spec as `training_order`) numbers rows into batches of
    `batch_size`; the final batch of each (bucket, shard) may be short.
    Zero-token documents are dropped (nothing to batch). Returns

        (key, n_tokens, bucket, shard, batch_id, pos_in_batch)

    Scale shape (100 TB): bucketing alone would shuffle the corpus into
    len(boundaries)+1 partitions — a skew wall; sub-sharding by the same
    hash as `training_order` keeps (bucket, shard) cells executor-sized
    while preserving loader semantics (batches are simply spread across
    shards). One exchange, per-cell sorts."""
    from pyspark.sql import Window

    bucket = F.lit(len(boundaries))
    for i, edge in reversed(list(enumerate(boundaries))):
        bucket = F.when(F.col("n_tokens") < edge, i).otherwise(bucket)
    base = _permuted_tokens(df, key_col, n_shards).filter(
        F.col("n_tokens") > 0
    )
    w = Window.partitionBy("bucket", "shard").orderBy("_ord", key_col)
    return (
        base.withColumn("bucket", bucket.cast("int"))
        .withColumn("_rn", F.row_number().over(w) - 1)
        .select(
            key_col,
            "n_tokens",
            "bucket",
            "shard",
            F.expr(f"_rn div {batch_size}").alias("batch_id"),
            (F.col("_rn") % batch_size).alias("pos_in_batch"),
        )
    )


def batch_padding_stats(batched: DataFrame) -> DataFrame:
    """Padding-waste accounting over a `length_bucket_batches` layout,
    aggregated per bucket: batches, docs, real tokens, and the pad tokens
    a to-the-batch-max collator would add. All-integer outputs so the
    numbers fold exactly at any scale (ratios are the reader's division).
    Two-level aggregation — per-batch max first, then per-bucket sums —
    both on the (bucket, shard) key already in hand: one partial-agg
    shuffle each, no wide rows."""
    per_batch = batched.groupBy("bucket", "shard", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").alias("batch_max"),
        F.sum("n_tokens").alias("batch_tokens"),
    )
    return per_batch.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_batches"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("batch_tokens").cast("bigint").alias("real_tokens"),
        F.sum(
            F.col("batch_max") * F.col("n_docs") - F.col("batch_tokens")
        ).cast("bigint").alias("pad_tokens"),
    )
