"""Streaming search-index ingest: continuous inverted-index (BM25)
maintenance — the text-search member of the streaming ingest trio
(corpus ingest → vector ingest → search ingest).

Arriving document batches are tokenized ONCE into (term, doc, tf) postings
and per-doc lengths, written as per-epoch partition directories of the same
bucket-partitioned layout `write_postings_index` uses, so queries keep the
partition-pruned probe. Corpus statistics are stored as per-epoch PARTIALS
(n_docs, sum_dl — exact bigints) and folded at query time: BM25's global
terms (df_t, N, avgdl) are recomputed over the union, so scores served off
the growing store are BIT-IDENTICAL to a batch rebuild over the same
documents (asserted by the tests; the batch pair itself is DuckDB-oracled
via search_bm25 / search_bm25_index).

Exactly-once follows the store-lifecycle engine's epoch protocol
(streaming/compaction.py) — each epoch overwrites its own
``ingest_epoch=e{N}`` directories and a replay rewrites identical bytes.
The three per-epoch writes (postings, doclen, stats) are not mutually
atomic: a crash between them leaves a TORN epoch (e.g. doclen written but
its stats partial missing), visible to a concurrent reader as slightly
skewed avgdl/N until the checkpoint replay rewrites the epoch. Bounded to
the crash-recovery window and self-healing — the same transient the
corpus ingest's digest/lsh/accepted trio accepts by design.
The only store read while processing is a column-pruned doclen id scan
that rejects re-delivered doc ids (which would otherwise fan out the score
join and skew the summed stat partials); it excludes the batch's own epoch
so replays stay byte-identical.

Scale shape per micro-batch: one tokenize scan of the increment, one
map-side-combined postings aggregation, three epoch-owned writes. Query
cost is unchanged from the batch index: the probe reads only the query
terms' bucket partitions across epochs (partition pruning on `bucket`
within every ``ingest_epoch`` directory), the doclen side is doc-count
sized, and the stats fold touches |epochs| rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_spark.operators.search import (
    _bm25_rank,
    _term_bucket_col,
    _term_bucket_py,
    doc_lengths,
    postings,
)
from realtime_spark.streaming.compaction import (
    Epoch,
    Output,
    StoreSpec,
    drop_redelivered,
    in_parallel,
    read_store,
    run_store_stream,
)

ID, TEXT = "doc_id", "text"


def _sum_stats(df: DataFrame) -> DataFrame:
    # per-epoch exact-bigint partials sum into ONE base partial — the
    # query-time fold is unchanged and stays bit-identical
    return df.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("sum_dl").cast("bigint").alias("sum_dl"),
    )


SEARCH_STORE = StoreSpec((
    Output("postings", partition="bucket", sort=("bucket", "term")),
    Output("doclen"),
    Output("stats", fold=_sum_stats),
))


def _write_epoch(ep: Epoch, df: DataFrame) -> None:
    # the postings and doclen writes each tokenize the batch and are
    # independent of each other: overlap them (r11, see in_parallel); the
    # stats partial chains after doclen inside its thread. Crash states
    # are unchanged — the torn-epoch window (module docstring) already
    # admits any subset of the three dirs existing mid-epoch.
    def _write_postings() -> None:
        ep.write(
            "postings",
            postings(df, ID, TEXT).withColumn(
                "bucket", _term_bucket_col(F.col("term"))
            ),
        )

    def _write_doclen_and_stats() -> None:
        # exact-integer stat partials: the query-time fold sums bigints, so
        # the recombined avgdl is bit-identical to a batch avg over the
        # union. Folded from the epoch's OWN just-written doclen files
        # (r10, guide section 1.2): the lengths plan re-tokenizes the whole
        # batch — a third scan of the text per epoch for a 1-row aggregate;
        # reading back the (doc, dl) parquet it just wrote costs a
        # doc-count-sized scan instead and is byte-identical input, so
        # replays stay deterministic. The read-back schema is explicit (r10
        # ADVICE): a fully re-delivered batch leaves `df` empty after the
        # guard.
        lengths = ep.write_back("doclen", doc_lengths(df, ID, TEXT))
        ep.write(
            "stats",
            lengths.agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").cast("bigint").alias("sum_dl"),
            ),
        )

    in_parallel(_write_postings, _write_doclen_and_stats)


def seed_search_state(corpus: DataFrame, root: str) -> None:
    """Initialize the index from the standing corpus (run once)."""
    with SEARCH_STORE.epoch(corpus, None, root) as ep:
        _write_epoch(ep, corpus)


def process_search_batch(batch_df: DataFrame, epoch_id: int, root: str) -> None:
    """One micro-batch: tokenize, write epoch-owned postings/doclen/stats.

    A re-delivered doc id (seeding overlap, re-seeded source) must not be
    indexed twice — duplicate doclen rows would FAN OUT the score join and
    the summed stat partials would silently skew every document's BM25
    (the r6 review's twin of the vector-ingest re-delivery finding; within
    one batch as well as across epochs). ``drop_redelivered`` rejects ids
    a prior epoch indexed and keeps one row per id of the batch."""
    with SEARCH_STORE.epoch(batch_df, epoch_id, root) as ep:
        seen = ep.read("doclen").select(F.col("doc").alias(ID))
        _write_epoch(ep, drop_redelivered(batch_df, seen, ID, TEXT))


def run_search_ingest_stream(stream: DataFrame, root: str, checkpoint: str):
    """Wire the index-maintenance pipeline onto a streaming document source.
    Returns the started StreamingQuery; `seed_search_state` must have run."""
    return run_store_stream(
        SEARCH_STORE, stream, checkpoint, process_search_batch, root
    )


def bm25_topk_from_live_index(
    spark: SparkSession,
    root: str,
    query_terms: Sequence[str],
    k: int = 20,
) -> DataFrame:
    """BM25 top-k served off the growing store: query-term bucket partitions
    across every epoch, doc lengths across every epoch, and the global
    stats folded exactly from the per-epoch partials."""
    terms = sorted({t.lower() for t in query_terms})
    buckets = sorted({_term_bucket_py(t) for t in terms})
    post = (
        read_store(spark, f"{root}/postings")
        .filter(F.col("bucket").isin(buckets))
        .filter(F.col("term").isin(terms))
        .drop("bucket", "ingest_epoch")
    )
    lengths = read_store(spark, f"{root}/doclen").drop("ingest_epoch")
    stats = read_store(spark, f"{root}/stats").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs_total"),
        (
            F.sum("sum_dl").cast("double") / F.sum("n_docs").cast("double")
        ).alias("avgdl"),
    )
    return _bm25_rank(post, lengths, stats, k)
