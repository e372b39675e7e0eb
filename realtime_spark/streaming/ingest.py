"""Streaming corpus ingest: the daily-ingest dedup pipeline
(plans/training.py::q_daily_ingest_keep) as a continuous Structured
Streaming job — arriving document batches are admission-gated, exact-deduped
against everything already accepted, LSH-probed for near-duplicates of the
standing corpus AND of every earlier accepted batch, and the survivors are
appended to the corpus stores the NEXT batch dedups against.

This is the form a production training-data pipeline actually runs: the
batch operators (`dedup_incremental`, `minhash_bands`,
`lsh_candidates_against_index`) are reused verbatim — the streaming layer
only adds arrival-order state threading and crash safety.

State layout (all parquet, under one root):

    <root>/digests/ingest_epoch=seed/   content digests of the standing corpus
    <root>/digests/ingest_epoch=e{N}/   digests accepted in micro-batch N
    <root>/lsh/ingest_epoch=seed/band=*/  banded MinHash index of the corpus
    <root>/lsh/ingest_epoch=e{N}/band=*/  index rows of batch N's survivors
    <root>/accepted/ingest_epoch=seed/  empty (the corpus schema, zero rows)
    <root>/accepted/ingest_epoch=e{N}/  the surviving documents themselves

Exactly-once follows the store-lifecycle engine's epoch protocol
(streaming/compaction.py): each epoch overwrites its own
``ingest_epoch=e{N}`` directories and excludes them from its reads, so a
crash-replay rewrites identical bytes.

Ordering semantics are arrival-order (exactly the daily-ingest contract):
earlier batches win ties; within a batch the smallest id per digest wins
(dedup_incremental). A doc that is a near-dup of a LATER batch is kept —
near-dup priority across unordered inputs is the BATCH pipeline's job
(dedup_keep_longest over the full corpus), not the ingest tail's.
Dedup here is CONTENT-keyed: a re-delivered id with identical text is
dropped by the digest store, while the same id arriving with different
text is new content and is accepted (an id-keyed re-delivery guard would
silently drop document revisions; the vector and search ingests guard on
id because their stores are id-keyed, this one is content-keyed).

Scale shape per micro-batch: the batch side is a daily increment — its
digests and banded signatures broadcast into anti-join / index-probe scans
of the stores; the stores never shuffle and are only APPENDED to (one new
partition directory per epoch, band-partitioned for probe pruning). State
growth is the accepted corpus itself — there is no unbounded operator
state, which is what lets this run forever.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_spark.operators.dedup import (
    dedup_incremental,
    lsh_candidates_against_index,
    minhash_bands,
    _digest,
)
from realtime_spark.streaming.compaction import (
    Output,
    StoreSpec,
    in_parallel,
    read_store,
    run_store_stream,
)

ID, TEXT = "doc_id", "text"
# the MinHash/LSH shape of the band index, fixed for the store's life: a
# store seeded with one shape and probed with another would silently miss
# every near-duplicate
NUM_HASHES, BANDS, K = 12, 4, 3

INGEST_STORE = StoreSpec((
    Output("digests"),
    Output("lsh", partition="band", sort=("key",)),
    Output("accepted"),
))


def _bands(df: DataFrame) -> DataFrame:
    return minhash_bands(df, ID, TEXT, NUM_HASHES, BANDS, K)


def _digests(df: DataFrame) -> DataFrame:
    return df.select(_digest(F.col(TEXT)).alias("digest")).distinct()


def seed_ingest_state(corpus: DataFrame, root: str) -> None:
    """Initialize the stores from the standing corpus (run once). The two
    seed writes are independent — overlapped like the per-epoch pair; the
    shuffles are sized to the corpus (full parallelism past the clamp).
    ``accepted`` starts as an empty partition carrying the corpus schema,
    so it reads as zero rows until the first epoch lands."""
    with INGEST_STORE.epoch(corpus, None, root) as ep:
        ep.write("accepted", corpus.limit(0))
        in_parallel(
            lambda: ep.write("digests", _digests(corpus)),
            lambda: ep.write("lsh", _bands(corpus)),
        )


def process_ingest_batch(
    batch_df: DataFrame,
    epoch_id: int,
    root: str,
    gate: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """One micro-batch of the ingest pipeline (foreachBatch body; also the
    unit a replay re-executes — everything below is deterministic in
    (batch content, epoch_id) and writes only epoch-owned directories)."""
    with INGEST_STORE.epoch(batch_df, epoch_id, root) as ep:
        if gate is not None:
            # admission log boundary (and the measured plan-explosion cut:
            # pushdown would otherwise re-inline gate expressions into every
            # downstream predicate — see q_daily_ingest_keep). Gate-free
            # pipelines skip it (r10): with no staged gate expressions there
            # is nothing for pushdown to explode, and the materialization
            # was one full extra job per epoch
            batch_df = gate(batch_df).localCheckpoint()
        fresh = dedup_incremental(batch_df, ep.read("digests"), ID, TEXT)
        fresh = fresh.localCheckpoint()

        # band the batch ONCE (r10, guide section 1.2): the banded rows feed
        # the index probe below AND the survivors' index write — re-deriving
        # them from text for the write doubled the heaviest per-epoch
        # computation (shingle md5 + 12 min-aggregations) at every scale.
        # The checkpointed rows are 4 per doc of (doc, band, key) —
        # increment-sized, never corpus.
        banded_fresh = _bands(fresh).localCheckpoint()
        near = (
            lsh_candidates_against_index(
                fresh, ep.read("lsh"), ID, TEXT, NUM_HASHES, BANDS, K,
                banded=banded_fresh,
            )
            .select(F.col("new_doc").alias(ID))
            .distinct()
        )
        kept = fresh.join(F.broadcast(near), ID, "left_anti")

        # The accepted write IS kept's one materialization (r10): the digest
        # and index writes below fold from the just-written parquet —
        # byte-identical input on replay — instead of a second
        # localCheckpoint of the same rows (the search store's stats write
        # uses the same read-back shape).
        kept_back = ep.write_back("accepted", kept)

        # the digest and index writes are independent of each other:
        # overlap them (r11, see in_parallel). Crash states are unchanged: any subset of the three
        # epoch dirs may exist mid-epoch, and the replay overwrites them all.
        in_parallel(
            lambda: ep.write("digests", _digests(kept_back)),
            lambda: ep.write(
                "lsh",
                banded_fresh.join(
                    F.broadcast(kept_back.select(F.col(ID).alias("doc"))),
                    "doc",
                    "left_semi",
                ),
            ),
        )


def run_ingest_stream(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    gate: Callable[[DataFrame], DataFrame] | None = None,
):
    """Wire the ingest pipeline onto a streaming document source. Returns
    the started StreamingQuery. `seed_ingest_state` must have run (the
    stores are the pipeline's inputs as well as its outputs)."""
    return run_store_stream(
        INGEST_STORE, stream, checkpoint, process_ingest_batch, root, gate=gate
    )


def accepted_docs(spark: SparkSession, root: str) -> DataFrame:
    """All documents accepted so far (every committed epoch; after an
    epoch compaction, the compacted base plus the epochs above it)."""
    return read_store(spark, f"{root}/accepted")
