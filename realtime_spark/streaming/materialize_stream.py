"""Streaming materialized view: fold a CDC stream into a continuously
updated latest-state snapshot (streaming lift of operators/materialize.py).

Per micro-batch: fold the batch (tombstones kept) and write it as one
epoch of the ``SNAPSHOT`` store (``<store>/snapshot/ingest_epoch=e{N}/
table_name=*/``) through the store-lifecycle engine
(streaming/compaction.py). ``serve_snapshot`` merges the visible epochs
with ``merge_snapshots`` — per key, the largest (ts, seq) version wins and
``n_versions`` sums — and compaction folds them into one base with the
same merge. A replayed micro-batch overwrites its own epoch with the same
fold, so its changes are counted once.

At 100 TB the epoch store becomes a Delta/Iceberg MERGE INTO keyed on
(schema, table, pk) — the fold/merge DataFrame shapes stay identical;
only the sink changes. Partitioning by table_name keeps per-table reads
pruned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from realtime_spark.operators.materialize import materialize_latest, merge_snapshots
from realtime_spark.streaming.compaction import (
    Output,
    StoreSpec,
    read_store,
    run_store_stream,
)

SNAPSHOT = StoreSpec(
    (Output("snapshot", partition="table_name", fold=merge_snapshots),)
)


def serve_snapshot(spark: SparkSession, store_dir: str) -> DataFrame | None:
    """The queryable view: the merged snapshot minus tombstones, or None
    before the first epoch."""
    store = f"{store_dir}/snapshot"
    if not os.path.isdir(store):
        return None
    snap = merge_snapshots(read_store(spark, store).drop("ingest_epoch"))
    return snap.filter("last_action <> 'DELETE'")


def process_materialize_batch(batch_df: DataFrame, epoch_id: int, root: str) -> None:
    """One micro-batch: overwrite epoch ``epoch_id`` with the batch's
    latest state per key, tombstones kept."""
    with SNAPSHOT.epoch(batch_df, epoch_id, root) as ep:
        ep.write("snapshot", materialize_latest(batch_df, keep_tombstones=True))


def run_materialize_stream(stream: DataFrame, store_dir: str, checkpoint_dir: str):
    """Maintain the latest-state store from a streaming change source
    (``seq`` / ``commit_timestamp`` versions). Returns the started
    StreamingQuery."""
    return run_store_stream(
        SNAPSHOT, stream, checkpoint_dir, process_materialize_batch, store_dir
    )
