"""Epoch-id monotonicity guards (streaming/compaction.py): after a
compaction sets min_epoch, a micro-batch whose epoch id rewinds below it
must FAIL LOUDLY instead of writing a partition the manifest silently hides
(assert_epoch_admissible), and a stream started with a FRESH checkpoint
over a store that already holds epochs must fail loudly too
(run_store_stream): its batch ids restart at 0, so its writes would land
below min_epoch, or overwrite the earlier lineage's epochs of an
uncompacted store (accepted docs vanish, counts are replaced).

Reference analog: the replication protocol acks a monotone wal_end so a
slot can never silently rewind
(/root/reference/lib/realtime/tenants/replication_connection.ex:349-356).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from realtime_spark.sources.testdata import load_table
from realtime_spark.streaming.compaction import (
    EpochRewindError,
    assert_epoch_admissible,
    compact_store,
    read_store,
)
from realtime_spark.streaming.ingest import INGEST_STORE
from realtime_spark.streaming.search_ingest import SEARCH_STORE
from realtime_spark.streaming.vector_ingest import VECTOR_STORE

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from realtime_spark.session import get_spark

    return get_spark("test_epoch_guard", cpus=4)


# ---------------------------------------------------------------------------
# unit: the guard itself
# ---------------------------------------------------------------------------


def test_guard_noop_without_manifest(spark, tmp_path):
    store = str(tmp_path / "plain")
    spark.range(3).toDF("v").write.parquet(f"{store}/ingest_epoch=e0")
    # pre-compaction store and a missing store are both admissible at any id
    assert_epoch_admissible(0, store)
    assert_epoch_admissible(0, str(tmp_path / "missing"))


def test_guard_boundary(spark, tmp_path):
    store = str(tmp_path / "mini")
    for i in range(2):
        spark.range(i * 5, i * 5 + 5).toDF("v").write.parquet(
            f"{store}/ingest_epoch=e{i}"
        )
    m = compact_store(spark, store, lambda df, p: df.write.parquet(p))
    assert m["min_epoch"] == 2
    # min_epoch itself and everything above are admissible
    assert_epoch_admissible(2, store)
    assert_epoch_admissible(10, store)
    # anything below fails loudly, even when other stores are clean
    clean = str(tmp_path / "clean")
    spark.range(1).toDF("v").write.parquet(f"{clean}/ingest_epoch=e0")
    with pytest.raises(EpochRewindError, match="min_epoch 2"):
        assert_epoch_admissible(1, clean, store)
    with pytest.raises(EpochRewindError, match="fresh checkpoint"):
        assert_epoch_admissible(0, store)


# ---------------------------------------------------------------------------
# all three batch bodies reject a rewound epoch before touching the stores
# ---------------------------------------------------------------------------


def _docs(spark, lo, hi):
    return (
        load_table(spark, SF, "documents")
        .select("doc_id", "text")
        .filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
    )


def _assert_no_partition(spec, root, tag):
    """The guard ran before any write: no output of the store holds a
    partition for the rewound tag."""
    for out in spec.names:
        assert not os.path.exists(f"{root}/{out}/ingest_epoch={tag}"), out


def test_corpus_ingest_rejects_rewound_epoch(spark, tmp_path):
    from realtime_spark.streaming.ingest import (
        accepted_docs,
        process_ingest_batch,
        seed_ingest_state,
    )

    root = str(tmp_path / "corpus")
    seed_ingest_state(_docs(spark, 0, 20), root)
    process_ingest_batch(_docs(spark, 20, 40), 0, root)
    process_ingest_batch(_docs(spark, 40, 60), 1, root)
    INGEST_STORE.compact(spark, root)

    before = sorted(
        r["doc_id"] for r in accepted_docs(spark, root).collect()
    )
    with pytest.raises(EpochRewindError):
        process_ingest_batch(_docs(spark, 60, 80), 0, root)
    # nothing was written — no invisible partition, no visible change
    assert sorted(
        r["doc_id"] for r in accepted_docs(spark, root).collect()
    ) == before
    _assert_no_partition(INGEST_STORE, root, "e0")
    # the stream resumed with its ORIGINAL checkpoint continues fine
    process_ingest_batch(_docs(spark, 60, 80), 2, root)
    after = sorted(r["doc_id"] for r in accepted_docs(spark, root).collect())
    assert len(after) > len(before)


def test_vector_ingest_rejects_rewound_epoch(spark, tmp_path):
    from realtime_spark.streaming.vector_ingest import (
        process_vector_batch,
        seed_vector_state,
    )

    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    root = str(tmp_path / "vec")
    seed_vector_state(
        e.filter(F.col("vec_id") % 2 == 0),
        e.filter(F.col("vec_id") % 50 == 0),
        root,
    )
    process_vector_batch(
        e.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") < 100)), 0, root
    )
    VECTOR_STORE.compact(spark, root)

    with pytest.raises(EpochRewindError):
        process_vector_batch(
            e.filter((F.col("vec_id") % 2 == 1) & (F.col("vec_id") >= 100)),
            0,
            root,
        )
    _assert_no_partition(VECTOR_STORE, root, "e0")


def test_search_ingest_rejects_rewound_epoch(spark, tmp_path):
    from realtime_spark.streaming.search_ingest import (
        process_search_batch,
        seed_search_state,
    )

    root = str(tmp_path / "search")
    seed_search_state(_docs(spark, 0, 40), root)
    process_search_batch(_docs(spark, 40, 80), 0, root)
    SEARCH_STORE.compact(spark, root)

    stats_before = read_store(spark, f"{root}/stats").collect()
    with pytest.raises(EpochRewindError):
        process_search_batch(_docs(spark, 80, 120), 0, root)
    _assert_no_partition(SEARCH_STORE, root, "e0")
    assert read_store(spark, f"{root}/stats").collect() == stats_before


# ---------------------------------------------------------------------------
# the hazard end-to-end: a REAL stream restarted with a fresh checkpoint
# ---------------------------------------------------------------------------


def test_fresh_checkpoint_restart_fails_loudly(spark, tmp_path):
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from realtime_spark.streaming.ingest import (
        accepted_docs,
        run_ingest_stream,
        seed_ingest_state,
    )

    root = str(tmp_path / "corpus")
    src = str(tmp_path / "src")
    os.makedirs(src)
    seed_ingest_state(_docs(spark, 0, 20), root)
    _docs(spark, 20, 40).coalesce(1).write.parquet(f"{src}/f0")
    _docs(spark, 40, 60).coalesce(1).write.parquet(f"{src}/f1")
    schema = "doc_id bigint, text string"

    def source():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )

    q = run_ingest_stream(source(), root, str(tmp_path / "ckpt0"))
    q.awaitTermination(300)
    INGEST_STORE.compact(spark, root)
    before = sorted(r["doc_id"] for r in accepted_docs(spark, root).collect())

    # the routine operator mistake: same source, FRESH checkpoint — batch
    # ids restart at 0, below the compacted min_epoch. Pre-guard this
    # drained "successfully" while every write landed invisible.
    q2 = run_ingest_stream(source(), root, str(tmp_path / "ckpt_fresh"))
    with pytest.raises(StreamingQueryException, match="EpochRewindError"):
        q2.awaitTermination(300)
        raise AssertionError("fresh-checkpoint restart must fail loudly")
    assert sorted(
        r["doc_id"] for r in accepted_docs(spark, root).collect()
    ) == before

    # resuming with the ORIGINAL checkpoint still works and sees new data
    _docs(spark, 60, 80).coalesce(1).write.parquet(f"{src}/f2")
    q3 = run_ingest_stream(source(), root, str(tmp_path / "ckpt0"))
    q3.awaitTermination(300)
    after = sorted(r["doc_id"] for r in accepted_docs(spark, root).collect())
    assert len(after) > len(before)


def test_uncompacted_store_rejects_fresh_checkpoint(spark, tmp_path):
    """The rewind hazard without a compaction: a fresh checkpoint over new
    files restarts at e0, and its e0 would overwrite the first lineage's
    e0 — every doc that epoch accepted would vanish without an error."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from realtime_spark.streaming.ingest import (
        accepted_docs,
        run_ingest_stream,
        seed_ingest_state,
    )

    root = str(tmp_path / "corpus")
    seed_ingest_state(_docs(spark, 0, 20), root)
    schema = "doc_id bigint, text string"

    def stream(src, lo, hi, ckpt):
        _docs(spark, lo, hi).coalesce(1).write.parquet(f"{src}/f0")
        source = spark.readStream.schema(schema).option(
            "recursiveFileLookup", "true"
        ).parquet(src)
        return run_ingest_stream(source, root, str(tmp_path / ckpt))

    stream(str(tmp_path / "src0"), 20, 40, "ckpt0").awaitTermination(300)
    before = sorted(r["doc_id"] for r in accepted_docs(spark, root).collect())
    assert before == list(range(20, 40))

    q = stream(str(tmp_path / "src1"), 40, 60, "ckpt_fresh")
    with pytest.raises(StreamingQueryException, match="EpochRewindError"):
        q.awaitTermination(300)
        raise AssertionError("fresh-checkpoint restart must fail loudly")
    assert sorted(
        r["doc_id"] for r in accepted_docs(spark, root).collect()
    ) == before


def test_count_monitor_rejects_fresh_checkpoint(spark, tmp_path):
    """A count monitor restarted with a fresh checkpoint over the same
    source would count every event a second time: it fails loudly, and
    the store still sums to the event count."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from realtime_spark.streaming.monitors import read_counts, run_hourly_count_stream

    events = load_table(spark, SF, "events")
    src = str(tmp_path / "src")
    events.repartition(2).write.parquet(src)
    store = str(tmp_path / "store")

    def run(ckpt):
        source = spark.readStream.schema(events.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        return run_hourly_count_stream(
            source, store, str(tmp_path / ckpt), keys=["event_type"]
        )

    def total():
        return read_counts(spark, store).agg(F.sum("cnt")).collect()[0][0]

    run("ckpt0").awaitTermination(300)
    n = events.count()
    assert total() == n

    q = run("ckpt_fresh")
    with pytest.raises(StreamingQueryException, match="EpochRewindError"):
        q.awaitTermination(300)
        raise AssertionError("fresh-checkpoint restart must fail loudly")
    assert total() == n
