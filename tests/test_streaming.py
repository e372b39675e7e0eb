"""Streaming-only semantics: stateful presence diffs (ST4) and the
foreachBatch CDC lift (Phase 4) — the paths the DuckDB oracle can't express.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from realtime_spark.streaming.presence import (
    presence_diffs_batch,
    presence_diffs_sharded,
)

_EVENTS = [
    # (topic, key, action, meta, ts-second)
    ("room1", "u1", "track", "m1", 1),
    ("room1", "u1", "track", "m1", 2),   # unchanged re-track: no-op
    ("room1", "u1", "track", "m2", 3),   # changed meta: update
    ("room1", "u1", "untrack", None, 4),  # leave (meta = m2)
    ("room1", "u2", "untrack", None, 1),  # untrack while absent: no-op
    ("room2", "u1", "track", "x", 5),     # independent key
]


def _events_df(spark):
    return spark.createDataFrame(
        [(t, k, a, m, float(s)) for (t, k, a, m, s) in _EVENTS],
        "topic string, presence_key string, action string, meta string, sec double",
    ).withColumn("ts", F.col("sec").cast("timestamp")).drop("sec")


EXPECTED = {
    ("room1", "u1", "join", "m1"),
    ("room1", "u1", "update", "m2"),
    ("room1", "u1", "leave", "m2"),
    ("room2", "u1", "join", "x"),
}


def _as_set(df):
    return {
        (r["topic"], r["presence_key"], r["kind"], r["meta"])
        for r in df.collect()
    }


def test_presence_diffs_batch(spark):
    out = presence_diffs_batch(_events_df(spark))
    assert _as_set(out) == EXPECTED


def test_presence_diffs_sharded_streaming(spark):
    """Run the stateful operator as a real streaming query over a file source
    (one micro-batch) and compare against the relational batch analog."""
    import os

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        ckpt = os.path.join(d, "ckpt")
        _events_df(spark).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(
            "topic string, presence_key string, action string, meta string, ts timestamp"
        ).parquet(src)
        out = presence_diffs_sharded(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("presence_sharded_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = _as_set(spark.sql("SELECT * FROM presence_sharded_test"))
        assert got == EXPECTED


def test_presence_diffs_sharded_multi_batch(spark):
    """State carries across micro-batches: a key tracked in batch 1 and
    re-tracked unchanged in batch 2 must NOT re-join; untrack in batch 2 must
    emit leave with the batch-1 meta. Output equals the batch analog on the
    full ordered log. 97 keys per topic over the 32 shards put several keys
    in one shard map (pigeonhole), and each (topic, key) recurs about seven
    times, on both sides of the batch split."""
    import os

    rows = [
        (f"room{i % 3}", f"u{i % 97}", "track" if i % 5 else "untrack",
         f"m{i % 7}", float(i))
        for i in range(2000)
    ]
    df = spark.createDataFrame(
        rows,
        "topic string, presence_key string, action string, meta string, sec double",
    ).withColumn("ts", F.col("sec").cast("timestamp")).drop("sec")
    expected = _as_set(presence_diffs_batch(df))

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        ckpt = os.path.join(d, "ckpt")
        # two files, maxFilesPerTrigger=1 -> two micro-batches split on time
        df.filter(F.col("ts").cast("double") < 1000).coalesce(1).write.parquet(
            os.path.join(src, "a")
        )
        df.filter(F.col("ts").cast("double") >= 1000).coalesce(1).write.parquet(
            os.path.join(src, "b")
        )
        stream = (
            spark.readStream.schema(
                "topic string, presence_key string, action string, meta string, ts timestamp"
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(src + "/*")
        )
        out = presence_diffs_sharded(stream)
        q = (
            out.writeStream.format("memory")
            .queryName("presence_sharded_mb")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = _as_set(spark.sql("SELECT * FROM presence_sharded_mb"))
        assert got == expected


def test_cdc_stream_foreachbatch(spark, sf_dir):
    """Phase 4: the batch CDC pipeline lifted over a streaming source produces
    the same matches as the batch run."""
    import os

    from realtime_spark.operators.cdc import match_changes
    from realtime_spark.sources.testdata import changes_from_orders

    import __spark_entry__ as em

    changes = changes_from_orders(spark, sf_dir).limit(200).cache()
    subs = em.subscriptions_df(spark, em._MULTI_SPECS)
    expected = {
        (r["change_id"], tuple(r["subscription_ids"]))
        for r in match_changes(changes, subs).collect()
    }

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        ckpt = os.path.join(d, "ckpt")
        changes.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(changes.schema).parquet(src)

        got: set = set()

        def sink(batch_df, epoch_id):
            got.update(
                (r["change_id"], tuple(r["subscription_ids"]))
                for r in batch_df.collect()
            )

        from realtime_spark.streaming.cdc_stream import run_cdc_stream

        q = run_cdc_stream(stream, subs, sink, ckpt, trigger_ms=100)
        # availableNow isn't set on the helper (it models the poll loop); stop
        # after the first batch lands
        import time

        for _ in range(100):
            if got:
                break
            time.sleep(0.5)
        q.stop()
        assert got == expected


def test_streaming_rate_window(spark, sf_dir):
    """ST7 native streaming form: sliding window counts match the batch
    RANGE-window rate at every active second."""
    import os

    from realtime_spark.operators.rate_limit import sliding_rate
    from realtime_spark.sources.testdata import load_table
    from realtime_spark.streaming.pipeline import streaming_rate

    events = load_table(spark, sf_dir, "events").select("event_type", "ts").limit(500).cache()
    batch = {
        (r["event_type"], r["sec"]): r["window_sum"]
        for r in sliding_rate(events, keys=["event_type"]).collect()
    }

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        ckpt = os.path.join(d, "ckpt")
        events.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(events.schema).parquet(src)
        out = streaming_rate(stream, keys=["event_type"])
        q = (
            out.writeStream.format("memory")
            .queryName("rate_test")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        got = {
            (r["event_type"], int(r["window_end"].timestamp()) - 1): r["window_sum"]
            for r in spark.sql("SELECT * FROM rate_test").collect()
        }
    # every batch active-second rate must appear identically in the stream —
    # except the tail: append mode only emits windows finalized by the
    # watermark, so seconds within (watermark + window) of stream end are
    # legitimately withheld
    max_sec = max(sec for (_, sec) in batch)
    cutoff = max_sec - 185  # 2 min watermark + 60 s window + slack
    checked = 0
    for k, v in batch.items():
        if k[1] <= cutoff:
            assert got.get(k) == v, f"rate mismatch at {k}: {got.get(k)} != {v}"
            checked += 1
    assert checked > 0, "cutoff left nothing to compare"


def test_encode_once_fanout(spark, sf_dir):
    from realtime_spark.operators.cdc import match_changes
    from realtime_spark.sources.testdata import changes_from_orders
    from realtime_spark.streaming.cdc_stream import encode_once_fanout

    import __spark_entry__ as em

    changes = changes_from_orders(spark, sf_dir).limit(50)
    subs = em.subscriptions_df(spark, em._MULTI_SPECS)
    out = encode_once_fanout(match_changes(changes, subs))
    rows = out.collect()
    assert rows, "expected at least one fanned-out change"
    for r in rows:
        assert r["topic"].startswith("realtime:public:")
        assert r["n_subscribers"] == len(r["subscription_ids"])
        assert r["encoded"].startswith("{")


def test_cdc_stream_subscription_refresh(spark, sf_dir):
    """S3/S4 refresh semantics: a subscription dim provider is re-resolved
    every micro-batch, so an upsert between batches changes matching without
    restarting the query."""
    import os
    import time

    from realtime_spark.sources.testdata import changes_from_orders

    import __spark_entry__ as em

    changes = changes_from_orders(spark, sf_dir).limit(100).cache()
    changes.count()

    sub_a = [{"subscription_id": "sub-a", "table": "orders"}]
    sub_b = [{"subscription_id": "sub-b", "table": "orders", "action": "INSERT"}]
    current = {"specs": sub_a}

    def provider(epoch_id):
        return em.subscriptions_df(spark, current["specs"])

    seen: list[tuple[int, set]] = []

    def sink(batch_df, epoch_id):
        ids = {
            x for r in batch_df.collect() for x in r["subscription_ids"]
        }
        seen.append((epoch_id, ids))
        current["specs"] = sub_b  # upsert between batches

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        ckpt = os.path.join(d, "ckpt")
        # two files -> two micro-batches
        changes.filter(F.col("change_id") % 2 == 0).coalesce(1).write.parquet(src)
        changes.filter(F.col("change_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        stream = (
            spark.readStream.schema(changes.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        from realtime_spark.streaming.cdc_stream import run_cdc_stream

        q = run_cdc_stream(stream, provider, sink, ckpt, trigger_ms=50)
        for _ in range(200):
            if len(seen) >= 2:
                break
            time.sleep(0.25)
        q.stop()

    assert len(seen) >= 2, f"expected 2 micro-batches, saw {len(seen)}"
    first_ids = seen[0][1]
    later_ids = set().union(*(ids for _, ids in seen[1:]))
    assert first_ids == {"sub-a"}
    assert "sub-b" in later_ids and "sub-a" not in later_ids


def test_watermark_dedup_across_microbatches(spark):
    """ST2: Structured Streaming delivers at-least-once; the reference is
    at-most-once per socket. The documented bridge is id-dedup at the sink —
    dropDuplicatesWithinWatermark keeps state only for the watermark horizon
    so the dedup map cannot grow unboundedly (the 100 TB concern)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    rows_a = [(1, "2026-01-01 00:00:01"), (2, "2026-01-01 00:00:02")]
    rows_b = [(2, "2026-01-01 00:00:02"),  # redelivered duplicate
              (3, "2026-01-01 00:00:03")]
    schema = "id bigint, ts_s string"
    delivered = []

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        spark.createDataFrame(rows_a, schema).coalesce(1).write.parquet(
            os.path.join(src, "b1")
        )
        spark.createDataFrame(rows_b, schema).coalesce(1).write.parquet(
            os.path.join(src, "b2")
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["id"])
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _eid: delivered.extend(r["id"] for r in df.collect())
            )
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    assert sorted(delivered) == [1, 2, 3], delivered


def test_watermark_drops_late_data(spark):
    """ST2/ST7: an event arriving after the watermark has passed its window
    is dropped from the windowed aggregate — finalized counts never change.
    This is the bound that keeps rate-window state finite at 100 TB: the
    reference's ring buffer simply overwrites old seconds
    (rate_counter.ex:209-216); Structured Streaming gets the same bound from
    the watermark, at the cost of discarding stragglers instead of
    re-opening the bucket.
    """
    import os
    import tempfile

    from pyspark.sql import functions as F

    # batch 1: seconds 0..9 (one event each) then a probe far ahead at
    # t=20:00 that advances the watermark (10 min delay) past second 9.
    b1 = [("k", f"2026-01-01 00:00:0{i}") for i in range(10)]
    b1.append(("k", "2026-01-01 00:20:00"))
    # batch 2: a straggler back at second 5 — behind the advanced watermark
    b2 = [("k", "2026-01-01 00:00:05")]
    schema = "key string, ts_s string"
    got: dict = {}

    import time

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        spark.createDataFrame(b1, schema).coalesce(1).write.parquet(
            os.path.join(src, "b1")
        )
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
            .withColumn("ts", F.col("ts_s").cast("timestamp"))
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 seconds").alias("win"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

        batches = []

        def sink(df, eid):
            batches.append(eid)
            for r in df.collect():
                got[r["win"]["start"].strftime("%H:%M:%S")] = r["n"]

        q = (
            stream.writeStream.foreachBatch(sink)
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        # wait until batch 1 (b1) is fully committed — its completion is
        # what advances the watermark past the straggler's window
        for _ in range(200):
            if got.get("00:00:00") == 10:
                break
            time.sleep(0.25)
        assert got.get("00:00:00") == 10, f"b1 window never finalized: {got}"
        done_batches = len(batches)
        # now the straggler arrives, behind the watermark
        spark.createDataFrame(b2, schema).coalesce(1).write.parquet(
            os.path.join(src, "b2")
        )
        for _ in range(200):
            if len(batches) > done_batches:
                break
            time.sleep(0.25)
        time.sleep(1.0)  # let any (incorrect) re-emission land
        q.stop()

    # the 00:00:00 window finalized with 10 events; the batch-2 straggler
    # at 00:00:05 was late past the watermark and must NOT re-emit/alter it
    assert got.get("00:00:00") == 10, got


def test_wal2json_quarantine(spark):
    """Malformed JSON and non-DML wal2json frames are routed to the
    dead-letter frame with a reason; valid changes parse normally."""
    from realtime_spark.sources.wal2json import parse_wal2json_quarantine

    rows = [
        ('{"action":"I","schema":"public","table":"t","timestamp":"2026-01-01 00:00:00",'
         '"columns":[{"name":"id","type":"int8","value":"1"}],"pk":[{"name":"id","type":"int8"}]}',),
        ('{"action":"D","schema":"public","table":"t","timestamp":"2026-01-01 00:00:01",'
         '"identity":[{"name":"id","type":"int8","value":"1"}],"pk":[{"name":"id","type":"int8"}]}',),
        ("{not json at all",),
        ('{"action":"B"}',),  # begin frame: valid JSON, not a DML action
    ]
    raw = spark.createDataFrame(rows, "value string")
    good, bad = parse_wal2json_quarantine(raw)
    g = good.select("action", "schema_name").collect()
    assert sorted(r["action"] for r in g) == ["DELETE", "INSERT"]
    assert all(r["schema_name"] == "public" for r in g)
    reasons = sorted(r["reason"] for r in bad.collect())
    assert reasons == ["malformed json", "unknown action: B"], reasons


def test_cdc_stream_checkpoint_recovery(spark, sf_dir):
    """A restarted query on the same checkpoint resumes where the previous
    run stopped: already-committed files are not reprocessed. This is the
    recovery contract replacing the reference's replication-slot restart
    (confirmed LSN ~ checkpointed file offsets)."""
    import os
    import tempfile

    from realtime_spark.sources.testdata import changes_from_orders

    changes = changes_from_orders(spark, sf_dir).limit(40).cache()
    ids_all = {r["change_id"] for r in changes.select("change_id").collect()}

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        ckpt = os.path.join(d, "ckpt")
        first = changes.filter(F.col("change_id") % 2 == 0)
        first.coalesce(1).write.parquet(src)
        seen: list[set] = []

        def run_once():
            batch_ids: set = set()
            stream = spark.readStream.schema(changes.schema).parquet(src)
            q = (
                stream.writeStream.foreachBatch(
                    lambda df, _e: batch_ids.update(
                        r["change_id"] for r in df.select("change_id").collect()
                    )
                )
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            seen.append(batch_ids)

        run_once()  # processes the first file set
        # new data arrives while the query is DOWN
        changes.filter(F.col("change_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        run_once()  # restart from the same checkpoint

        assert seen[0] == {i for i in ids_all if i % 2 == 0}
        assert seen[1] == {i for i in ids_all if i % 2 == 1}, (
            "restart reprocessed already-committed files"
        )


def test_interval_join_streaming(spark, sf_dir):
    """Stream-stream interval join: two watermarked file-source streams over
    multiple micro-batches must emit exactly the batch-mode pairs (state
    buffers the open horizon across batches)."""
    import os

    from realtime_spark.sources.testdata import load_table
    from realtime_spark.streaming.joins import interval_join

    events = load_table(spark, sf_dir, "events")
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    batch = interval_join(clicks, purchases, key="user_id", horizon="3600 seconds")
    expected = {
        (r["event_id"], r["event_id_r"]) for r in batch.collect()
    }
    assert expected  # fixture must produce matches or the test is vacuous

    with tempfile.TemporaryDirectory() as d:
        csrc, psrc = os.path.join(d, "c"), os.path.join(d, "p")
        # 3 time-ordered files per side, written as SEQUENTIAL jobs so file
        # mtimes (the file source's batch order) follow event time — one
        # shared write would order batches arbitrarily and a high-ts file
        # first would make the rest late behind the watermark. Pairs that
        # span a batch boundary only match if join state carries over.
        qs = events.select(
            F.col("ts").cast("double").alias("tsd")
        ).approxQuantile("tsd", [0.33, 0.66], 0.0)
        q1, q2 = (F.lit(q).cast("timestamp") for q in qs)
        import time as _time
        for name, df_side, base in (("c", clicks, csrc), ("p", purchases, psrc)):
            df_side.filter(F.col("ts") < q1).coalesce(1).write.parquet(base + "/1")
            _time.sleep(0.05)
            df_side.filter((F.col("ts") >= q1) & (F.col("ts") < q2)).coalesce(
                1
            ).write.parquet(base + "/2")
            _time.sleep(0.05)
            df_side.filter(F.col("ts") >= q2).coalesce(1).write.parquet(base + "/3")
            _time.sleep(0.05)
        cs = spark.readStream.schema(clicks.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(csrc + "/*")
        ps = spark.readStream.schema(purchases.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(psrc + "/*")
        out = interval_join(cs, ps, key="user_id", horizon="3600 seconds")
        q = (
            out.writeStream.format("memory")
            .queryName("ssij")
            .outputMode("append")
            .option("checkpointLocation", os.path.join(d, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        got = {
            (r["event_id"], r["event_id_r"])
            for r in spark.sql("SELECT * FROM ssij").collect()
        }
    assert got == expected


def test_cdc_stream_observes_slot_backlog(spark, sf_dir):
    """A10: the raw per-batch change count surfaces as a streaming
    observation (the slot_changes_count sentinel analog) — the observed
    total must equal the source row count even though the sink only sees
    matched output."""
    import os
    import time as _time

    from realtime_spark.sources.testdata import changes_from_orders
    from realtime_spark.streaming.cdc_stream import run_cdc_stream

    import __spark_entry__ as em

    changes = changes_from_orders(spark, sf_dir).limit(300).cache()
    n = changes.count()
    subs = em.subscriptions_df(spark, em._MULTI_SPECS)

    with tempfile.TemporaryDirectory() as d:
        src = os.path.join(d, "src")
        ckpt = os.path.join(d, "ckpt")
        changes.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(changes.schema).parquet(src)
        seen = {"batches": 0}

        def sink(batch_df, epoch_id):
            batch_df.count()
            seen["batches"] += 1

        q = run_cdc_stream(stream, subs, sink, ckpt, trigger_ms=100)
        for _ in range(100):
            if seen["batches"]:
                break
            _time.sleep(0.5)
        # progress entries land asynchronously after the batch completes
        observed = 0
        for _ in range(40):
            observed = sum(
                p["observedMetrics"]["a10"]["slot_changes"]
                for p in q.recentProgress
                if p.get("observedMetrics", {}).get("a10")
            )
            if observed >= n:
                break
            _time.sleep(0.5)
        q.stop()
        assert observed == n


def test_stream_health_monitor_tracks_progress(spark, tmp_path):
    """ST5: the watchdog listener records heartbeats/rows per query and
    reports no stall for a live short stream; terminated queries leave the
    stall set."""
    import time as _time

    from realtime_spark.streaming.monitors import StreamHealthMonitor

    mon = StreamHealthMonitor(stall_after_s=300.0)
    spark.streams.addListener(mon)
    try:
        src = str(tmp_path / "src")
        spark.range(500).write.parquet(src)
        q = (
            spark.readStream.schema("id bigint")
            .parquet(src)
            .writeStream.format("noop")
            .queryName("health_t")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        for _ in range(40):  # listener events land asynchronously
            stats = [
                s for s in mon.progress.values() if s.get("name") == "health_t"
            ]
            if stats and stats[0].get("rows") == 500 and stats[0].get("terminated"):
                break
            _time.sleep(0.5)
        assert stats and stats[0]["rows"] == 500 and stats[0]["batches"] >= 1
        assert stats[0].get("terminated") is True
        assert "health_t" not in mon.stalled()
    finally:
        spark.streams.removeListener(mon)


def test_max_files_per_trigger_bounds_batches(spark, tmp_path):
    """W4: maxFilesPerTrigger=1 is the max_changes poll clamp analog — N
    source files must yield exactly N micro-batches."""
    src = str(tmp_path / "src")
    spark.range(400).repartition(4).write.parquet(src)
    n_files = 4
    batches = []

    def on_batch(df, epoch_id):
        batches.append(df.count())

    q = (
        spark.readStream.schema("id bigint")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(batches) == n_files
    assert sum(batches) == 400


def test_trending_stream_expires_event_time_state(spark, sf_dir, tmp_path):
    """Event-time TTL trending: stream the event log in time order; the
    LAST emission per key must equal the batch trailing-window count as
    of that key's max hour, and held state must never exceed the window
    (expired hourly buckets really left the state)."""
    from realtime_spark.sources.testdata import load_table
    from realtime_spark.streaming.trending import (
        trending_batch_reference,
        trending_counts_stream,
    )

    window_hours = 24
    e = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "src")
    # time-ordered micro-batches so event-time flows monotonically
    e.repartitionByRange(6, "ts").write.parquet(src)
    stream = spark.readStream.schema(e.schema).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    out = trending_counts_stream(stream, "event_type", window_hours=window_hours)
    got = []

    def sink(batch_df, epoch_id):
        got.extend(batch_df.collect())

    q = (
        out.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert got, "stream emitted nothing"
    assert all(r["n_hours_held"] <= window_hours for r in got)
    last = {}
    for r in got:  # foreachBatch order = batch order; last write wins
        last[r["key"]] = r
    want = {
        r["key"]: r
        for r in trending_batch_reference(
            e, "event_type", window_hours=window_hours
        ).collect()
    }
    assert set(last) == set(want)
    for k in want:
        assert last[k]["as_of_hour"] == want[k]["as_of_hour"], k
        assert last[k]["window_count"] == want[k]["window_count"], k
        assert last[k]["n_hours_held"] == want[k]["n_hours_held"], k


def test_adaptive_cadence_policy():
    """ST1 policy parity with replication_poller.ex:174-192: busy ->
    immediate, backlog-only -> interval + jitter in [50, 100], idle ->
    interval x5."""
    from realtime_spark.streaming.adaptive import AdaptiveCadence

    c = AdaptiveCadence(poll_interval_ms=100, idle_multiplier=5)
    assert c.next_delay_ms(processed_count=10, slot_changes_count=10) == 0
    d = c.next_delay_ms(processed_count=0, slot_changes_count=3)
    assert 150 <= d <= 200
    assert c.next_delay_ms(processed_count=0, slot_changes_count=0) == 500
    # jitter is deterministic given the seed and varies across calls
    c2 = AdaptiveCadence(poll_interval_ms=100, seed=1)
    seq = [c2.next_delay_ms(0, 1) for _ in range(5)]
    c3 = AdaptiveCadence(poll_interval_ms=100, seed=1)
    assert seq == [c3.next_delay_ms(0, 1) for _ in range(5)]
    assert len(set(seq)) > 1


def test_adaptive_poll_loop_gaps_stretch_and_collapse(spark, sf_dir, tmp_path):
    """Drive the real pipeline through the adaptive controller: a cycle that
    delivers rows schedules an IMMEDIATE re-poll; a cycle whose batch is
    shed (slot changes but nothing delivered) backs off interval+jitter; an
    empty cycle stretches to interval x5. Offsets advance through the shared
    checkpoint, so each file is consumed exactly once across cycles."""
    import os

    import __spark_entry__ as em
    from realtime_spark.sources.testdata import changes_from_orders
    from realtime_spark.streaming.adaptive import AdaptiveCadence, run_cdc_poll_loop

    changes = changes_from_orders(spark, sf_dir).limit(60).cache()
    subs = em.subscriptions_df(spark, em._MULTI_SPECS)

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    # cycle 0 input: real changes (busy). later cycles: nothing new (idle).
    changes.coalesce(1).write.mode("append").parquet(src)

    def make_stream():
        return spark.readStream.schema(changes.schema).parquet(src)

    delivered = {"n": 0}

    def sink(df, epoch):
        delivered["n"] += df.count()

    sleeps: list[float] = []
    telemetry = run_cdc_poll_loop(
        make_stream, subs, sink, ckpt, cycles=3,
        cadence=AdaptiveCadence(poll_interval_ms=20, idle_multiplier=5),
        sleep_fn=sleeps.append,
    )
    assert delivered["n"] > 0
    assert telemetry[0]["processed"] > 0 and telemetry[0]["delay_ms"] == 0
    # cycles 1..2 saw no new files -> idle stretch x5
    assert telemetry[1]["delay_ms"] == 100
    assert telemetry[2]["delay_ms"] == 100
    assert sleeps == [0.1]  # only between cycles 1 and 2; busy gap was 0

    # backlog-only: new changes arrive but the shed gate drops the batch ->
    # slot_changes > 0, processed == 0 -> interval + jitter
    changes.limit(10).coalesce(1).write.mode("append").parquet(src)
    telemetry2 = run_cdc_poll_loop(
        make_stream, subs, sink, ckpt, cycles=1,
        cadence=AdaptiveCadence(poll_interval_ms=20, idle_multiplier=5),
        shed_gate=lambda df: True,
    )
    assert telemetry2[0]["slot_changes"] > 0
    assert telemetry2[0]["processed"] == 0
    assert 70 <= telemetry2[0]["delay_ms"] <= 120


def test_adaptive_jitter_never_degenerate():
    """Park-Miller requires nonzero state: seed 0 (or a modulus multiple)
    must still produce a moving jitter inside the 50..100 envelope, not a
    constant that re-synchronizes every poller."""
    from realtime_spark.streaming.adaptive import AdaptiveCadence

    for seed in (0, 0x7FFFFFFF, 1, 42):
        c = AdaptiveCadence(seed=seed)
        vals = {c._jitter() for _ in range(24)}
        assert len(vals) > 1, f"seed {seed}: jitter collapsed to {vals}"
        assert all(50 <= v <= 100 for v in vals)


def test_presence_null_meta_is_still_present(spark, tmp_path):
    """Presence is state existence, not meta non-nullness: a track with a
    null meta joins ONCE (re-tracks are no-ops), and untrack still emits
    the leave — on the stateful operator as on the batch analog."""
    import os

    rows = [
        ("r", "u1", "track", None, 1.0),
        ("r", "u1", "track", None, 2.0),   # re-track with same null meta: no-op
        ("r", "u1", "untrack", None, 3.0),  # leave must fire
        ("r", "u2", "track", None, 1.0),
        ("r", "u2", "track", "m", 2.0),    # null -> m is an update
    ]
    ev = spark.createDataFrame(
        rows,
        "topic string, presence_key string, action string, meta string, sec double",
    ).withColumn("ts", F.col("sec").cast("timestamp")).drop("sec")

    expected = {
        ("r", "u1", "join", None),
        ("r", "u1", "leave", None),
        ("r", "u2", "join", None),
        ("r", "u2", "update", "m"),
    }
    assert _as_set(presence_diffs_batch(ev)) == expected

    src = str(tmp_path / "src")
    ev.repartition(1).write.parquet(src)
    stream = spark.readStream.schema(
        "topic string, presence_key string, action string, meta string, ts timestamp"
    ).parquet(src)
    out_dir = str(tmp_path / "out")
    q = (
        presence_diffs_sharded(stream).writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert _as_set(spark.read.parquet(out_dir)) == expected
