"""On-disk day-partitioned message store: write/read roundtrip, replay and
retention with real partition pruning (O11/S10), and the compiled-vs-joined
CDC match strategy equivalence (J1 fallback path)."""

from __future__ import annotations

import io
import tempfile
from contextlib import redirect_stdout
from datetime import datetime

from pyspark.sql import functions as F

import __spark_entry__ as em
from realtime_spark.operators import cdc
from realtime_spark.operators.cdc import matched_pairs
from realtime_spark.operators.messages import (
    apply_retention,
    read_messages,
    write_messages,
)
from realtime_spark.operators.replay import replay_topk
from realtime_spark.sources.testdata import changes_from_orders, messages_from_events
from tests.conftest import SF_DIR

_SINCE, _UNTIL = "2024-01-05 00:00:00", "2024-01-20 00:00:00"


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _replay_set(df):
    return {(r["topic"], r["id"]) for r in df.collect()}


class TestPartitionedStore:
    def test_roundtrip_replay_and_pruning(self, spark):
        msgs = messages_from_events(spark, SF_DIR)
        expected = _replay_set(replay_topk(msgs, since=_SINCE, until=_UNTIL))
        with tempfile.TemporaryDirectory() as d:
            write_messages(msgs, d)
            stored = read_messages(spark, d)
            got_df = replay_topk(stored, since=_SINCE, until=_UNTIL)
            assert _replay_set(got_df) == expected
            p = _plan(got_df)
            assert "PartitionFilters" in p
            # the day bounds must actually appear as partition predicates
            assert "day" in p.split("PartitionFilters", 1)[1][:400]

    def test_retention_prunes_partitions(self, spark):
        msgs = messages_from_events(spark, SF_DIR)
        with tempfile.TemporaryDirectory() as d:
            write_messages(msgs, d)
            stored = read_messages(spark, d)
            kept = apply_retention(stored, now=datetime(2024, 1, 30, 23, 59, 59))
            in_mem = apply_retention(msgs, now=datetime(2024, 1, 30, 23, 59, 59))
            assert kept.count() == in_mem.count()
            seg = _plan(kept).split("PartitionFilters", 1)
            assert len(seg) == 2 and "day" in seg[1][:400]


class TestMatchStrategyEquivalence:
    def test_joined_fallback_matches_compiled(self, spark, monkeypatch):
        changes = changes_from_orders(spark, SF_DIR)
        subs = em.subscriptions_df(spark, em._MULTI_SPECS)

        def pairs():
            df = matched_pairs(changes, subs).select("c", F.explode("subs").alias("s")).select(
                F.col("c.change_id").alias("change_id"),
                F.col("s.subscription_id").alias("subscription_id"),
            )
            return {(r["change_id"], r["subscription_id"]) for r in df.collect()}

        compiled = pairs()
        monkeypatch.setattr(cdc, "COMPILE_MAX_SUBS", 0)
        joined = pairs()
        assert compiled == joined
        assert len(compiled) > 0

    def test_joined_plan_is_broadcast(self, spark, monkeypatch):
        changes = changes_from_orders(spark, SF_DIR)
        subs = em.subscriptions_df(spark, em._MULTI_SPECS)
        monkeypatch.setattr(cdc, "COMPILE_MAX_SUBS", 0)
        p = _plan(matched_pairs(changes, subs))
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p


class TestPhysicalRetention:
    def test_drop_old_partitions(self, spark):
        from realtime_spark.operators.messages import drop_old_partitions

        msgs = messages_from_events(spark, SF_DIR)
        now = datetime(2024, 1, 30, 23, 59, 59)
        expected_kept = apply_retention(msgs, now=now).count()
        with tempfile.TemporaryDirectory() as d:
            write_messages(msgs, d)
            import os

            before = {e for e in os.listdir(d) if e.startswith("day=")}
            dropped = drop_old_partitions(d, now=now)
            after = {e for e in os.listdir(d) if e.startswith("day=")}
            assert set(dropped) == before - after
            assert all(e < "day=2024-01-28" for e in dropped)
            # surviving data identical to the logical-filter form
            assert read_messages(spark, d).count() == expected_kept
            # idempotent
            assert drop_old_partitions(d, now=now) == []


class TestCompaction:
    def test_compact_reduces_files_preserves_rows(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from realtime_spark.operators.messages import compact_partitions

        path = str(tmp_path / "store")
        base = spark.range(300).select(
            F.col("id").cast("string").alias("id"),
            F.lit("t").alias("topic"),
            F.when(F.col("id") % 3 == 0, "2024-01-01")
            .when(F.col("id") % 3 == 1, "2024-01-02")
            .otherwise("2024-01-03")
            .alias("day"),
        )
        # simulate micro-batch appends: 5 writes -> many small files per day
        for i in range(5):
            base.filter(F.col("id").cast("long") % 5 == i).repartition(4).write.mode(
                "append"
            ).partitionBy("day").parquet(path)

        before_rows = sorted(r["id"] for r in spark.read.parquet(path).collect())
        stats = compact_partitions(spark, path)
        # hot (latest) day untouched; closed days compacted to 1 file
        assert set(stats) == {"2024-01-01", "2024-01-02"}
        for day, (nb, na) in stats.items():
            assert nb > 1 and na == 1, (day, nb, na)
        after_rows = sorted(r["id"] for r in spark.read.parquet(path).collect())
        assert after_rows == before_rows


class TestRealtimeSend:
    def test_generated_id_consistent_with_live_uuid(self, spark):
        """Regression (r8 review): with the production F.uuid() generator,
        the row id and the injected payload id must be THE SAME uuid per
        row (the reference's generated_id variable,
        migrations/20251103001201:16-24). Inlining the generator at both
        sites desynchronizes the two seeded uuid streams as soon as one
        row's payload already carries an 'id' key (the ELSE-branch
        occurrence skips its advance), lagging every later injected id by
        one row — so this fixture interleaves has-id rows."""
        from realtime_spark.operators.messages import realtime_send

        rows = []
        for i in range(90):
            p = {"k": str(i)}
            if i % 3 == 0:
                p["id"] = "client-supplied"
            rows.append((p, "ev", f"room:{i % 4}", False))
        df = spark.createDataFrame(
            rows,
            "payload map<string,string>, event string, topic string, private boolean",
        )
        out = realtime_send(df).select(
            "id", F.element_at("payload", "id").alias("pid")
        )
        got = out.collect()
        assert len(got) == 90
        kept = [r for r in got if r["pid"] == "client-supplied"]
        assert len(kept) == 30  # client id always wins inside the payload
        for r in got:
            if r["pid"] != "client-supplied":
                assert r["pid"] == r["id"], (r["pid"], r["id"])
        # the row ids themselves are fresh uuids, all distinct
        assert len({r["id"] for r in got}) == 90
        # staging column never leaks into the output schema
        assert "_rs_gen_id" not in realtime_send(df).columns
