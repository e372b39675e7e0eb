"""Change-feed materialization (operators/materialize.py): last-writer-wins
fold semantics + the plan property that makes it scale (partial-aggregated
max_by, no window sort)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from realtime_spark.operators.materialize import materialize_latest


def _changes(spark, rows):
    """rows: (change_id, seq, action, ts, value) on table public.t, pk=id."""
    data = [
        {
            "change_id": cid,
            "seq": seq,
            "action": action,
            "schema_name": "public",
            "table_name": "t",
            "commit_timestamp": ts,
            "record": None if action == "DELETE" else {"id": str(cid), "v": v},
            "old_record": {"id": str(cid), "v": v} if action != "INSERT" else None,
            "pk": ["id"],
        }
        for cid, seq, action, ts, v in rows
    ]
    return spark.createDataFrame(
        data,
        "change_id bigint, seq bigint, action string, schema_name string, "
        "table_name string, commit_timestamp timestamp, "
        "record map<string,string>, old_record map<string,string>, "
        "pk array<string>",
    )


class TestMaterializeSemantics:
    def test_last_write_wins_delete_and_reinsert(self, spark):
        import datetime as dt

        t = lambda h: dt.datetime(2026, 1, 1, h)
        rows = [
            # key 1: insert -> update: survives with v=b
            (1, 1, "INSERT", t(0), "a"),
            (1, 2, "UPDATE", t(1), "b"),
            # key 2: insert -> delete: gone
            (2, 1, "INSERT", t(0), "a"),
            (2, 2, "DELETE", t(1), "a"),
            # key 3: insert -> delete -> re-insert: resurfaces with v=c
            (3, 1, "INSERT", t(0), "a"),
            (3, 2, "DELETE", t(1), "a"),
            (3, 3, "INSERT", t(2), "c"),
            # key 4: same timestamp, seq breaks the tie
            (4, 1, "INSERT", t(0), "x"),
            (4, 2, "UPDATE", t(0), "y"),
        ]
        # shuffle arrival order: materialization must not depend on input order
        shuffled = [rows[i] for i in (5, 2, 8, 0, 6, 3, 1, 7, 4)]
        out = materialize_latest(_changes(spark, shuffled))
        got = {
            r["pk_text"]: (r["record"]["v"], r["last_action"], r["n_versions"])
            for r in out.collect()
        }
        assert got == {
            "1": ("b", "UPDATE", 2),
            "3": ("c", "INSERT", 3),
            "4": ("y", "UPDATE", 2),
        }

    def test_truncate_wipes_then_reinsert_resurfaces(self, spark):
        import datetime as dt

        from realtime_spark.operators.materialize import apply_truncates

        t = lambda h: dt.datetime(2026, 1, 1, h)
        rows = [
            # key 1: only pre-truncate writes -> wiped
            (1, 1, "INSERT", t(0), "a"),
            (1, 2, "UPDATE", t(1), "b"),
            # key 2: pre-truncate insert, post-truncate update -> survives
            # with only the post-truncate version counted
            (2, 1, "INSERT", t(0), "a"),
            (2, 2, "UPDATE", t(3), "c"),
            # key 3: re-insert after the truncate -> resurfaces
            (3, 1, "INSERT", t(0), "a"),
            (3, 2, "INSERT", t(4), "d"),
        ]
        feed = _changes(spark, rows)
        trunc = spark.createDataFrame(
            [
                {
                    "change_id": None,
                    "seq": 0,
                    "action": "TRUNCATE",
                    "schema_name": "public",
                    "table_name": "t",
                    "commit_timestamp": t(2),
                    "record": None,
                    "old_record": None,
                    "pk": None,
                }
            ],
            feed.schema,
        )
        out = materialize_latest(apply_truncates(feed.unionByName(trunc)))
        got = {
            r["pk_text"]: (r["record"]["v"], r["n_versions"]) for r in out.collect()
        }
        assert got == {"2": ("c", 1), "3": ("d", 1)}

    def test_truncate_other_table_untouched(self, spark):
        import datetime as dt

        from realtime_spark.operators.materialize import apply_truncates

        feed = _changes(spark, [(1, 1, "INSERT", dt.datetime(2026, 1, 2), "a")])
        trunc = spark.createDataFrame(
            [
                {
                    "change_id": None,
                    "seq": 0,
                    "action": "TRUNCATE",
                    "schema_name": "public",
                    "table_name": "other",
                    "commit_timestamp": dt.datetime(2026, 1, 3),
                    "record": None,
                    "old_record": None,
                    "pk": None,
                }
            ],
            feed.schema,
        )
        out = materialize_latest(apply_truncates(feed.unionByName(trunc)))
        assert [r["pk_text"] for r in out.collect()] == ["1"]

    def test_idempotent_on_replay(self, spark):
        import datetime as dt

        rows = [
            (1, 1, "INSERT", dt.datetime(2026, 1, 1), "a"),
            (1, 2, "UPDATE", dt.datetime(2026, 1, 2), "b"),
        ]
        once = materialize_latest(_changes(spark, rows))
        twice = materialize_latest(_changes(spark, rows + rows))
        assert once.select("pk_text", "record").collect()[0]["record"]["v"] == "b"
        assert twice.select("pk_text", "record").collect()[0]["record"]["v"] == "b"


class TestMaterializePlan:
    def test_no_window_sort_single_aggregate_exchange(self, spark):
        from realtime_spark.sources.testdata import versioned_changes_from_orders
        from tests.conftest import SF_DIR

        out = materialize_latest(versioned_changes_from_orders(spark, SF_DIR))
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        p = buf.getvalue()
        # max_by fold: aggregate (partial -> final), never a window
        assert "Window" not in p, p
        # map-side combine: the shuffle carries one candidate row per key
        # per map partition, not every change row
        assert "partial_max_by" in p, p
        # exactly one shuffle: the hash exchange on the grouping key
        # ("formatted" prints each node once in the tree as "Exchange (n)")
        assert p.count("Exchange (") == 1, p


class TestStreamingMaterializedView:
    def test_snapshot_converges_to_batch_fold(self, spark):
        import os
        import tempfile

        from realtime_spark.operators.materialize import materialize_latest
        from realtime_spark.sources.testdata import versioned_changes_from_orders
        from realtime_spark.streaming.materialize_stream import (
            run_materialize_stream,
            serve_snapshot,
        )
        from tests.conftest import SF_DIR

        changes = versioned_changes_from_orders(spark, SF_DIR)
        with tempfile.TemporaryDirectory() as d:
            src = os.path.join(d, "src")
            store = os.path.join(d, "store")
            ckpt = os.path.join(d, "ckpt")
            # micro-batch boundary between early and late versions
            changes.filter("seq <= 1").write.parquet(os.path.join(src, "b1"))
            changes.filter("seq >= 2").write.parquet(os.path.join(src, "b2"))
            stream = (
                spark.readStream.schema(changes.schema)
                .option("maxFilesPerTrigger", "1")
                .option("recursiveFileLookup", "true")
                .parquet(src)
            )
            q = run_materialize_stream(stream, store, ckpt)
            q.awaitTermination(120)

            got = serve_snapshot(spark, store)
            want = materialize_latest(changes)
            g = {
                r["pk_text"]: (r["record"]["o_orderstatus"], r["n_versions"])
                for r in got.collect()
            }
            w = {
                r["pk_text"]: (r["record"]["o_orderstatus"], r["n_versions"])
                for r in want.collect()
            }
            assert g == w and len(g) > 0


class TestCompaction:
    """compact_changes algebra: applying the compacted net changes to the
    base snapshot must land exactly on the full fold — the invariant that
    makes compaction a safe substitute for replaying the raw window."""

    def test_base_plus_compacted_equals_full_fold(self, spark):
        from realtime_spark.operators.materialize import (
            compact_changes,
            materialize_latest,
        )
        from realtime_spark.sources.testdata import versioned_changes_from_orders
        from tests.conftest import SF_DIR

        changes = versioned_changes_from_orders(spark, SF_DIR)
        base = materialize_latest(
            changes.filter(F.col("seq") <= 1), keep_tombstones=True
        )
        net = compact_changes(changes, before=F.col("seq") <= 1)

        # apply the net changes to the base state
        b = {
            r["pk_text"]: r["record"]["o_orderstatus"]
            for r in base.filter(F.col("last_action") != "DELETE").collect()
        }
        for r in net.collect():
            if r["net_action"] == "DELETE":
                assert r["pk_text"] in b
                del b[r["pk_text"]]
            elif r["net_action"] == "INSERT":
                assert r["pk_text"] not in b
                b[r["pk_text"]] = r["record"]["o_orderstatus"]
            else:  # UPDATE
                assert r["pk_text"] in b
                assert r["old_record"]["o_orderstatus"] == b[r["pk_text"]]
                b[r["pk_text"]] = r["record"]["o_orderstatus"]

        want = {
            r["pk_text"]: r["record"]["o_orderstatus"]
            for r in materialize_latest(changes).collect()
        }
        assert b == want

    def test_single_shared_aggregate_exchange(self, spark):
        from realtime_spark.operators.materialize import compact_changes
        from realtime_spark.sources.testdata import versioned_changes_from_orders
        from tests.conftest import SF_DIR

        changes = versioned_changes_from_orders(spark, SF_DIR)
        out = compact_changes(changes, before=F.col("seq") <= 1)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        p = buf.getvalue()
        # base and window fold in ONE shared partial-aggregated groupBy —
        # not a join of two folds
        assert "partial_max_by" in p, p
        assert p.count("Exchange (") == 1, p
        assert "SortMergeJoin" not in p, p


class TestReplayAlgebra:
    def test_snapshot_plus_tail_equals_full_fold(self, spark):
        """Replay correctness: state-as-of(T) merged with the fold of
        changes AFTER T must equal the fold of the whole feed — the
        algebraic guarantee that lets a consumer bootstrap from a snapshot
        and then tail the feed (the reference's replay-then-live pattern,
        messages.ex:22-43, at table-state granularity)."""
        from realtime_spark.operators.materialize import (
            materialize_latest,
            merge_snapshots,
            snapshot_asof,
        )
        from realtime_spark.sources.testdata import (
            versioned_changes_from_orders,
        )
        from tests.conftest import SF_DIR

        changes = versioned_changes_from_orders(spark, SF_DIR)
        # split point between versions 2 and 3: min orderdate + 90 minutes
        # puts seq 1-2 before and seq 3-4 after for early keys; the exact
        # boundary doesn't matter — the algebra must hold for ANY T
        t = changes.agg(
            F.date_format(
                F.min("commit_timestamp") + F.expr("INTERVAL 90 MINUTES"),
                "yyyy-MM-dd HH:mm:ss",
            )
        ).collect()[0][0]

        base = snapshot_asof(changes, t, keep_tombstones=True)
        tail = materialize_latest(
            changes.filter(
                F.col("commit_timestamp") > F.lit(t).cast("timestamp")
            ),
            keep_tombstones=True,
        )
        replayed = merge_snapshots(base, tail).filter(
            F.col("last_action") != "DELETE"
        )
        full = materialize_latest(changes)

        def key(df):
            return {
                r["pk_text"]: (
                    r["record"]["o_orderstatus"],
                    r["last_action"],
                    r["n_versions"],
                )
                for r in df.collect()
            }

        assert key(replayed) == key(full)


class TestSnapshotStoreVersioning:
    def test_fresh_checkpoint_fails_loudly_and_keeps_store(self, spark, tmp_path):
        """Epoch ids belong to the checkpoint: a second pipeline run with a
        FRESH checkpoint (epochs restart at 0) against the same store would
        overwrite the first run's e0. The run must fail loudly instead, and
        the served snapshot must stay exactly the first run's."""
        import datetime
        import os

        from pyspark.errors.exceptions.captured import StreamingQueryException

        from realtime_spark.streaming.materialize_stream import (
            run_materialize_stream,
            serve_snapshot,
        )

        def one_change(cid, status):
            return (
                cid, cid, "INSERT", "public", "t",
                datetime.datetime(2026, 1, 1),
                {"id": "1", "s": status}, None, ["id"],
            )

        ddl = (
            "change_id bigint, seq bigint, action string, schema_name string, "
            "table_name string, commit_timestamp timestamp, "
            "record map<string,string>, old_record map<string,string>, "
            "pk array<string>"
        )
        base = str(tmp_path)
        store = os.path.join(base, "store")

        def run(n, status):
            src = os.path.join(base, f"src{n}")
            spark.createDataFrame([one_change(n, status)], ddl).write.parquet(src)
            stream = spark.readStream.schema(ddl).parquet(src)
            # fresh checkpoint per run: epochs restart at 0 both times
            return run_materialize_stream(stream, store, os.path.join(base, f"ckpt{n}"))

        run(1, "A").awaitTermination(120)
        before = serve_snapshot(spark, store).collect()
        assert [r["record"]["s"] for r in before] == ["A"]

        q = run(2, "B")
        with pytest.raises(StreamingQueryException, match="EpochRewindError"):
            q.awaitTermination(120)
            raise AssertionError("fresh-checkpoint restart must fail loudly")
        assert serve_snapshot(spark, store).collect() == before

    def test_replayed_epoch_counts_versions_once(self, spark, tmp_path):
        """A replayed micro-batch overwrites its own epoch with the same
        fold, so n_versions counts each change once; a snapshot frame
        resolved before the next epoch still collects after it."""
        from realtime_spark.sources.testdata import versioned_changes_from_orders
        from realtime_spark.streaming.materialize_stream import (
            process_materialize_batch,
            serve_snapshot,
        )
        from tests.conftest import SF_DIR

        def key(df):
            return {
                r["pk_text"]: (r["record"]["o_orderstatus"], r["n_versions"])
                for r in df.collect()
            }

        changes = versioned_changes_from_orders(spark, SF_DIR)
        early, late = changes.filter("seq <= 1"), changes.filter("seq >= 2")
        store = str(tmp_path / "store")
        process_materialize_batch(early, 0, store)
        resolved = serve_snapshot(spark, store)
        process_materialize_batch(late, 1, store)
        process_materialize_batch(late, 1, store)  # the replay
        assert key(resolved) == key(materialize_latest(early))
        want = key(materialize_latest(changes))
        assert key(serve_snapshot(spark, store)) == want and want
