"""Physical-plan regression tests: the acceptance bar at 100 TB is the plan
shape, not just matching rows. These pin the properties that matter —
zero-shuffle CDC match, parquet predicate pushdown, broadcast (never
sort-merge) joins on dim-sized sides, map-only sampling."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

import __spark_entry__ as em
from tests.conftest import SF_DIR


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark):
    qs = em.queries()
    cache: dict[str, str] = {}

    def get(name: str) -> str:
        if name not in cache:
            cache[name] = plan_of(qs[name](spark, SF_DIR))
        return cache[name]

    return get


def test_cdc_match_is_zero_shuffle(plans):
    # compiled subscription matching: one scan, no join, no exchange
    for q in ("cdc_multi_pairs", "cdc_subscription_ids", "cdc_filter_eq"):
        p = plans(q)
        assert "Exchange" not in p, f"{q}: unexpected shuffle\n{p}"
        assert "SortMergeJoin" not in p, f"{q}: unexpected SMJ"
        assert "Join" not in p, f"{q}: unexpected join operator"


def test_cdc_filters_reach_parquet_scan(plans):
    p = plans("cdc_filter_eq")
    assert "EqualTo(o_orderstatus,F)" in p, f"pushdown regressed:\n{p}"
    p = plans("cdc_filter_and")
    assert "EqualTo(o_orderstatus,O)" in p
    assert "GreaterThan(o_totalprice,150000.0)" in p


def test_scan_prunes_columns(plans):
    # eq filter query needs only change_id + the filtered column
    p = plans("cdc_filter_eq")
    import re

    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    assert schemas, "no parquet scan found"
    for s in schemas:
        cols = [c.split(":")[0] for c in s.split(",")]
        assert len(cols) <= 2, f"scan reads {cols}, expected pruned 2-col read"


def test_sampling_is_map_only(plans):
    p = plans("sample_hash")
    assert "Exchange" not in p, "hash_sample must not shuffle"
    p = plans("sample_splits")
    # one exchange for the final groupBy(split) count is fine; the split
    # assignment itself adds none beyond it
    assert p.count("Exchange") <= 2


def test_dim_joins_stay_broadcast(plans):
    # every dim-sized join side must broadcast; SMJ on these paths means the
    # planner lost the size hint (a 100 TB regression even when rows match)
    for q in ("decontaminate", "ann_ivf_topk", "replay_topk", "node_routing"):
        p = plans(q)
        assert "SortMergeJoin" not in p, f"{q}: sort-merge join crept in\n{p}"


def test_minhash_shuffles_only_digests(plans):
    # LSH shuffle rows are (doc, digest/band) scalars — the plan must not
    # shuffle the document text itself past the first explode projection
    p = plans("dedup_minhash_lsh")
    assert "SortMergeJoin" not in p
    import re

    for exchange_schema in re.findall(r"Arguments: hashpartitioning\(([^)]*)\)", p):
        assert "text" not in exchange_schema, (
            f"document text in shuffle key: {exchange_schema}"
        )


class TestSaltedJoin:
    def test_equivalent_to_plain_join_on_skewed_data(self, spark):
        from pyspark.sql import functions as F

        from realtime_spark.operators.skew import salted_join

        # 90% of rows share one hot key
        left = spark.range(2000).select(
            F.when(F.col("id") % 10 != 0, F.lit("hot")).otherwise(
                F.concat(F.lit("k"), F.col("id"))
            ).alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.createDataFrame(
            [("hot", 1), ("k0", 2), ("k10", 3), ("missing", 4)], "k string, w int"
        )
        got = salted_join(left, right, ["k"], salt=4)
        plain = left.join(right, "k")
        assert got.count() == plain.count()
        assert (
            got.groupBy().agg(F.sum(F.col("v") * F.col("w"))).collect()
            == plain.groupBy().agg(F.sum(F.col("v") * F.col("w"))).collect()
        )

    def test_salt_is_deterministic_across_recompute(self, spark):
        from pyspark.sql import functions as F

        from realtime_spark.operators.skew import salted_join

        left = spark.range(500).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
        right = spark.createDataFrame([("hot", 7)], "k string, w int")
        out = salted_join(left, right, ["k"], salt=8)
        a = sorted(r["v"] for r in out.collect())
        b = sorted(r["v"] for r in out.collect())
        assert a == b == list(range(500))


def test_behavior_batch_plan_shapes(plans):
    # OLS trend: one partial-agg shuffle, no window, no join
    p = plans("ols_trend")
    # formatted explain lists each node twice (tree + details): <=2 == one
    assert p.count("Exchange") <= 2, f"ols_trend should be one agg shuffle\n{p}"
    assert "Join" not in p and "Window" not in p

    # transitions: the lead window + count agg; no sort-merge join anywhere
    p = plans("event_transitions")
    assert "SortMergeJoin" not in p

    # hashed-embedding retrieval: corpus side joins via broadcast probe only
    p = plans("hash_embed_retrieval")
    assert "SortMergeJoin" not in p, f"hash_embed must broadcast\n{p}"

    # classifier inference: pure projection — zero shuffles, zero joins
    p = plans("quality_classifier")
    assert "Exchange" not in p and "Join" not in p

    # histogram quantiles: bin counts shuffle once; windows run on the tiny
    # per-bin frame; the q-values side is an explicit broadcast
    p = plans("hist_quantiles")
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_rls_pg_policy_dialect_shape(plans):
    """The translated pg-dialect policy must ride the compiled match plan:
    subscriptions explode inline from a literal array (zero-shuffle
    fanout), the policy is evaluated inside each change's match-set row
    (no policy-dim join at all), and the fact side never hash-partitions."""
    p = plans("rls_pg_policy_dialect")
    assert "Join" not in p, f"policy dim joined instead of evaluated in-row\n{p}"
    assert "Exchange hashpartitioning" not in p, f"fact side shuffled\n{p}"


def test_rls_exists_policy_is_broadcast_semi_join(spark, sf_dir):
    """The EXISTS-subquery policy must compile to a broadcast LEFT-SEMI
    join (no row expansion, small lookup broadcast) — the J5 shape."""
    import io
    from contextlib import redirect_stdout

    import __spark_entry__ as em

    df = em.queries()["rls_exists_policy"](spark, sf_dir)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin LeftSemi" in plan


def test_read_store_manifest_filter_prunes_partitions(spark, tmp_path):
    """The compaction manifest is applied as a PARTITION filter: orphaned /
    folded epoch directories must be pruned at planning time, never scanned
    (the whole point of read_store at 100 TB)."""
    from pyspark.sql import functions as F

    from realtime_spark.streaming.compaction import compact_store, read_store

    store = str(tmp_path / "store")
    for i in range(3):
        spark.range(i * 10, i * 10 + 10).toDF("v").write.parquet(
            f"{store}/ingest_epoch=e{i}"
        )
    compact_store(spark, store, lambda df, p: df.write.parquet(p))
    # plant a post-commit orphan (a folded dir a crash left behind)
    spark.range(0, 10).toDF("v").write.parquet(f"{store}/ingest_epoch=e0")
    df = read_store(spark, store)
    p = plan_of(df.groupBy().count())
    # the manifest condition appears under PartitionFilters (planning-time
    # pruning), NOT as a post-scan Filter over data rows
    assert "PartitionFilters" in p and "ingest_epoch" in p, p
    # and only the compacted base partition is visible — the orphan is
    # filtered by partition value, not by reading its rows
    tags = {
        r["ingest_epoch"]
        for r in df.select("ingest_epoch").distinct().collect()
    }
    assert tags == {"c0"}
