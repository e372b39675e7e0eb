"""Measured scale report: drive each operator family at 1x and 20x input
and print the markdown table SCALE.md carries (`python -m realtime_spark.scale`).

The claim being tested is the one SCALE.md makes qualitatively: these plans
are linear in input volume with no driver-side or shuffle chokepoint, so a
20x replication should cost ~20x the *work* but — on a fixed 32-thread box
already saturated at 1x-at-sf0.1 — at most ~20x the wall, and less wherever
fixed stage overhead (job scheduling, plan compile, broadcast build)
dominates the 1x run. A super-linear wall ratio is the failure signal.

Replication is key-shifted (distinct ids per replica), the same construction
the env-gated smokes in tests/test_scale_smoke.py verify row-exactness for;
this module measures the wall clock those tests deliberately don't.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N = 20


def _replicate(df: DataFrame, key: str, n: int, string_key: bool = False) -> DataFrame:
    rep = df.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep")
    )
    shifted = (
        F.concat(F.col(key), F.lit("#"), F.col("rep"))
        if string_key
        else F.col(key) + F.col("rep") * F.lit(10_000_000_000)
    )
    return rep.withColumn(key, shifted).drop("rep")


def _time(df: DataFrame) -> tuple[float, int]:
    """Warm best-of-N wall for a full count of `df`."""
    best, n = None, 0
    for _ in range(3):  # first run warms (plan compile, page cache)
        t0 = time.perf_counter()
        n = df.count()
        dt = time.perf_counter() - t0
        if best is None or dt < best:
            best = dt
    return best, n


def families(spark, sf_dir: str, sf_small: str):
    """(name, build(n_replicas) -> DataFrame, sf_used) per family."""
    import __spark_entry__ as em
    from realtime_spark.operators.cdc import match_changes
    from realtime_spark.operators.dispatch import (
        cdc_fanout,
        fastlane_pairs,
        fastlane_summary,
    )
    from realtime_spark.operators.markov import transitions
    from realtime_spark.operators.placement import rebalance_audit
    from realtime_spark.plans.dispatch_plan import (
        _cdc_changes,
        _cdc_subscribers,
        _fl_messages,
        _fl_subscribers,
    )
    from realtime_spark.plans.placement_plan import (
        _CUR_NODES,
        _DEFAULT_NODE,
        _PREV_NODES,
        _nodes_df,
        _pl_tenants,
    )
    from realtime_spark.sources.pgoutput import (
        decode_pgoutput,
        pgoutput_frames_from_orders,
    )
    from realtime_spark.sources.testdata import changes_from_orders, load_table

    subs = em.subscriptions_df(spark, em._MULTI_SPECS)
    fl_subs = _fl_subscribers(spark)
    cdc_subs = _cdc_subscribers(spark)

    def cdc_match(n):
        c = changes_from_orders(spark, sf_dir)
        if n > 1:
            c = _replicate(c, "change_id", n)
        return match_changes(c, subs)

    def fastlane(n):
        m = _fl_messages(spark, sf_dir)
        if n > 1:
            m = _replicate(m, "msg_id", n)
        return fastlane_summary(fastlane_pairs(m, fl_subs))

    def fanout(n):
        c = _cdc_changes(spark, sf_dir)
        if n > 1:
            c = _replicate(c, "msg_id", n)
        return cdc_fanout(c, cdc_subs)

    def placement(n):
        t = _pl_tenants(spark, sf_dir)
        if n > 1:
            t = _replicate(t, "tenant_id", n, string_key=True)
        return rebalance_audit(
            t,
            _nodes_df(spark, _PREV_NODES),
            _nodes_df(spark, _CUR_NODES),
            _DEFAULT_NODE,
        )

    def behavior(n):
        e = load_table(spark, sf_dir, "events")
        if n > 1:
            e = (
                e.select(
                    "*",
                    F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep"),
                )
                .withColumn("user_id", F.col("user_id") + F.col("rep") * F.lit(1_000_000))
                .drop("rep")
            )
        return transitions(e)

    def pgoutput(n):
        f = pgoutput_frames_from_orders(spark, sf_small)
        if n > 1:
            f = (
                f.select(
                    "*",
                    F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("rep"),
                )
                .withColumn(
                    "slot", F.concat_ws("#", F.col("slot"), F.col("rep").cast("string"))
                )
                .drop("rep")
            )
        return decode_pgoutput(f)

    return [
        ("CDC compiled match", cdc_match, sf_dir),
        ("Fastlane dispatch + rollup", fastlane, sf_dir),
        ("CDC fan-out", fanout, sf_dir),
        ("Placement rebalance audit", placement, sf_dir),
        ("Behavior transitions", behavior, sf_dir),
        ("pgoutput decode (slot-sharded)", pgoutput, sf_small),
    ]


def main():
    import os

    from realtime_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_small = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("scale-report", cpus=cpus)

    rows = []
    for name, build, sf in families(spark, sf_dir, sf_small):
        w1, n1 = _time(build(1))
        wN, nN = _time(build(N))
        rows.append(
            {
                "family": name,
                "sf": sf.rsplit("sf", 1)[-1],
                "rows_1x": n1,
                "rows_20x": nN,
                "wall_1x_s": round(w1, 3),
                "wall_20x_s": round(wN, 3),
                "wall_ratio": round(wN / w1, 1),
                "rows_per_sec_20x": round(nN / wN),
            }
        )
        spark.catalog.clearCache()
        print(json.dumps(rows[-1]))

    print()
    print("| Family | sf | rows 1x -> 20x | wall 1x -> 20x (s) | wall ratio | rows/s at 20x |")
    print("|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['family']} | {r['sf']} | {r['rows_1x']:,} -> {r['rows_20x']:,} "
            f"| {r['wall_1x_s']} -> {r['wall_20x_s']} | {r['wall_ratio']}x "
            f"| {r['rows_per_sec_20x']:,} |"
        )


if __name__ == "__main__":
    main()
