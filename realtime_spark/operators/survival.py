"""Survival analysis over user activity: Kaplan-Meier churn curves
(Kaplan & Meier 1958) with right-censoring — the retention tool that
handles still-active users correctly, unlike naive churn rates that treat
"hasn't churned yet" as "won't churn".

Determinism contract: the KM product S(t) = Π_{t_i <= t} (n_i - d_i)/n_i
is a SEQUENTIAL fold whose float form is not portably reproducible (libm
exp/ln differ across engines). Instead the fold runs in exact integer
micro-units — S_micro_{i} = (S_micro_{i-1} * (n_i - d_i)) div n_i — over
the per-duration life table. The life table is bounded by the observation
window (|distinct durations| ≤ days observed), so the fold happens
driver-side over the AGGREGATED table (same contract as PQ codebooks:
collect only dimension-sized aggregates, never rows); the DuckDB oracle
replays the identical integers with a recursive CTE.

Scale shape: per-user first/last timestamps are one map-side-combined
groupBy over the event log (the only pass that sees raw events); the life
table derives from |users| rows via one more tiny aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_spark.functions.timeutil import epoch_seconds

MICRO = 1_000_000


def user_lifetimes(
    df: DataFrame,
    churn_horizon_s: int = 7 * 86400,
    duration_unit_s: int = 86400,
) -> DataFrame:
    """Per-user observation: duration = floor((last-first)/unit) and the
    churn event flag — a user whose last activity is more than
    `churn_horizon_s` before the corpus end has churned; later activity
    means right-censored (still alive at observation end)."""
    spans = df.groupBy("user_id").agg(
        F.min(epoch_seconds("ts")).alias("first_s"),
        F.max(epoch_seconds("ts")).alias("last_s"),
    )
    # corpus end from the ALREADY-aggregated spans (max of per-user maxes
    # is the global max): re-scanning the raw event log for one scalar
    # would double the only raw pass
    end = spans.agg(F.max("last_s").alias("end_s"))
    return spans.crossJoin(F.broadcast(end)).select(
        "user_id",
        F.floor((F.col("last_s") - F.col("first_s")) / duration_unit_s)
        .cast("bigint")
        .alias("duration"),
        (F.col("last_s") < F.col("end_s") - churn_horizon_s).alias("churned"),
    )


def km_life_table(lifetimes: DataFrame) -> DataFrame:
    """Life table: per distinct duration d — at_risk (users with duration
    >= d), churned (events at d), censored (censorings at d)."""
    per_day = lifetimes.groupBy("duration").agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).alias("churned"),
        F.sum(F.when(~F.col("churned"), 1).otherwise(0)).alias("censored"),
    )
    from pyspark.sql import Window

    w = (
        Window.orderBy(F.col("duration").asc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return per_day.select(
        "duration",
        F.sum(F.col("churned") + F.col("censored")).over(w).alias("at_risk"),
        F.col("churned").cast("bigint").alias("churned"),
        F.col("censored").cast("bigint").alias("censored"),
    )


def kaplan_meier(
    df: DataFrame,
    churn_horizon_s: int = 7 * 86400,
    duration_unit_s: int = 86400,
) -> DataFrame:
    """Kaplan-Meier survival curve in exact integer micro-units:
    (duration, at_risk, churned, censored, surv_micro) where surv_micro
    folds S * (n-d) div n over durations in order. The fold runs
    driver-side over the window-bounded life table (a scalar-sized
    collect); every arithmetic step is integer-exact."""
    table = km_life_table(
        user_lifetimes(df, churn_horizon_s, duration_unit_s)
    )
    rows = sorted(table.collect(), key=lambda r: r["duration"])
    out = []
    s = MICRO
    for r in rows:
        if r["churned"] > 0:
            s = (s * (r["at_risk"] - r["churned"])) // r["at_risk"]
        out.append(
            (
                r["duration"],
                r["at_risk"],
                r["churned"],
                r["censored"],
                s,
            )
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        out,
        "duration bigint, at_risk bigint, churned bigint, "
        "censored bigint, surv_micro bigint",
    )
