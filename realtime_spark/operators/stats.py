"""Exact-arithmetic statistical operators over the event stream.

Grouped OLS trend fitting, CUSUM changepoint detection, and fixed-bin
histogram quantile estimation — the monitoring/profiling layer a pipeline
runs over per-tenant event telemetry (the same streams the reference's rate
counters observe, lib/realtime/rate_counter/rate_counter.ex).

Determinism contract: every aggregation sums INTEGERS (cents-scaled values,
scaled deviations), so results are independent of partition/summation order
and the DuckDB oracle replays them exactly. Doubles appear only in the final
single-threaded division/interpolation step, which is bit-stable given exact
integer inputs.

Scale notes (100 TB):
- ols_trend: one map-side-combined groupBy per key — five integer sums per
  group; no window, no sort, no second pass. The regression of millions of
  rows per key collapses to one partial-agg shuffle.
- cusum: per-key hourly pre-aggregation first (map-side combine collapses
  raw events to |keys x hours| rows), then one window per key over the tiny
  hourly frame. The window input is bounded by the time range, not by the
  event count.
- histogram_quantiles: bin assignment is a pure projection; one groupBy on
  (bin) — the classic two-pass-free approximate-quantile shape. Contrast
  with exact percentile_approx/sort-based quantiles which shuffle full rows;
  here only NBINS partial counts cross the wire.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from realtime_spark.functions.timeutil import epoch_seconds

# epoch of 2024-01-01 00:00:00 UTC — offsets keep x*y products within bigint
BASE_EPOCH = 1_704_067_200
TS, VALUE = "ts", "value"


def cents(x: Column) -> Column:
    """Exact cents-scaling: floor(x*100 + 0.5) as bigint (engine-agnostic
    HALF_UP, same contract as text.quantize)."""
    return F.floor(x * 100 + F.lit(0.5)).cast("bigint")


def ols_trend(df: DataFrame, keys: Sequence[str], round_digits: int = 6) -> DataFrame:
    """Per-key least-squares trend of value over time.

    slope/intercept from the closed-form normal equations over exact
    integer sums: x = epoch_seconds - BASE_EPOCH (bigint), y = cents(value).
    Sums are decimal(38,0) so n*Sxy never overflows. Output slope is
    cents-per-second and intercept cents at BASE_EPOCH, both quantized.
    """
    x = (epoch_seconds(TS) - F.lit(BASE_EPOCH)).cast("bigint")
    y = cents(F.col(VALUE))
    d38 = "decimal(38,0)"
    # restrict EVERY statistic to rows where both x and y exist: count(1)
    # with null-skipping sums would mix populations and the normal
    # equations would solve neither regression
    sums = df.select(*keys, x.alias("x"), y.alias("y")).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    ).groupBy(*keys).agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
    )
    det = sums["n"] * sums["sxx"] - sums["sx"] * sums["sx"]
    slope_num = sums["n"] * sums["sxy"] - sums["sx"] * sums["sy"]
    icept_num = sums["sxx"] * sums["sy"] - sums["sx"] * sums["sxy"]
    scale = float(10**round_digits)
    q = lambda c: F.floor(c * scale + F.lit(0.5)) / F.lit(scale)  # noqa: E731
    # det=0 (single distinct timestamp or n=1) -> NULL, never a div-by-zero
    # double where Spark (NULL) and DuckDB (inf/NaN) would disagree.
    safe = lambda num: F.when(  # noqa: E731
        det != F.lit(0), q(num.cast("double") / det.cast("double"))
    )
    return sums.select(
        *keys,
        sums["n"].cast("bigint").alias("n"),
        safe(slope_num).alias("slope_cents_per_sec"),
        safe(icept_num).alias("intercept_cents"),
    )


def cusum_hours(
    df: DataFrame,
    keys: Sequence[str],
    threshold_hours: int = 3,
) -> DataFrame:
    """One-sided CUSUM over hourly event counts per key, exact integers.

    The recursive S_t = max(0, S_{t-1} + dev_t) unrolls to the window form
    S_t = U_t - min_{j<=t} U_j with U = running sum of deviations — two
    RANGE-free windows instead of a sequential fold, so it distributes.
    Deviations are scaled by H (hours observed for the key) to stay
    integer: dev_scaled = cnt*H - total. A changepoint fires when the
    scaled CUSUM exceeds threshold_hours * total, i.e. the cumulative
    excess over the key's mean reaches `threshold_hours` mean-hours.
    Output: per (key, hour) -> cnt, cusum_scaled, flagged.
    """
    hour = F.floor((epoch_seconds(TS) - F.lit(BASE_EPOCH)) / 3600).cast(
        "bigint"
    )
    hourly = df.select(*keys, hour.alias("hour")).groupBy(*keys, "hour").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return cusum_from_hourly(hourly, keys, threshold_hours)


def cusum_from_hourly(
    hourly: DataFrame, keys: Sequence[str], threshold_hours: int = 3
) -> DataFrame:
    """The CUSUM evaluation over an already-aggregated (keys, hour, cnt)
    frame — shared by the batch detector above and the streaming monitor
    (streaming/monitors.py), which writes each micro-batch's delta counts
    as one store epoch and runs this on their sum (``read_counts``)."""
    per_key = Window.partitionBy(*keys)
    stats = hourly.select(
        "*",
        F.count(F.lit(1)).over(per_key).alias("h_obs"),
        F.sum("cnt").over(per_key).alias("total"),
    )
    dev = (F.col("cnt") * F.col("h_obs") - F.col("total")).alias("dev")
    w = Window.partitionBy(*keys).orderBy("hour").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = stats.select(*keys, "hour", "cnt", "h_obs", "total", dev).withColumn(
        "u", F.sum("dev").over(w)
    )
    # min over j>=0 (implicit U_0 = 0 prefix): without the LEAST(0, ...)
    # an all-positive prefix-sum run would subtract U_1 and underestimate
    # S_t, missing changepoints in the earliest hours.
    s = F.col("u") - F.least(F.lit(0), F.min("u").over(w))
    return cum.select(
        *keys,
        "hour",
        "cnt",
        s.alias("cusum_scaled"),
        (s > threshold_hours * F.col("total")).alias("flagged"),
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    nbins: int,
    qs: Sequence[float],
    keys: Sequence[str] = (),
) -> DataFrame:
    """Approximate quantiles from a fixed equi-width histogram.

    Values clamp into [lo, hi) edge bins; per-bin exact counts; quantile
    q is linearly interpolated inside the first bin whose cumulative count
    reaches ceil(q*N). Unlike percentile()'s full sort or a t-digest's
    merge-order-dependent centroids, the histogram is ONE map-side-combined
    groupBy of at most `nbins` rows per key, and the estimate is a
    deterministic function of those exact integers. Output:
    (*keys, q, est, n).
    """
    width = (hi - lo) / nbins
    counts = df.select(
        *keys, value_bin(value_col, lo, width, nbins).alias("bin")
    ).filter(F.col("bin").isNotNull()).groupBy(*keys, "bin").agg(
        F.count(F.lit(1)).alias("c")
    )
    return quantiles_from_bins(counts, keys, lo, width, qs)


def value_bin(value_col: str, lo: float, width: float, nbins: int) -> Column:
    """Clamped equi-width bin assignment (shared by the batch histogram and
    the streaming bin-count monitor). NULL/NaN values yield a NULL bin —
    greatest() SKIPS null arguments, so without the guard they would clamp
    into bin 0 and drag every downstream quantile toward lo; consumers
    drop the NULL bin."""
    v = F.col(value_col)
    clamped = F.least(
        F.greatest(F.floor((v - F.lit(lo)) / F.lit(width)), F.lit(0)),
        F.lit(nbins - 1),
    ).cast("bigint")
    return F.when(v.isNotNull() & ~F.isnan(v.cast("double")), clamped)


def quantiles_from_bins(
    counts: DataFrame,
    keys: Sequence[str],
    lo: float,
    width: float,
    qs: Sequence[float],
) -> DataFrame:
    """Quantile interpolation over an already-aggregated (keys, bin, c)
    frame — bin counts sum-merge associatively, so a streaming fold of
    per-batch bin counts followed by this equals the batch histogram
    quantiles over the full stream (tested)."""
    df = counts
    w_cum = Window.partitionBy(*keys).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy(*keys)
    cum = counts.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(w_all)
    )
    qrows = cum.crossJoin(
        F.broadcast(
            df.sparkSession.createDataFrame(
                [(float(q),) for q in qs], "q double"
            )
        )
    )
    # q=0: ceil(0*n)=0 can never satisfy cum-c < 0 and the row would be
    # silently absent; clamp to the first value (the minimum)
    target = F.greatest(
        F.ceil(F.col("q") * F.col("n")).cast("bigint"), F.lit(1)
    )
    hit = qrows.filter(
        (F.col("cum") >= target) & (F.col("cum") - F.col("c") < target)
    )
    frac = (target - (F.col("cum") - F.col("c"))).cast("double") / F.col(
        "c"
    ).cast("double")
    est = F.lit(lo) + (F.col("bin").cast("double") + frac) * F.lit(width)
    scale = float(10**4)
    return hit.select(
        *keys,
        "q",
        (F.floor(est * scale + F.lit(0.5)) / F.lit(scale)).alias("est"),
        F.col("n").cast("bigint").alias("n"),
    )


def _median2(df: DataFrame, keys: Sequence[str], val_col: str, out: str) -> DataFrame:
    """2x-scaled exact median per key over integer values: lo+hi of the
    middle two order statistics (both the same row when the count is odd).
    Integer output, so downstream comparisons never touch floats. Ties in
    the value order are broken by the full row ordering column list the
    caller provides via val_col ordering only — value multiset is all that
    matters for order statistics."""
    w = Window.partitionBy(*keys).orderBy(F.col(val_col).asc())
    wk = Window.partitionBy(*keys)
    ranked = df.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_n", F.count(F.lit(1)).over(wk)
    )
    lo = (F.col("_n") + 1) / 2
    hi = (F.col("_n") + 2) / 2
    pick = F.when(F.col("_rn") == F.floor(lo), F.col(val_col)).otherwise(
        F.lit(0)
    ) + F.when(F.col("_rn") == F.floor(hi), F.col(val_col)).otherwise(F.lit(0))
    return ranked.groupBy(*keys).agg(F.sum(pick).cast("bigint").alias(out))


def robust_flags(df: DataFrame, keys: Sequence[str], k: int = 3) -> DataFrame:
    """Median/MAD (median absolute deviation) outlier detection over hourly
    event counts — the robust alternative to mean/stddev z-scores (a real
    spike inflates the mean AND the stddev, masking itself; the median and
    MAD barely move). All arithmetic is exact integers via 2x/4x scaling:

        med2 = 2*median(cnt)           (lo+hi of middle order statistics)
        dev2 = |2*cnt - med2|  = 2*|cnt - median|
        m4   = 2*median(dev2)  = 4*MAD
        flag ⟺ |cnt-median| > k*MAD ⟺ 2*dev2 > k*m4

    Output: (*keys, hour, cnt, dev2, m4, flagged).

    Scale shape: raw events collapse to hourly counts first (map-side
    combine); both medians are windows over the small per-key hourly frame.
    """
    hour = F.floor((epoch_seconds(TS) - F.lit(BASE_EPOCH)) / 3600).cast(
        "bigint"
    )
    hourly = df.select(*keys, hour.alias("hour")).groupBy(*keys, "hour").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    med = _median2(hourly, keys, "cnt", "med2")
    with_med = hourly.join(F.broadcast(med), list(keys))
    devs = with_med.withColumn(
        "dev2", F.abs(2 * F.col("cnt") - F.col("med2")).cast("bigint")
    )
    mad = _median2(devs, keys, "dev2", "m4")
    return (
        devs.join(F.broadcast(mad), list(keys))
        .select(
            *keys,
            "hour",
            "cnt",
            "dev2",
            "m4",
            (2 * F.col("dev2") > k * F.col("m4")).alias("flagged"),
        )
    )


def ols_state(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Mergeable OLS sufficient statistics per key: (n, sx, sy, sxy, sxx)
    as exact decimal(38,0) sums — the incremental-maintenance form of
    ols_trend. A day's increment merges into the standing state with
    merge_ols_states; no revisit of historical rows, ever."""
    x = (epoch_seconds(TS) - F.lit(BASE_EPOCH)).cast("bigint")
    y = cents(F.col(VALUE))
    d38 = "decimal(38,0)"
    # same both-non-null population rule as ols_trend (see its comment)
    return df.select(*keys, x.alias("x"), y.alias("y")).filter(
        F.col("x").isNotNull() & F.col("y").isNotNull()
    ).groupBy(*keys).agg(
        F.count(F.lit(1)).cast(d38).alias("n"),
        F.sum(F.col("x").cast(d38)).alias("sx"),
        F.sum(F.col("y").cast(d38)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).alias("sxx"),
    )


def merge_ols_states(a: DataFrame, b: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Sum-merge two OLS state frames (associative + commutative: integer
    sums). state(full) == merge(state(part1), state(part2)) exactly."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            *[
                F.sum(c).cast("decimal(38,0)").alias(c)
                for c in ("n", "sx", "sy", "sxy", "sxx")
            ]
        )
    )


def ols_from_state(
    state: DataFrame, keys: Sequence[str], round_digits: int = 6
) -> DataFrame:
    """Finalize slope/intercept from (possibly merged) sufficient
    statistics — identical arithmetic to ols_trend's tail, so
    ols_from_state(merge(states)) is bit-equal to ols_trend over the
    concatenated data."""
    det = state["n"] * state["sxx"] - state["sx"] * state["sx"]
    slope_num = state["n"] * state["sxy"] - state["sx"] * state["sy"]
    icept_num = state["sxx"] * state["sy"] - state["sx"] * state["sxy"]
    scale = float(10**round_digits)
    q = lambda c: F.floor(c * scale + F.lit(0.5)) / F.lit(scale)  # noqa: E731
    safe = lambda num: F.when(  # noqa: E731  (see ols_trend: det=0 -> NULL)
        det != F.lit(0), q(num.cast("double") / det.cast("double"))
    )
    return state.select(
        *keys,
        state["n"].cast("bigint").alias("n"),
        safe(slope_num).alias("slope_cents_per_sec"),
        safe(icept_num).alias("intercept_cents"),
    )
