"""Per-series statistical analysis operators: autocorrelation (ACF),
CUSUM changepoint scoring, exact-percentile series profiling with IQR
outlier counts, and an index-based periodogram for seasonality strength.

These extend the reference's per-series analysis surface (seasonality
linking, strategy_linking_multi_graphs.py:28-60; correlation linking,
:80-118) with the classic statistical summaries a monitoring/analytics
tier serves next to the rollup tables.

Scale shapes (Catalyst, except the per-series kernels named last):
  * acf / cusum / periodogram: ONE exchange on the series key — the
    per-series moments ride an unordered window over the same partition
    the ordered window uses, and the final aggregate is a partial-agg'd
    refinement of that key.  Wide per-lag/per-period sums are aggregated
    FIRST (one row per series in the exchange), then exploded to long
    form on the tiny aggregated frame — the shuffle never carries
    per-point rows times lags.
  * series_profile: one hash aggregate for the moments + exact
    percentiles, then a second scan counting IQR outliers against the
    per-series fences joined back via BROADCAST (the profile is one row
    per series — always the small side).  Exact percentiles hold the
    group's values in memory (sort-based agg); at 10^12-point scale swap
    `F.percentile` for `percentile_approx` — same call shape, sketch
    memory, no exchange change.
  * theil_sen_trend / mann_kendall / matrix_profile / pelt_changepoints:
    one collect_list shuffle on the series key, then one Python crossing
    through the package's Arrow emitter (`emit._map_segments`, one
    kernel per series row; a null series row yields no rows).  The
    per-series quadratic work stays inside the kernel, never in a
    shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType,
                               StructField, StructType)
from pyspark.sql.window import Window

from ts2g2_spark.operators import kernels
from ts2g2_spark.operators.emit import _map_segments, _row_kernel
from ts2g2_spark.operators.summarize import _okey


def _series_windows(series_cols, ts_col, order_col):
    scols = [F.col(c) for c in series_cols]
    wo = Window.partitionBy(*scols).orderBy(_okey(ts_col, order_col))
    wa = Window.partitionBy(*scols)
    return scols, wo, wa


def acf(
    points: DataFrame,
    max_lag: int = 5,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
) -> DataFrame:
    """Sample autocorrelation per series at lags 1..max_lag, with the
    standard estimator: acf(k) = sum_{t>k}(x_t - m)(x_{t-k} - m) /
    sum_t (x_t - m)^2, m the full-series mean.  Rows ordered by
    (ts, order_col).  acf is NULL when the series is constant (zero
    denominator) or shorter than k+1 points; rounded to 6 decimals
    (cross-engine summation-order drift).

    Output: series cols + lag, n_pairs, acf — one row per (series, lag).
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    scols, wo, wa = _series_windows(series_cols, ts_col, order_col)
    v = F.col(val_col)
    m = F.avg(v).over(wa)
    staged = points.select(
        *scols,
        (v - m).alias("_d"),
        *[(F.lag(v, k).over(wo) - m).alias(f"_d{k}")
          for k in range(1, max_lag + 1)],
    )
    wide = staged.groupBy(*series_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.col("_d") * F.col("_d")).alias("_den"),
        *[F.sum(F.col("_d") * F.col(f"_d{k}")).alias(f"_num{k}")
          for k in range(1, max_lag + 1)],
    )
    # explode lags on the one-row-per-series aggregate, never per point
    lag_structs = F.array(*[
        F.struct(F.lit(k).alias("lag"), F.col(f"_num{k}").alias("_num"))
        for k in range(1, max_lag + 1)
    ])
    exploded = wide.select(
        *series_cols, "_n", "_den", F.explode(lag_structs).alias("_l")
    ).select(
        *series_cols, "_n", "_den",
        F.col("_l.lag").alias("lag"), F.col("_l._num").alias("_num"),
    )
    n_pairs = F.greatest(F.col("_n") - F.col("lag"), F.lit(0)).cast("long")
    return exploded.select(
        *series_cols, "lag",
        n_pairs.alias("n_pairs"),
        F.when(
            (F.col("_den") > 0) & (F.col("_n") > F.col("lag")),
            F.round(F.col("_num") / F.col("_den"), 6),
        ).alias("acf"),
    )


def seasonal_decompose(
    points: DataFrame,
    period: int,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
    round_dp: int = 9,
) -> DataFrame:
    """Classical additive seasonal decomposition per series (the
    statsmodels `seasonal_decompose` contract, index-positional):

      trend    = centered moving average of width `period` (the 2xp-MA
                 with half-weight endpoints when `period` is even);
                 NULL where the full window does not exist (series ends)
      seasonal = per-phase mean of (value - trend), centered so the
                 seasonal component sums to ~0 over one period;
                 phase = 0-based position mod period
      resid    = value - trend - seasonal (NULL where trend is NULL)

    Scale shape: one ordered-window pass on the series key computes the
    position, frame sum, frame count, and the +-h endpoint lag/lead —
    all on the same exchange; the per-(series, phase) seasonal means are
    a partial-agg'd aggregate of that frame joined back on
    (series, phase) — the join's right side is |series| x period rows,
    broadcast-sized.

    ROUNDING CONTRACT: only the OUTPUT columns are rounded (to
    `round_dp`); every intermediate stays a raw double, and the seasonal
    component gets a +1e-13 nudge before its round.  Why: with
    fixed-decimal inputs, value - trend is a rational with denominator
    2^a*3^b*5^c, and the phase-mean arithmetic can produce decimals that
    terminate EXACTLY on a .5e-9 half (e.g. -31.2155078125, denominator
    2^12) — there Spark's exact-decimal HALF_UP and a float engine's
    approximation round to different sides.  The nudge moves structural
    halves decisively past the boundary on both engines (1e-13 is ~7
    ulps at magnitude ~100, far above the ~1e-14 cross-engine summation
    noise, far below the 1e-9 output grid); trend and resid cannot
    structurally land on halves (their terminating expansions stop
    before the half digit), so they are rounded plainly.

    Output: series cols + pos, ts, value, trend, seasonal, resid.
    """
    if period < 2:
        raise ValueError(f"seasonal_decompose: period must be >= 2, "
                         f"got {period}")
    scols, wo, wa = _series_windows(series_cols, ts_col, order_col)
    v = F.col(val_col)
    h = period // 2
    frame = wo.rowsBetween(-h, h)
    even = period % 2 == 0
    s = F.sum(v).over(frame)
    cnt = F.count(v).over(frame)
    if even:
        # 2xp-MA: half weight on the two endpoints of the (p+1)-row frame
        ma = (s - 0.5 * (F.lag(v, h).over(wo) + F.lead(v, h).over(wo))) \
            / period
        full = cnt == (period + 1)
    else:
        ma = s / period
        full = cnt == period
    staged = points.select(
        *scols,
        (F.row_number().over(wo) - 1).alias("pos"),
        F.col(ts_col),
        v.alias("value"),
        F.when(full, ma).alias("_trend"),
    ).withColumn("phase", F.col("pos") % period)
    phase_means = staged.groupBy(*series_cols, "phase").agg(
        F.avg(F.col("value") - F.col("_trend")).alias("_pm"))
    centered = phase_means.withColumn(
        "_seasonal",
        F.round(
            F.col("_pm")
            - F.avg("_pm").over(Window.partitionBy(*scols))
            + F.lit(1e-13),
            round_dp),
    ).drop("_pm")
    out = staged.join(F.broadcast(centered), [*series_cols, "phase"])
    return out.select(
        *series_cols, "pos", F.col(ts_col), "value",
        F.round(F.col("_trend"), round_dp).alias("trend"),
        F.col("_seasonal").alias("seasonal"),
        F.round(F.col("value") - F.col("_trend") - F.col("_seasonal"),
                round_dp).alias("resid"),
    )


def ewma_weights(alpha: float, tol: float = 1e-13, max_lags: int = 512):
    """The truncated EWMA kernel shared by the operator and any SQL
    oracle: weights w_j = (1-alpha)^j for j = 0..K where K is the first
    lag with w_K < tol (so the truncation error is below the output
    rounding grid), plus the left-fold prefix sums used as the
    normalizer.  Both lists are plain Python floats — embed them as
    literals on BOTH engines so the two compute bit-identical folds.
    """
    if not 0 < alpha < 1:
        raise ValueError(f"ewma: alpha must be in (0, 1), got {alpha}")
    r = 1.0 - alpha
    k = math.ceil(math.log(tol) / math.log(r))
    if k > max_lags:
        raise ValueError(
            f"ewma: alpha={alpha} needs {k} lags to reach tol={tol} "
            f"(> max_lags={max_lags}); raise tol or alpha")
    weights = [r ** j for j in range(k + 1)]
    prefix, acc = [], 0.0
    for w in weights:
        acc = acc + w  # left fold, matching the num expression's order
        prefix.append(acc)
    return weights, prefix


def ewma(
    points: DataFrame,
    alpha: float,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
    round_dp: int = 9,
) -> DataFrame:
    """Exponentially-weighted moving average per series (the pandas
    `ewm(alpha, adjust=True).mean()` contract), computed as a TRUNCATED
    weighted lag sum: y_t = sum_j w_j * x_{t-j} / sum_j w_j over
    j = 0..min(t, K), with w_j = (1-alpha)^j and K the first lag where
    w_K < 1e-13 — the dropped tail is below the `round_dp` output grid.

    DETERMINISM CONTRACT: the truncated kernel, the literal weights, and
    the LEFT-FOLD summation order are the spec — an oracle embedding the
    same `ewma_weights()` literals in a left-associative `+` chain
    computes the bit-identical double, so the rounded outputs match
    hash-exactly with no tolerance games.  The normalizer comes from the
    prefix-sum array literal (indexed at min(pos, K)), not a pow() call,
    because libm pow differs across engines in the last ulp.

    Output: series cols + pos, ts, value, ewma (rounded to `round_dp`).

    One ordered window pass on the series key evaluates all K+1 lag
    frames together (sort-based window operator, O(K) state per task);
    no joins, no second exchange.  Safe for UNBOUNDED series length —
    nothing materializes a whole series.  Cost: the widest expression
    tree in the repo (~85 terms at alpha=0.3), all evaluated per row
    JVM-side.

    K is ~84 at alpha=0.3 and grows as log(tol)/log(1-alpha) — bounded,
    and independent of series length.  Assumes non-null values
    (lag-null means "before the series start"); NULL inputs would be
    treated as 0 in the numerator but still counted by the
    position-based normalizer.
    """
    weights, prefix = ewma_weights(alpha)
    scols, wo, _ = _series_windows(series_cols, ts_col, order_col)
    v = F.col(val_col).cast("double")
    pos = F.row_number().over(wo) - 1
    num = v * F.lit(weights[0])
    for j in range(1, len(weights)):
        num = num + (F.coalesce(F.lag(v, j).over(wo), F.lit(0.0))
                     * F.lit(weights[j]))
    den = F.element_at(
        F.array(*[F.lit(p) for p in prefix]),
        (F.least(pos, F.lit(len(weights) - 1)) + 1).cast("int"))
    return points.select(
        *scols,
        pos.alias("pos"),
        F.col(ts_col),
        v.alias("value"),
        F.round(num / den, round_dp).alias("ewma"),
    )


def _collect_raw_series(points, series_cols, ts_col, val_col, order_col):
    """Shared collect-to-Arrow scaffolding for raw-point series kernels:
    one collect_list shuffle on the series key, sorted by the
    (unix_micros ts [, order_col], value) struct — the repo's canonical
    series order contract.  Returns (grouped, key_fields) where grouped
    has the series cols plus `_uss` (unix_micros array) and `_vs`
    (double array).  Timestamps travel as unix_micros longs because
    Arrow hands kernels session-LOCAL naive datetimes; kernels that
    need instants must use `_uss`, and consumers rebuild timestamps
    relationally (timestamp_micros) on the way out."""
    scols = [F.col(c) for c in series_cols]
    okey = [F.unix_micros(F.col(ts_col).cast("timestamp")).alias("_us")]
    if order_col is not None:
        okey.append(F.col(order_col))
    staged = points.select(
        *scols, *okey, F.col(val_col).cast("double").alias("_v"))
    sort_struct = F.struct(
        *(["_us"] + ([order_col] if order_col is not None else [])
          + ["_v"]))
    grouped = staged.groupBy(*scols).agg(
        F.sort_array(F.collect_list(sort_struct)).alias("_s")
    ).select(*scols, F.col("_s._us").alias("_uss"),
             F.col("_s._v").alias("_vs"))
    return grouped, [grouped.schema[c] for c in series_cols]


def _array_median(arr):
    """Exact median of an array column: sort, average the two middle
    elements (equal for odd counts).  Pure index arithmetic + one
    two-term average — bit-identical in any IEEE engine, so a SQL twin
    using the same formula hash-matches without tolerance.  Returns
    (median, n) column expressions."""
    s = F.sort_array(arr)
    n = F.size(arr)
    lo = F.element_at(s, F.floor((n + 1) / 2).cast("int"))
    hi = F.element_at(s, (F.floor(n / 2) + 1).cast("int"))
    return (lo + hi) / 2, n


def hampel_filter(
    points: DataFrame,
    k: int = 3,
    n_sigmas: float = 3.0,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
    round_dp: int = 9,
) -> DataFrame:
    """Hampel outlier filter: for each point, take the centered window
    of up to 2k+1 neighbours (fewer at the series edges), compute the
    window median and the median absolute deviation (MAD), and flag the
    point when |x - med| > n_sigmas * 1.4826 * MAD (1.4826 is the
    consistency constant making MAD estimate sigma under normality).
    The robust cousin of rolling_zscore — a single planted spike cannot
    inflate its own threshold the way it inflates a mean/stddev.

    Medians are exact: the frame's values ride a collect_list, and the
    median is sort + two-middle average (`_array_median`) — index
    arithmetic and a two-term mean only, so an oracle computing the
    same formula produces bit-identical doubles and the boolean flag
    compares identical products (no summation-order drift anywhere).
    Constant windows have MAD 0 — any deviation flags, the standard
    Hampel caveat (pair with rolling_zscore if that bites).

    Output: series cols + pos, ts, value, med, mad (both rounded to
    `round_dp`), is_outlier.

    Scale shape: ONE ordered window on the series key; the collect_list
    frame carries O(k) values per row (k is a small constant, e.g. 3-10)
    and everything downstream is per-row array math in codegen — no
    joins, no second exchange, state per task O(series run length).
    """
    if k < 1:
        raise ValueError(f"hampel_filter: k must be >= 1, got {k}")
    scols, wo, _ = _series_windows(series_cols, ts_col, order_col)
    frame = wo.rowsBetween(-k, k)
    v = F.col(val_col).cast("double")
    arr = F.collect_list(v).over(frame)
    staged = points.select(
        *scols,
        (F.row_number().over(wo) - 1).alias("pos"),
        F.col(ts_col),
        v.alias("value"),
        arr.alias("_arr"),
    )
    med, _ = _array_median(F.col("_arr"))
    staged = staged.withColumn("_med", med)
    dev = F.transform("_arr", lambda x: F.abs(x - F.col("_med")))
    mad, _ = _array_median(dev)
    staged = staged.withColumn("_mad", mad)
    flag = (F.abs(F.col("value") - F.col("_med"))
            > F.lit(n_sigmas) * (F.lit(1.4826) * F.col("_mad")))
    return staged.select(
        *series_cols, "pos", ts_col, "value",
        F.round("_med", round_dp).alias("med"),
        F.round("_mad", round_dp).alias("mad"),
        flag.alias("is_outlier"),
    )


def cusum_changepoint(
    points: DataFrame,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
) -> DataFrame:
    """CUSUM changepoint scoring per series: standardize the series
    against its own mean/sample-stddev, take the running sum s_t of the
    standardized values, and report the maximum |s_t| with the position
    (1-based index and timestamp) where it is attained — the classic
    single-changepoint candidate — plus the scale-free score
    max|s_t| / sqrt(n).  Ties and the argmax are taken on s rounded to
    6 decimals (running sums are summation-order sensitive across
    engines), earliest position winning.  Constant or single-point
    series (stddev NULL or 0) yield NULL score columns.

    Output: series cols + n, max_abs_cusum, cp_rn, cp_ts, cusum_score.
    """
    scols, wo, wa = _series_windows(series_cols, ts_col, order_col)
    v = F.col(val_col)
    m, sd = F.avg(v).over(wa), F.stddev_samp(v).over(wa)
    staged = points.select(
        *scols, F.col(ts_col),
        F.row_number().over(wo).alias("_rn"),
        F.when(sd > 0, (v - m) / sd).alias("_z"),
    )
    run = Window.partitionBy(*scols).orderBy("_rn") \
        .rowsBetween(Window.unboundedPreceding, 0)
    s6 = F.round(F.sum("_z").over(run), 6)
    scored = staged.select(
        *scols, F.col(ts_col), "_rn", s6.alias("_s6"))
    argmax_key = F.struct(F.abs(F.col("_s6")), -F.col("_rn"))
    out = scored.groupBy(*series_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.max(F.abs(F.col("_s6"))).alias("max_abs_cusum"),
        F.max_by(F.col("_rn"), argmax_key).alias("cp_rn"),
        F.max_by(F.col(ts_col), argmax_key).alias("cp_ts"),
    )
    ok = F.col("max_abs_cusum").isNotNull()
    return out.select(
        *series_cols, "n", "max_abs_cusum",
        F.when(ok, F.col("cp_rn")).alias("cp_rn"),
        F.when(ok, F.col("cp_ts")).alias("cp_ts"),
        F.when(ok, F.round(
            F.col("max_abs_cusum") / F.sqrt(F.col("n")), 6)
        ).alias("cusum_score"),
    )


def series_profile(
    points: DataFrame,
    series_cols: list[str] = ("user_id",),
    val_col: str = "value",
) -> DataFrame:
    """Per-series descriptive profile: n, mean, stddev, min, max, exact
    continuous percentiles (p25/p50/p75/p90, linear interpolation — the
    percentile_cont definition shared by Spark's `percentile` and
    DuckDB's `quantile_cont`), and the count of Tukey IQR outliers
    (value outside [p25 - 1.5*IQR, p75 + 1.5*IQR], fences computed from
    the 6-decimal-rounded quartiles so both engines agree digit-for-
    digit).  Single-point series: stddev NULL, 0 outliers.

    Output: series cols + n, mean, sd, min_val, max_val, p25, p50, p75,
    p90, n_outliers.
    """
    v = F.col(val_col)
    prof = points.groupBy(*series_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(v), 6).alias("mean"),
        F.round(F.stddev_samp(v), 6).alias("sd"),
        F.min(v).alias("min_val"),
        F.max(v).alias("max_val"),
        F.percentile(v, F.lit([0.25, 0.5, 0.75, 0.9])).alias("_q"),
    ).select(
        *series_cols, "n", "mean", "sd", "min_val", "max_val",
        F.round(F.col("_q")[0], 6).alias("p25"),
        F.round(F.col("_q")[1], 6).alias("p50"),
        F.round(F.col("_q")[2], 6).alias("p75"),
        F.round(F.col("_q")[3], 6).alias("p90"),
    )
    iqr = F.col("p75") - F.col("p25")
    fences = prof.select(
        *series_cols,
        (F.col("p25") - 1.5 * iqr).alias("_lo"),
        (F.col("p75") + 1.5 * iqr).alias("_hi"),
    )
    outliers = (
        points.join(F.broadcast(fences), on=list(series_cols))
        .groupBy(*series_cols)
        .agg(F.sum(
            F.when((v < F.col("_lo")) | (v > F.col("_hi")), 1)
            .otherwise(0)
        ).cast("long").alias("n_outliers"))
    )
    return prof.join(F.broadcast(outliers), on=list(series_cols))


def periodogram(
    points: DataFrame,
    periods: list[int] = (12, 24, 96),
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
) -> DataFrame:
    """Index-based periodogram: z-normalize each series against its own
    mean/stddev (constant series -> all-zero, power 0), then for each
    candidate period p report the normalized spectral power at frequency
    1/p over the INDEX axis t = rank-1 (points are equally weighted in
    order, not by wall-clock spacing — resample to a regular grid first,
    e.g. via the rollup tiers, for time-true spectra):

        power(p) = (c^2 + s^2) / n^2,
        c = sum_t z_t cos(2*pi*t/p),  s = sum_t z_t sin(2*pi*t/p)

    power is in [0, ~1] (1 = a pure sinusoid at that period) and rounded
    to 6 decimals.  The seasonality-strength twin of the reference's
    fixed-period seasonality linking (strategy_linking_multi_graphs.py:
    28-60): instead of asserting a known period, score candidates.

    Output: series cols + period, n, power.
    """
    if not periods or any(p < 2 for p in periods):
        raise ValueError("periods must be >= 2")
    scols, wo, wa = _series_windows(series_cols, ts_col, order_col)
    v = F.col(val_col)
    m, sd = F.avg(v).over(wa), F.stddev_samp(v).over(wa)
    t = (F.row_number().over(wo) - 1).cast("double")
    z = F.when(sd > 0, (v - m) / sd).otherwise(F.lit(0.0))
    staged = points.select(
        *scols, z.alias("_z"),
        *[c for p in periods for c in (
            F.cos(F.lit(2.0 * math.pi) * t / F.lit(float(p)))
            .alias(f"_c{p}"),
            F.sin(F.lit(2.0 * math.pi) * t / F.lit(float(p)))
            .alias(f"_s{p}"),
        )],
    )
    wide = staged.groupBy(*series_cols).agg(
        F.count(F.lit(1)).alias("n"),
        *[a for p in periods for a in (
            F.sum(F.col("_z") * F.col(f"_c{p}")).alias(f"_cs{p}"),
            F.sum(F.col("_z") * F.col(f"_s{p}")).alias(f"_ss{p}"),
        )],
    )
    per_structs = F.array(*[
        F.struct(
            F.lit(p).alias("period"),
            ((F.col(f"_cs{p}") ** 2 + F.col(f"_ss{p}") ** 2)
             / (F.col("n") ** 2)).alias("_pw"),
        ) for p in periods
    ])
    return wide.select(
        *series_cols, "n", F.explode(per_structs).alias("_p")
    ).select(
        *series_cols,
        F.col("_p.period").alias("period"),
        "n",
        F.round(F.col("_p._pw"), 6).alias("power"),
    )


def residual_anomalies(
    points: DataFrame,
    period: int,
    z_thresh: float = 3.0,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Seasonality-aware anomaly detection: seasonal_decompose
    residuals z-scored against each series' residual mean/stddev
    (sample), flagged where |z| > z_thresh — a raw-value z-score would
    flag every seasonal peak; removing trend+seasonal first is what
    makes the flag mean "anomalous for this time of day".

    Rows where the residual is undefined (trend window incomplete at
    the series edges) are excluded.  `z` rounds to `round_dp` over the
    already-rounded residuals (the decompose rounding contract), so
    oracles replay bit-stably; is_anomaly is false when the z-score is
    undefined (zero/NULL stddev).

    Output: series cols + pos, ts, value, resid, z, is_anomaly.

    Scale shape: seasonal_decompose's exchanges (ordered window +
    broadcast-joined phase means) plus ONE more unordered window on
    the series key for mean/std — no extra shuffle (same key), no
    joins.
    """
    dec = seasonal_decompose(points, period, series_cols=series_cols,
                             ts_col=ts_col, val_col=val_col,
                             order_col=order_col)
    ok = dec.where(F.col("resid").isNotNull())
    w = Window.partitionBy(*[F.col(c) for c in series_cols])
    sd = F.stddev_samp("resid").over(w)
    # NULL z for constant-residual (sd = 0) or singleton (sd NULL)
    # series -- ANSI-safe, and the flag stays false via the coalesce
    z = F.when(sd != 0,
               (F.col("resid") - F.avg("resid").over(w)) / sd)
    return ok.select(
        *series_cols, "pos", F.col(ts_col), "value", "resid",
        # + 0.0 canonicalizes IEEE -0.0 (engines disagree on the sign
        # of a zero round result)
        (F.round(z, round_dp) + F.lit(0.0)).alias("z"),
        F.coalesce(F.abs(z) > F.lit(float(z_thresh)),
                   F.lit(False)).alias("is_anomaly"),
    )


def bucket_means(
    points: DataFrame,
    bucket: str,
    series_cols: list[str],
    ts_col: str,
    val_col: str,
    dp: int = 6,
) -> DataFrame:
    """Fixed-decimal bucket means — the shared input frame of every
    cross-engine-replayable recurrence (holt_forecast, theil_sen_trend,
    mann_kendall): (series..., bucket_ts, y) with y rounded to `dp` so
    both engines feed bit-identical values into the recurrence.  One
    hash aggregate."""
    scols = [F.col(c) for c in series_cols]
    b = F.date_trunc(bucket, F.col(ts_col))
    return points.groupBy(*scols, b.alias("bucket_ts")).agg(
        F.round(F.avg(F.col(val_col).cast("double")), dp).alias("y"))


def theil_sen_trend(
    points: DataFrame,
    bucket: str = "hour",
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    out_dp: int = 9,
) -> DataFrame:
    """Theil-Sen robust trend per series: slope = median of all pairwise
    slopes (y_j - y_i)/(t_j - t_i) over the bucketed series (t in epoch
    hours, so bucket GAPS weight the slope correctly where a positional
    index would not), intercept = median(y_i - slope*t_i).  Up to ~29%
    outliers cannot move the estimate — the robust complement to the
    OLS-flavored smoothing forecasts.

    DETERMINISM: bucket means round to 6dp (both engines agree on that
    — pinned by the forecast family), pair slopes and medians are pure
    IEEE ops in a fixed orientation (later minus earlier), and outputs
    quantize with floor(x*10^dp + 0.5)/10^dp, so a SQL oracle
    (self-join pairs + median) hash-matches bit-for-bit.  Even-count
    medians average the two central values in numpy, Spark percentile,
    and DuckDB median alike.

    Scale shape: one hash agg to bucket means, one collect_list shuffle
    on the series key, then a map-only Arrow kernel.  The O(n^2) pair
    set exists only TRANSIENTLY inside the kernel, one series at a time
    (n = buckets per series, bounded by retention — e.g. 90d of hourly
    buckets is 2160 points, 2.3M pair slopes, ~19 MB); nothing
    quadratic ever enters a shuffle, unlike the relational twin the
    oracle runs.  Series with < 2 buckets are skipped."""
    scols = [F.col(c) for c in series_cols]
    # the kernel receives epoch SECONDS via unix_timestamp (an absolute
    # instant) rather than the timestamps themselves: Arrow hands Python
    # session-LOCAL naive datetimes, whose differences go wrong across
    # DST transitions under a non-UTC session timezone
    means = bucket_means(points, bucket, series_cols, ts_col, val_col)
    grouped = means.groupBy(*scols).agg(
        F.sort_array(F.collect_list(F.struct(
            "bucket_ts", "y",
            F.unix_timestamp("bucket_ts").alias("sec")))).alias("_s")
    ).select(F.col("_s.sec").alias("_secs"), F.col("_s.y").alias("_ys"),
             *scols)
    out_schema = StructType([grouped.schema[c] for c in series_cols] + [
        StructField("n_buckets", LongType()),
        StructField("slope", DoubleType()),
        StructField("intercept", DoubleType()),
    ])
    return _map_segments(grouped, out_schema, _row_kernel(
        [("n_buckets", "long"), ("slope", "double"),
         ("intercept", "double")],
        lambda sec, y, *_keys: kernels.theil_sen_kernel(sec, y, out_dp)))


def mann_kendall(
    points: DataFrame,
    bucket: str = "hour",
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    z_crit: float = 1.96,
    out_dp: int = 9,
) -> DataFrame:
    """Mann-Kendall monotonic-trend test per series — the significance
    companion to `theil_sen_trend` (that one estimates the slope, this
    one says whether a monotonic trend exists at all, distribution-free):

        S      = sum over bucket pairs i<j of sign(y_j - y_i)
        Var(S) = [n(n-1)(2n+5) - sum_ties t(t-1)(2t+5)] / 18
        z      = (S-1)/sqrt(Var) if S>0, 0 if S=0, (S+1)/sqrt(Var) else

    with `trend` = 'increasing' / 'decreasing' when |z| > z_crit (1.96
    ~ p<0.05 two-sided) else 'no trend'.

    DETERMINISM: S and the variance numerator are exact integers; the
    /18.0, sqrt (IEEE-correctly-rounded everywhere), and one division
    make z bit-identical across engines; quantized with the IEEE floor
    formula.  Series with < 2 buckets are skipped; an all-constant
    series has S=0, z=0, 'no trend' (Var(S)=0 never divides: the S=0
    branch short-circuits first, and S != 0 implies Var > 0).

    Scale shape: identical to theil_sen_trend — bucket means, one
    collect_list shuffle, map-only kernel with the O(n^2) sign pairs
    transient per series."""
    scols = [F.col(c) for c in series_cols]
    means = bucket_means(points, bucket, series_cols, ts_col, val_col)
    grouped = means.groupBy(*scols).agg(
        F.sort_array(F.collect_list(F.struct("bucket_ts", "y"))).alias("_s")
    ).select(F.col("_s.y").alias("_ys"), *scols)
    out_schema = StructType([grouped.schema[c] for c in series_cols] + [
        StructField("n_buckets", LongType()),
        StructField("s_stat", LongType()),
        StructField("var_s", DoubleType()),
        StructField("z", DoubleType()),
        StructField("trend", StringType()),
    ])
    return _map_segments(grouped, out_schema, _row_kernel(
        [("n_buckets", "long"), ("s_stat", "long"), ("var_s", "double"),
         ("z", "double"), ("trend", "string")],
        lambda y, *_keys: kernels.mann_kendall_kernel(
            y, z_crit, out_dp)))


def decompose_strength(
    points: DataFrame,
    period: int,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Seasonal and trend STRENGTH per series (the Hyndman STL feature
    pair — the one-number answers to "is this series seasonal?" /
    "is it trending?"):

        F_s = max(0, 1 - Var(resid) / Var(seasonal + resid))
        F_t = max(0, 1 - Var(resid) / Var(trend + resid))

    over the rows where the decomposition is defined (interior rows
    with a full trend window).  NULL when the denominator variance is
    zero (degenerate constant series).  Rounded to `round_dp` before
    the max() clamp (variance accumulation is engine-ordered; the
    rounded value is the contract — the acf discipline), `+ 0.0`
    canonicalizing -0.0.

    Scale shape: seasonal_decompose's two exchanges plus one per-series
    hash aggregate of three variances."""
    dec = seasonal_decompose(points, period, series_cols=series_cols,
                             ts_col=ts_col, val_col=val_col,
                             order_col=order_col)
    ok = dec.where(F.col("resid").isNotNull())
    agg = ok.groupBy(*[F.col(c) for c in series_cols]).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.var_samp("resid").alias("_vr"),
        F.var_samp(F.col("seasonal") + F.col("resid")).alias("_vs"),
        F.var_samp(F.col("trend") + F.col("resid")).alias("_vt"),
    )

    def strength(den):
        return (F.greatest(
            F.lit(0.0),
            F.round(1.0 - F.col("_vr") / den, round_dp))
            + F.lit(0.0))

    return agg.select(
        *series_cols, "n_rows",
        F.when(F.col("_vs") > 0, strength(F.col("_vs")))
         .alias("seasonal_strength"),
        F.when(F.col("_vt") > 0, strength(F.col("_vt")))
         .alias("trend_strength"),
    )


def matrix_profile(
    points: DataFrame,
    m: int,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
    exclusion: int | None = None,
    round_dp: int = 9,
    max_subsequences: int = 1_000_000,
) -> DataFrame:
    """Matrix profile per series (STOMP-family, Yeh et al. 2016): for
    every length-`m` subsequence, the z-normalized Euclidean distance to
    its nearest NON-TRIVIAL neighbor (|i - j| > exclusion, default
    max(1, m // 4) — the standard trivial-match zone), and that
    neighbor's position.  Low distances mark motifs, high distances
    discords — the canonical all-pairs similarity summary of a series.
    A subsequence whose every candidate neighbor falls inside the
    exclusion zone (short series, p <= 2*exclusion + 1 edge rows)
    reports nn_pos = -1, dist = Infinity (the stumpy convention).

    Semantics (the stumpy conventions): population sigma; two
    near-constant subsequences (sigma <= 1e-12) are distance 0; one
    constant vs one varying is sqrt(m); dist = sqrt(max(d2, 0)) guards
    the 2m(1 - rho) form against negative round-off.  Ties in the
    nearest neighbor resolve to the SMALLEST j (np.argmin) — pinned by
    tests so reruns and partitionings agree.

    No SQL oracle by design: the pairwise dot products run through BLAS
    (pairwise-reduction summation order), which no left-fold SQL replay
    can reproduce bit-for-bit — same class as the eigensolver; declared
    rows-only, with brute-force numpy parity tests instead.

    Scale shape: one collect_list shuffle on the series key, then a
    map-only Arrow kernel.  The O(n^2) distance matrix exists only
    transiently inside the kernel, CHUNKED to <= 2048 rows at a time
    (memory O(2048 * n), not O(n^2)); one series must fit in one task
    (the theil_sen retention-bounded contract).  Series longer than
    `max_subsequences` raise loudly rather than running a silent
    multi-hour quadratic — raise the cap deliberately if you mean it.

    Output: series cols + pos, nn_pos, dist — one row per subsequence.
    """
    if m < 3:
        raise ValueError(f"matrix_profile: m must be >= 3, got {m}")
    excl = max(1, m // 4) if exclusion is None else int(exclusion)
    if excl < 1:
        raise ValueError("matrix_profile: exclusion must be >= 1")
    grouped, key_fields = _collect_raw_series(
        points, series_cols, ts_col, val_col, order_col)
    out_schema = StructType(key_fields + [
        StructField("pos", LongType()),
        StructField("nn_pos", LongType()),
        StructField("dist", DoubleType()),
    ])
    return _map_segments(
        grouped.select("_vs", *series_cols), out_schema,
        _row_kernel([("pos", "long"), ("nn_pos", "long"),
                     ("dist", "double")],
                    lambda x, *_keys: kernels.matrix_profile_kernel(
                        x, m, excl, round_dp, max_subsequences)))


def pelt_changepoints(
    points: DataFrame,
    penalty: float,
    min_size: int = 2,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
    round_dp: int = 6,
    max_points: int = 200_000,
) -> DataFrame:
    """PELT optimal multiple-changepoint detection per series (Killick
    et al. 2012) with the L2 / mean-shift cost — the exact-optimal
    multi-break sibling of `cusum_changepoint` (single break, online):

        F(t) = min_s [ F(s) + C(y_{s+1..t}) + penalty ],
        C(seg) = sum (y - mean(seg))^2   (from prefix sums)

    with PELT's candidate pruning under a min_size VALIDITY DELAY (a
    dominated candidate is only retired once the dominating one is
    itself a usable changepoint — see `kernels._pelt_segments`; the undelayed
    textbook prune is unsound for min_size >= 2), so typical cost is
    O(n) per series against the O(n^2) exhaustive DP — which it
    provably equals (pinned by the brute-force parity + fuzz tests).
    Ties in the DP argmin resolve to the SMALLEST candidate
    (np.argmin), so segmentations are deterministic.

    Returns one row per SEGMENT: series cols + seg_id (0-based),
    start_pos, end_pos (exclusive), n_points, seg_mean, seg_cost — a
    single-segment row means "no changepoint found at this penalty".
    Pick penalty ~ 2 * sigma^2 * ln(n) (BIC) as a starting point.

    No SQL oracle by design: the pruned DP's control flow is
    data-dependent (same declared class as matrix_profile /
    eigencentrality); correctness is pinned by exhaustive-DP parity and
    planted-shift tests instead.

    Scale shape: one collect_list shuffle on the series key
    (_collect_raw_series), then a map-only Arrow kernel; one series per
    task (the theil_sen retention-bounded contract), `max_points` guards
    the worst-case quadratic loudly."""
    if penalty <= 0:
        raise ValueError("pelt_changepoints: penalty must be > 0")
    if min_size < 1:
        raise ValueError("pelt_changepoints: min_size must be >= 1")
    grouped, key_fields = _collect_raw_series(
        points, series_cols, ts_col, val_col, order_col)
    out_schema = StructType(key_fields + [
        StructField("seg_id", LongType()),
        StructField("start_pos", LongType()),
        StructField("end_pos", LongType()),
        StructField("n_points", LongType()),
        StructField("seg_mean", DoubleType()),
        StructField("seg_cost", DoubleType()),
    ])
    beta = float(penalty)
    msz = int(min_size)
    return _map_segments(
        grouped.select("_vs", *series_cols), out_schema,
        _row_kernel([("seg_id", "long"), ("start_pos", "long"),
                     ("end_pos", "long"), ("n_points", "long"),
                     ("seg_mean", "double"), ("seg_cost", "double")],
                    lambda y, *_keys: kernels.pelt_kernel(
                        y, beta, msz, round_dp, max_points)))


def rolling_quantile(
    points: DataFrame,
    q: float = 0.95,
    window_s: int = 3600,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    round_dp: int = 6,
) -> DataFrame:
    """Trailing exact quantile per sample (PromQL quantile_over_time):
    at every point, the linearly-interpolated q-quantile (the
    quantile_cont / numpy-linear convention) of all values in the
    trailing [t - window_s, t] RANGE window of the same series.

    Deterministic across engines: the frame is RANGE-based on the
    unix_micros epoch (equal-timestamp peers are all in-frame on any
    engine) and F.percentile is the same estimator as DuckDB
    quantile_cont (the winsorized_mean / series_profile precedent) —
    rounded to `round_dp` only at the output.

    Output: series cols + ts, value, n_window, quantile — one row per
    input point.

    Scale shape: ONE ordered window exchange on the series key.  Cost
    is O(frame sort) per row (collect + sort inside the window
    operator), fine for alerting-grade streams; for dense 10^12-point
    tiers serve quantiles from the histogram tiers instead
    (plans/rollup.histogram_quantiles — same answer, sketch cost)."""
    from pyspark.sql.window import Window

    if not 0.0 <= q <= 1.0:
        raise ValueError(f"rolling_quantile: need 0 <= q <= 1, got {q}")
    if window_s < 1:
        raise ValueError("rolling_quantile: window_s must be >= 1")
    scols = [F.col(c) for c in series_cols]
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    staged = points.select(
        *scols, F.col(ts_col), F.col(val_col).cast("double").alias("_v"),
        us.alias("_us"))
    wr = (Window.partitionBy(*scols).orderBy("_us")
          .rangeBetween(-(window_s * 1_000_000), 0))
    return staged.select(
        *scols, F.col(ts_col), F.col("_v").alias("value"),
        F.count("_v").over(wr).alias("n_window"),
        F.round(F.percentile("_v", F.lit(q)).over(wr), round_dp)
        .alias("quantile"),
    )
