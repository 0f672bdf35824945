"""Monitoring-tier rollup math over irregular samples (engine-native,
SURVEY §2.7 family): time-weighted averages and counter rates — the two
aggregates a metrics store serves from its continuous-aggregate tiers
that a plain avg()/sum() rollup gets WRONG on irregularly-spaced points
(TimescaleDB's time_weight / PromQL's increase-rate, re-expressed as
windowed Catalyst aggregates).

Scale shapes (pure Catalyst): each operator is one ordered window on
the series key (lag/lead neighbours) followed by a hash aggregate on
(series, bucket) — a strict refinement of the window key, so the
second exchange is partial-aggregated and carries one row per bucket.
No joins, no Python crossings.  The exception is the smoothing
forecasts (`holt_forecast`, `holt_winters_forecast`): one collect_list
shuffle on the series key, then one crossing through the package's Arrow
emitter (`emit._map_segments`) whose recurrence runs vectorized across
the series of a run.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType, TimestampType)

from ts2g2_spark.operators import kernels
from ts2g2_spark.operators.emit import _map_segments
from ts2g2_spark.operators.seriesstats import _series_windows, bucket_means

# seconds per FIXED-WIDTH date_trunc unit — the single source of truth
# for every bucket/grid validation in this module (variable-width units
# like month/quarter/year have no constant seconds and are either
# rejected or require an explicit *_s override, per call site)
BUCKET_SECONDS = {"second": 1, "minute": 60, "hour": 3600,
                  "day": 86400, "week": 604800}


def _bucket_seconds(op: str, bucket: str, bucket_s: int | None) -> int:
    """The width of a `bucket` in seconds: BUCKET_SECONDS' for a fixed-
    width unit, which an explicit bucket_s must agree with; a variable-
    width unit needs bucket_s."""
    known = BUCKET_SECONDS.get(bucket)
    if known is not None and bucket_s not in (None, known):
        raise ValueError(f"{op}: bucket_s={bucket_s} contradicts "
                         f"bucket='{bucket}' ({known}s)")
    if known is None and bucket_s is None:
        raise ValueError(f"{op}: pass bucket_s for non-fixed-length "
                         f"bucket '{bucket}'")
    return known if bucket_s is None else bucket_s


def time_weighted_avg(
    points: DataFrame,
    bucket: str = "hour",
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Time-weighted average per (series, bucket): the trapezoidal
    integral of the piecewise-linear series over the bucket, divided by
    the covered span — so a sensor reporting 1000x more often during a
    spike no longer drags the bucket mean toward the spike the way a
    plain avg() does.

    Contract: a trapezoid forms between each consecutive pair of points
    of the same series that fall in the SAME `bucket` (a `date_trunc`
    unit: 'minute'/'hour'/'day'); cross-boundary segments are not split
    (the next tier up re-aggregates covered spans, so boundary mass is
    attributed to neither bucket — documented, deterministic).  A
    segment with a NULL value at either endpoint is voided entirely —
    it contributes to neither the integral nor `span_us` (null samples
    are gaps, not zeros).  Buckets
    whose points are all coincident or singletons (zero covered span)
    fall back to the plain mean of their points.  `twa` rounds to
    `round_dp` (hash-agg summation order is engine/partition dependent;
    the grid absorbs last-ulp drift).

    Output: series cols + bucket_ts, n_points, span_us (covered span),
    twa.
    """
    scols, wo, _ = _series_windows(series_cols, ts_col, order_col)
    b = F.date_trunc(bucket, F.col(ts_col))
    v = F.col(val_col).cast("double")
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    nxt_us = F.lead(ts_us).over(wo)
    nxt_v = F.lead(v).over(wo)
    same_bucket = F.lead(b).over(wo) == b
    # NULL-valued endpoints void the segment entirely (dt AND area), so
    # a null sample neither nullifies the integral nor inflates span_us
    dt = F.when(same_bucket & v.isNotNull() & nxt_v.isNotNull(),
                (nxt_us - ts_us).cast("double"))
    staged = points.select(
        *scols,
        b.alias("bucket_ts"),
        v.alias("_v"),
        dt.alias("_dt"),
        F.when(dt.isNotNull(), (v + nxt_v) / 2 * dt).alias("_area"),
    )
    agg = staged.groupBy(*series_cols, "bucket_ts").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("_dt").cast("long").alias("span_us"),
        F.sum("_area").alias("_int"),
        F.avg("_v").alias("_mean"),
    )
    twa = F.when(F.col("span_us") > 0, F.col("_int") / F.col("span_us")) \
           .otherwise(F.col("_mean"))
    return agg.select(
        *series_cols, "bucket_ts", "n_points",
        F.coalesce("span_us", F.lit(0)).alias("span_us"),
        F.round(twa, round_dp).alias("twa"),
    )


def counter_rate(
    points: DataFrame,
    bucket: str = "hour",
    bucket_s: int = 3600,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Counter increase + rate per (series, bucket) with RESET handling
    (the PromQL increase/rate contract): a monotone counter's delta to
    the previous sample is its contribution; a NEGATIVE delta means the
    counter reset, and the post-reset VALUE is the contribution (the
    counter restarted from 0).  The first sample of a series
    contributes nothing (no baseline).  Deltas crossing a bucket
    boundary belong to the bucket of the LATER sample — every delta is
    counted exactly once, so bucket increases sum to the series total.

    `rate_per_s` divides by the FIXED bucket length `bucket_s` (pass
    the seconds matching `bucket`), not the covered span — the
    convention that makes rates comparable across buckets with
    different sample counts.

    Output: series cols + bucket_ts, n_points, increase, rate_per_s,
    n_resets (PromQL resets(): samples strictly below their
    predecessor), n_changes (PromQL changes(): samples differing from
    their predecessor) — both ride the same lag window, attributed to
    the later sample's bucket like the deltas.
    """
    scols, wo, _ = _series_windows(series_cols, ts_col, order_col)
    v = F.col(val_col).cast("double")
    prev = F.lag(v).over(wo)
    delta = F.when(prev.isNull(), F.lit(None).cast("double")) \
             .when(v >= prev, v - prev).otherwise(v)
    reset = F.when(prev.isNotNull() & (v < prev), 1).otherwise(0)
    change = F.when(prev.isNotNull() & (v != prev), 1).otherwise(0)
    staged = points.select(
        *scols,
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
        delta.alias("_d"), reset.alias("_r"), change.alias("_c"),
    )
    return (
        staged.groupBy(*series_cols, "bucket_ts")
        .agg(F.count(F.lit(1)).alias("n_points"),
             F.coalesce(F.sum("_d"), F.lit(0.0)).alias("_inc"),
             F.sum("_r").alias("n_resets"),
             F.sum("_c").alias("n_changes"))
        .select(
            *series_cols, "bucket_ts", "n_points",
            F.round("_inc", round_dp).alias("increase"),
            F.round(F.col("_inc") / F.lit(float(bucket_s)),
                    round_dp + 3).alias("rate_per_s"),
            "n_resets", "n_changes",
        )
    )


def seasonal_naive_forecast(
    points: DataFrame,
    period: int,
    horizon: int,
    bucket: str = "hour",
    bucket_s: int | None = None,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    round_dp: int = 6,
) -> DataFrame:
    """Seasonal-naive forecast with an in-sample backtest — the
    canonical monitoring-tier baseline forecaster (yhat(t) =
    y(t - period buckets)) and the error floor every fancier model
    must beat.

    Semantics: the series is first bucketed to `bucket` means;
    `bucket_s` (seconds per bucket) is derived from `bucket` for the
    fixed-length units and must be passed explicitly (and consistently)
    otherwise -- a mismatched pair would silently corrupt the look-back
    grid, so an inconsistent explicit value raises.  For each series, emits
    `horizon` FUTURE buckets after that series' last observed bucket,
    with yhat = the bucket mean one period earlier (NULL when the
    source bucket was empty — gap-fill upstream if continuity is
    needed; horizon must be <= period so every look-back lands in
    observed history).  Backtest columns (per series, same on every
    row): mae / mape over all historical buckets where both y(t) and
    y(t - period) exist.

    Output: series cols + bucket_ts (future), step (1..horizon), yhat,
    mae, mape.

    Scale shape: one hash agg to bucket means; the period look-back is
    a self equi-join of the BUCKET FRAME (|series| x n_buckets rows,
    not raw points) on (series, bucket_ts - period) — exact under
    bucket gaps, where a positional window lag would silently misalign;
    the forecast is an explode of `horizon` offsets joined back to the
    same frame.  Raw points are read once.
    """
    if period < 1 or not 1 <= horizon <= period:
        raise ValueError(
            f"seasonal_naive_forecast: need period >= 1 and "
            f"1 <= horizon <= period, got {period=} {horizon=}")
    bucket_s = _bucket_seconds("seasonal_naive_forecast", bucket, bucket_s)
    scols = [F.col(c) for c in series_cols]
    b = F.date_trunc(bucket, F.col(ts_col))
    means = (
        points.groupBy(*scols, b.alias("bucket_ts"))
        .agg(F.avg(F.col(val_col).cast("double")).alias("y"))
    )
    shifted = means.select(
        *scols,
        (F.col("bucket_ts")
         + F.expr(f"interval {period * bucket_s} second")
         ).alias("bucket_ts"),
        F.col("y").alias("_yl"),
    )
    lagged = means.join(shifted, [*series_cols, "bucket_ts"], "left")
    stats = lagged.groupBy(*series_cols).agg(
        F.max("bucket_ts").alias("_last"),
        F.round(F.avg(F.abs(F.col("y") - F.col("_yl"))),
                round_dp).alias("mae"),
        F.round(F.avg(F.when(F.col("y") != 0,
                             F.abs((F.col("y") - F.col("_yl"))
                                   / F.col("y")))),
                round_dp).alias("mape"),
    )
    fut = stats.select(
        *series_cols, "_last", "mae", "mape",
        F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("step"),
    ).select(
        *series_cols, "mae", "mape", "step",
        (F.col("_last") + F.expr(f"interval {bucket_s} second")
         * F.col("step")).alias("bucket_ts"),
        (F.col("_last") + F.expr(f"interval {bucket_s} second")
         * (F.col("step") - F.lit(period))).alias("_src_ts"),
    )
    src = means.select(
        *scols, F.col("bucket_ts").alias("_src_ts"),
        F.round("y", round_dp).alias("yhat"))
    return (
        fut.join(src, [*series_cols, "_src_ts"], "left")
        .select(*series_cols, "bucket_ts",
                F.col("step").cast("long").alias("step"),
                "yhat", "mae", "mape")
    )


def holt_forecast(
    points: DataFrame,
    alpha: float = 0.3,
    beta: float = 0.1,
    horizon: int = 12,
    bucket: str = "hour",
    bucket_s: int | None = None,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    state_dp: int = 9,
    out_dp: int = 6,
) -> DataFrame:
    """Holt linear-trend (double exponential smoothing) forecast per
    series — the first model up from seasonal-naive that tracks a drift:

        l_t = alpha*y_t + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}
        yhat_{T+h} = l_T + h*b_T

    with the standard init l_1 = y_1, b_1 = y_2 - y_1 (series with
    fewer than 2 observed buckets are skipped).  The recurrence runs
    over OBSERVED buckets in time order (no gap-fill — gap-fill
    upstream for a wall-clock-uniform recurrence).

    DETERMINISM CONTRACT (same discipline as pagerank, stricter
    mechanism): bucket means are rounded to `out_dp` BEFORE the
    recurrence, and l/b are quantized at EVERY step with the pure-IEEE
    formula floor(x*10^dp + 0.5)/10^dp (half-up toward +inf at the
    boundary).  Unlike decimal HALF_UP round(), that formula is the
    same three float ops in every engine, so a recursive-CTE SQL
    oracle replays the trajectory bit-for-bit — decimal round()
    implementations (BigDecimal vs DuckDB) disagree in the last unit
    just often enough to cascade through a feedback recurrence.

    Scale shape: one hash agg to bucket means, one collect_list shuffle
    keyed on the series, then a map-only Arrow kernel whose time loop is
    VECTORIZED ACROSS SERIES in the batch (one numpy step per bucket
    index over all series at once, NaN-padded lanes masked) — per-series
    work never touches Python row-at-a-time.  The horizon expansion is a
    relational explode of the O(|series|) state frame.

    Output: series cols + bucket_ts (future), step (1..horizon), yhat,
    level, trend (final smoothed state, `state_dp` decimals)."""
    if not (0.0 < alpha <= 1.0 and 0.0 < beta <= 1.0):
        raise ValueError(
            f"holt_forecast: need 0 < alpha, beta <= 1, got {alpha=} "
            f"{beta=}")
    if horizon < 1:
        raise ValueError(f"holt_forecast: need horizon >= 1, got {horizon=}")
    bucket_s = _bucket_seconds("holt_forecast", bucket, bucket_s)
    scols = [F.col(c) for c in series_cols]
    grouped = _bucket_series(points, bucket, series_cols, ts_col, val_col,
                             out_dp)
    out_schema = StructType([grouped.schema[c] for c in series_cols] + [
        StructField("last_ts", TimestampType()),
        StructField("n", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
    ])

    def kernel(ys, *_keys):
        rows, n, level, trend = kernels.holt_state_segmented(
            ys.values, ys.lengths, alpha, beta, state_dp)
        return rows, {"n": pa.array(n),
                      "level": pa.array(level, from_pandas=True),
                      "trend": pa.array(trend, from_pandas=True)}

    state = _map_segments(grouped, out_schema, kernel)
    step = F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("step")
    # yhat quantized with the same IEEE floor formula (F.round would
    # reintroduce the decimal-HALF_UP vs engine-round divergence);
    # `+ 0.0` canonicalizes IEEE -0.0 so cross-engine value hashes agree
    out_scale = 10.0 ** out_dp
    raw = F.col("level") + F.col("step") * F.col("trend")
    return state.select(*scols, "last_ts", "level", "trend", step).select(
        *scols,
        (F.col("last_ts")
         + F.expr(f"interval {bucket_s} second") * F.col("step")
         ).alias("bucket_ts"),
        F.col("step").cast("long").alias("step"),
        (F.floor(raw * out_scale + F.lit(0.5)) / F.lit(out_scale)
         + F.lit(0.0)).alias("yhat"),
        (F.col("level") + F.lit(0.0)).alias("level"),
        (F.col("trend") + F.lit(0.0)).alias("trend"),
    )


def _bucket_series(points, bucket, series_cols, ts_col, val_col, dp):
    """(_ys, series cols..., last_ts): each series' bucket means (rounded
    to `dp`) in time order and its last bucket — the smoothing
    forecasts' input, one collect_list shuffle on the series key."""
    scols = [F.col(c) for c in series_cols]
    means = bucket_means(points, bucket, series_cols, ts_col, val_col,
                         dp=dp)
    return means.groupBy(*scols).agg(
        F.sort_array(F.collect_list(F.struct("bucket_ts", "y"))).alias("_s")
    ).select(F.col("_s.y").alias("_ys"), *scols,
             F.element_at(F.col("_s.bucket_ts"), -1).alias("last_ts"))


def psi_drift(
    points: DataFrame,
    lo: float,
    hi: float,
    n_bins: int = 16,
    series_cols: list[str] = ("event_type",),
    ts_col: str = "ts",
    val_col: str = "value",
    eps: float = 1e-6,
    round_dp: int = 6,
) -> DataFrame:
    """Population Stability Index drift per series between consecutive
    DAYS — the standard training-data / model-monitoring distribution
    check:

        PSI(day) = sum over bins of (p_b - q_b) * ln(p_b / q_b)

    where p is today's bin share, q is yesterday's, over the fixed
    [lo, hi) grid (plus the two overflow bins the histogram tiers also
    carry); zero shares are floored at `eps` (the standard guard — the
    sum is over the FULL dense bin spine, so a bin emptying out or
    appearing counts as drift instead of vanishing from the sum).
    Output rows exist only for days whose previous day has data.
    `drift` labels the rounded PSI with the industry rule of thumb:
    >= 0.2 'major', >= 0.1 'moderate', else 'stable'.

    Scale shape: one hash agg to (series, day, bin) counts (the
    exchange carries bins, never points), a per-(series, day) total, a
    dense spine explode of the O(days x bins) frame, and one
    self-equi-join shifted by a day.  Pure Catalyst, no Python."""
    from ts2g2_spark.plans.rollup import _hist_bin

    if n_bins < 1:
        raise ValueError(f"psi_drift: need n_bins >= 1, got {n_bins}")
    if not lo < hi:
        raise ValueError(f"psi_drift: need lo < hi, got {lo=} {hi=}")
    scols = [F.col(c) for c in series_cols]
    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    cnts = points.groupBy(
        *scols, day, _hist_bin(val_col, lo, hi, n_bins).alias("bin")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    totals = cnts.groupBy(*scols, "day").agg(F.sum("cnt").alias("total"))
    spine = totals.select(
        *scols, "day", "total",
        F.explode(F.sequence(F.lit(-1), F.lit(n_bins))).alias("bin"))
    dense = spine.join(cnts, [*series_cols, "day", "bin"], "left").select(
        *scols, "day", "bin",
        F.greatest(F.coalesce(F.col("cnt"), F.lit(0)) / F.col("total"),
                   F.lit(eps)).alias("p"))
    prev = dense.select(
        *scols,
        (F.col("day") + F.expr("interval 1 day")).alias("day"),
        "bin", F.col("p").alias("q"))
    pairs = dense.join(prev, [*series_cols, "day", "bin"])
    psi = (F.round(F.sum((F.col("p") - F.col("q"))
                         * F.log(F.col("p") / F.col("q"))), round_dp)
           + F.lit(0.0))
    out = pairs.groupBy(*scols, "day").agg(psi.alias("psi"))
    return out.select(
        *scols, "day", "psi",
        F.when(F.col("psi") >= 0.2, F.lit("major"))
         .when(F.col("psi") >= 0.1, F.lit("moderate"))
         .otherwise(F.lit("stable")).alias("drift"),
    )


def threshold_alerts(
    points: DataFrame,
    upper: float,
    lower: float | None = None,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
) -> DataFrame:
    """Hysteresis threshold alerting (the monitoring-engine staple):
    a series RAISES when its value reaches `upper` and CLEARS only
    once it falls back to `lower` (defaults to `upper` — no
    hysteresis); values between the thresholds keep the current state,
    so a noisy series flapping around one line does not spam alerts.

    Although the alert state is a running state machine, it is exactly
    expressible relationally: each point gets a marker (1 at >= upper,
    0 at <= lower, NULL between), the state is last(marker,
    ignorenulls) over the ordered series window (initial state: ok),
    and transitions are where the state differs from its lag.  Emits
    ONLY transition rows: series cols + ts, value, event
    ('raise' | 'clear').

    Scale shape: one ordered window on the series key computes marker,
    state, and previous state (same exchange); the transition filter is
    a projection.  No joins, no Python.
    """
    if lower is None:
        lower = upper
    if lower > upper:
        raise ValueError(
            f"threshold_alerts: need lower <= upper, got {lower=} "
            f"{upper=}")
    scols, wo, _ = _series_windows(series_cols, ts_col, order_col)
    from pyspark.sql import Window

    v = F.col(val_col).cast("double")
    mk = F.when(v >= upper, F.lit(1)).when(v <= lower, F.lit(0))
    run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = points.select(
        *scols, F.col(ts_col), v.alias("value"),
        F.coalesce(F.last(mk, ignorenulls=True).over(run),
                   F.lit(0)).alias("_st"),
        *([F.col(order_col)] if order_col else []),
    )
    scols2, wo2, _ = _series_windows(series_cols, ts_col, order_col)
    prev = F.coalesce(F.lag("_st").over(wo2), F.lit(0))
    return (
        staged.withColumn("_pst", prev)
        .where(F.col("_st") != F.col("_pst"))
        .select(*scols2, F.col(ts_col), "value",
                F.when(F.col("_st") == 1, F.lit("raise"))
                 .otherwise(F.lit("clear")).alias("event"))
    )


def winsorized_mean(
    points: DataFrame,
    bucket: str = "hour",
    lower: float = 0.1,
    upper: float = 0.9,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    round_dp: int = 6,
) -> DataFrame:
    """Winsorized bucket mean (the robust tier mean): clamp each value
    to its bucket's exact [lower, upper] percentiles, then average —
    outliers pull the clamp edges, never the mean.  Pair with the plain
    rollup tiers when sensors spike.

    DETERMINISM: exact linear-interpolation percentile (the same
    estimator as DuckDB quantile_cont — the rollup_1m_quantiles
    precedent), clamp via least/greatest, mean rounded to `round_dp`
    (the float-sum association grid) and +0.0 canonicalized.
    n_clamped counts STRICT excursions (values equal to an edge are
    untouched by the clamp and not counted).

    Output: series cols + bucket_ts, n, n_clamped, p_lo, p_hi, wmean.

    Scale shape: the percentile window and the final aggregate share
    ONE hash-partitioning on (series, bucket) — a sort-based window
    pass then a partial-agg'd refinement, no join back.  Exact
    percentiles hold one bucket's values per group (buckets are
    minutes/hours — small); at sketch scale swap approx_percentile,
    same plan shape."""
    from pyspark.sql.window import Window

    if not 0.0 <= lower < upper <= 1.0:
        raise ValueError(
            f"winsorized_mean: need 0 <= lower < upper <= 1, got "
            f"({lower}, {upper})")
    scols = [F.col(c) for c in series_cols]
    b = points.select(
        *scols,
        F.date_trunc(bucket, F.col(ts_col)).alias("bucket_ts"),
        F.col(val_col).cast("double").alias("_v"))
    w = Window.partitionBy(*series_cols, "bucket_ts")
    lo = F.percentile("_v", F.lit(float(lower))).over(w)
    hi = F.percentile("_v", F.lit(float(upper))).over(w)
    staged = b.select(
        *series_cols, "bucket_ts", "_v",
        lo.alias("_lo"), hi.alias("_hi"))
    clamped = F.least(F.greatest(F.col("_v"), F.col("_lo")),
                      F.col("_hi"))
    out_of = (F.col("_v") < F.col("_lo")) | (F.col("_v") > F.col("_hi"))
    return staged.groupBy(*series_cols, "bucket_ts").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(out_of.cast("int")).cast("long").alias("n_clamped"),
        F.round(F.min("_lo"), round_dp).alias("p_lo"),
        F.round(F.max("_hi"), round_dp).alias("p_hi"),
        (F.round(F.avg(clamped), round_dp) + F.lit(0.0)).alias("wmean"),
    )


def holt_winters_forecast(
    points: DataFrame,
    period: int = 24,
    alpha: float = 0.3,
    beta: float = 0.1,
    gamma: float = 0.2,
    horizon: int = 12,
    bucket: str = "hour",
    bucket_s: int | None = None,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    state_dp: int = 9,
    out_dp: int = 6,
) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal forecast per series (triple
    exponential smoothing) — the step up from `holt_forecast` when the
    series carries a period-`period` cycle:

        l_t = alpha*(y_t - s_{t-m}) + (1-alpha)*(l_{t-1} + b_{t-1})
        b_t = beta*(l_t - l_{t-1}) + (1-beta)*b_{t-1}
        s_t = gamma*(y_t - l_t) + (1-gamma)*s_{t-m}
        yhat_{T+h} = l_T + h*b_T + s_{T-m+1+((h-1) mod m)}

    (the new-level s update).  INIT CONTRACT (documented — inits vary
    across texts): over the first two whole periods, mean1/mean2 are
    per-block means computed as a LEFT FOLD with every partial sum
    quantized, l_m = mean1, b_m = quant((mean2 - mean1)/m), and
    s_i = quant(y_i - mean1) for i = 1..m; the recurrence then runs
    t = m+1..n over OBSERVED buckets.  Series with fewer than 2*period
    buckets are skipped.

    DETERMINISM: the holt_forecast discipline — bucket means rounded to
    `out_dp` first, every state update (and every init partial sum)
    quantized with floor(x*10^dp + 0.5)/10^dp — so a recursive-CTE SQL
    oracle carrying the rolling m-slot seasonal LIST replays the
    trajectory bit-for-bit (the DTW sliding-window-list technique).

    Scale shape: one hash agg to bucket means, one collect_list shuffle
    on the series key, then a map-only Arrow kernel whose time loop is
    vectorized ACROSS series (one numpy step per bucket index, rolling
    (n_series, m) seasonal buffer); the horizon expands relationally
    from the O(|series|) state frame.

    Output: series cols + bucket_ts (future), step, yhat, level, trend,
    seasonal (the seasonal component applied at that step)."""
    if not (0.0 < alpha <= 1.0 and 0.0 < beta <= 1.0
            and 0.0 < gamma <= 1.0):
        raise ValueError(
            f"holt_winters_forecast: need 0 < alpha, beta, gamma <= 1, "
            f"got {alpha=} {beta=} {gamma=}")
    if period < 2:
        raise ValueError(
            f"holt_winters_forecast: need period >= 2, got {period=}")
    if horizon < 1:
        raise ValueError(
            f"holt_winters_forecast: need horizon >= 1, got {horizon=}")
    bucket_s = _bucket_seconds("holt_winters_forecast", bucket, bucket_s)
    scols = [F.col(c) for c in series_cols]
    grouped = _bucket_series(points, bucket, series_cols, ts_col, val_col,
                             out_dp)
    out_schema = StructType([grouped.schema[c] for c in series_cols] + [
        StructField("last_ts", TimestampType()),
        StructField("n", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("seasonals", ArrayType(DoubleType())),
    ])
    m = period

    def kernel(ys, *_keys):
        rows, n, level, trend, seas = kernels.holt_winters_state_segmented(
            ys.values, ys.lengths, m, alpha, beta, gamma, state_dp)
        return rows, {"n": pa.array(n),
                      "level": pa.array(level, from_pandas=True),
                      "trend": pa.array(trend, from_pandas=True),
                      "seasonals": pa.array(list(seas), pa.list_(
                          pa.float64()), from_pandas=True)}

    state = _map_segments(grouped, out_schema, kernel)
    step = F.explode(F.sequence(F.lit(1), F.lit(horizon))).alias("step")
    out_scale = 10.0 ** out_dp
    seas = F.element_at(
        F.col("seasonals"),
        (F.pmod(F.col("step") - 1, F.lit(m)) + 1).cast("int"))
    raw = F.col("level") + F.col("step") * F.col("trend") + seas
    return state.select(
        *scols, "last_ts", "level", "trend", "seasonals", step
    ).select(
        *scols,
        (F.col("last_ts")
         + F.expr(f"interval {bucket_s} second") * F.col("step")
         ).alias("bucket_ts"),
        F.col("step").cast("long").alias("step"),
        (F.floor(raw * out_scale + F.lit(0.5)) / F.lit(out_scale)
         + F.lit(0.0)).alias("yhat"),
        (F.col("level") + F.lit(0.0)).alias("level"),
        (F.col("trend") + F.lit(0.0)).alias("trend"),
        (seas + F.lit(0.0)).alias("seasonal"),
    )


def slo_burn_rate(
    events: DataFrame,
    error_col: str = "is_error",
    slo: float = 0.99,
    short_s: int = 300,
    long_s: int = 3600,
    factor: float = 14.4,
    grid: str = "minute",
    grid_s: int = 60,
    ts_col: str = "ts",
    series_cols: list[str] = (),
    round_dp: int = 6,
) -> DataFrame:
    """Multi-window SLO error-budget burn rate (the Google SRE workbook
    alert): at every occupied grid bucket, burn(w) = error_rate over the
    trailing window w divided by the budget (1 - slo); the alert fires
    when BOTH the short and the long window burn at >= `factor` — the
    long window proves sustained damage, the short window drops the
    alert as soon as the bleeding stops.

    Determinism: window sums are exact integer counts, the budget is one
    double computed once (embed the same repr() literal in an oracle),
    and the alert compares the ROUNDED burn rates so a boundary landing
    within rounding distance of `factor` cannot disagree across engines.

    Scale shape: the raw stream collapses to one row per (series, grid
    bucket) in a fully-parallel partial aggregate; the trailing RANGE
    windows then run over that bounded frame (rows = covered minutes,
    not events — a year is ~526k rows per series regardless of input
    size).  Buckets with no events produce no evaluation row (the
    trailing windows still see the true counts on either side of the
    gap because RANGE is on the epoch, not on row offsets).

    Output: series cols + bucket_ts, err_short, total_short, burn_short,
    err_long, total_long, burn_long, alert."""
    from pyspark.sql.window import Window

    if not 0.0 < slo < 1.0:
        raise ValueError("slo_burn_rate: slo must be in (0, 1)")
    # variable-width units (month/quarter/year) cannot size a
    # constant-seconds RANGE window, so anything outside the map raises
    # rather than silently trusting a stale grid_s default
    _grid_seconds = BUCKET_SECONDS
    if grid not in _grid_seconds:
        raise ValueError(
            f"slo_burn_rate: unsupported grid='{grid}' — fixed-width "
            f"units only ({sorted(_grid_seconds)}); variable-width "
            f"buckets cannot size the trailing RANGE windows")
    if _grid_seconds[grid] != grid_s:
        raise ValueError(
            f"slo_burn_rate: grid='{grid}' is {_grid_seconds[grid]}s "
            f"but grid_s={grid_s} — the RANGE windows would be sized "
            f"for the wrong bucket spacing")
    if short_s % grid_s or long_s % grid_s or short_s > long_s:
        raise ValueError("slo_burn_rate: windows must be grid multiples "
                         "with short <= long")
    budget = 1.0 - slo
    scols = [F.col(c) for c in series_cols]
    per = (
        events.select(
            *scols,
            F.date_trunc(grid, F.col(ts_col)).alias("bucket_ts"),
            F.col(error_col).cast("int").alias("_e"))
        .groupBy(*series_cols, "bucket_ts")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_e").alias("_err"))
        .withColumn("_ep", F.unix_timestamp("bucket_ts"))
    )
    def trailing(win_s):
        return (Window.partitionBy(*series_cols).orderBy("_ep")
                .rangeBetween(-(win_s - grid_s), 0))
    ws, wl = trailing(short_s), trailing(long_s)
    err_s, tot_s = F.sum("_err").over(ws), F.sum("_n").over(ws)
    err_l, tot_l = F.sum("_err").over(wl), F.sum("_n").over(wl)
    burn_s = F.round(
        (err_s.cast("double") / tot_s.cast("double")) / F.lit(budget),
        round_dp)
    burn_l = F.round(
        (err_l.cast("double") / tot_l.cast("double")) / F.lit(budget),
        round_dp)
    return per.select(
        *series_cols, "bucket_ts",
        err_s.alias("err_short"), tot_s.alias("total_short"),
        burn_s.alias("burn_short"),
        err_l.alias("err_long"), tot_l.alias("total_long"),
        burn_l.alias("burn_long"),
        ((burn_s >= F.lit(factor)) & (burn_l >= F.lit(factor)))
        .alias("alert"),
    )


def ar2_forecast(
    points: DataFrame,
    horizon: int = 12,
    bucket: str = "hour",
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    val_col: str = "value",
    round_dp: int = 6,
    cache: bool = True,
) -> DataFrame:
    """AR(2) forecast per series via Yule-Walker estimation — the
    autoregressive member of the forecast family (seasonal-naive, Holt,
    Holt-Winters live alongside).  Over the fixed-decimal bucket means
    y_1..y_n (positional order over OCCUPIED buckets, the ACF
    convention for gaps):

        r_k  = c_k / c_0,  c_k = sum (y_i - ybar)(y_{i+k} - ybar)
        phi1 = r1 (1 - r2) / (1 - r1^2)
        phi2 = (r2 - r1^2) / (1 - r1^2)
        f_h  = phi1 f_{h-1} + phi2 f_{h-2}   (seeded by the last two
               demeaned observations), forecast_h = ybar + f_h

    Degenerate cases (both engines identically): constant series
    (c0 = 0) -> phi1 = phi2 = 0, flat ybar forecast; |r1| = 1
    (singular normal equations) -> AR(1) fallback phi1 = r1, phi2 = 0;
    series with fewer than 3 buckets produce no rows.

    Output: series cols + h (1..horizon), phi1, phi2, forecast — all
    rounded.  Cross-engine determinism: the inputs are bucket_means'
    fixed decimals, every aggregate is a plain sum whose cross-engine
    drift (~1e-13 relative) is far below the output rounding, and the
    horizon recurrence is UNROLLED into a fixed expression chain (h
    doubles per step), so an ANSI-SQL twin evaluates the same operand
    tree.

    Scale shape: two window passes + two hash aggregates, all keyed on
    the series — no global ordering, no kernel, no join bigger than
    series x 1."""
    from pyspark.sql.window import Window

    if horizon < 1:
        raise ValueError("ar2_forecast: horizon must be >= 1")
    scols = list(series_cols)
    # the bucket-means frame feeds the per-series mean agg AND the
    # demeaned join — uncached, both re-scan the raw points; pinned
    # until unpersist, so cache=False is the long-lived-session escape
    b = bucket_means(points, bucket, scols, ts_col, val_col)
    if cache:
        b = b.cache()
    m = b.groupBy(*scols).agg(
        (F.sum("y") / F.count(F.lit(1))).alias("ybar"),
        F.count(F.lit(1)).alias("n"))
    # ONE ascending window serves all three functions — the "k-th from
    # the end" seeds fall out of the ascending row number compared to
    # the already-known series length n, saving the second per-series
    # sort a descending row_number window would add
    wo = Window.partitionBy(*scols).orderBy("bucket_ts")
    d = (
        b.join(m, scols)
        .select(
            *scols, "ybar", "n",
            (F.col("y") - F.col("ybar")).alias("d"),
            F.row_number().over(wo).alias("_rn"),
            F.lag(F.col("y") - F.col("ybar"), 1).over(wo).alias("_d1"),
            F.lag(F.col("y") - F.col("ybar"), 2).over(wo).alias("_d2"),
        )
    )
    stats = d.groupBy(*scols).agg(
        F.first("ybar").alias("ybar"),
        F.first("n").alias("n"),
        F.sum(F.col("d") * F.col("d")).alias("c0"),
        F.sum(F.col("d") * F.col("_d1")).alias("c1"),
        F.sum(F.col("d") * F.col("_d2")).alias("c2"),
        F.max(F.when(F.col("_rn") == F.col("n"), F.col("d"))).alias("dn"),
        F.max(F.when(F.col("_rn") == F.col("n") - 1, F.col("d")))
        .alias("dn1"),
    ).where(F.col("n") >= 3)
    r1 = F.when(F.col("c0") != 0, F.col("c1") / F.col("c0")) \
          .otherwise(F.lit(0.0))
    r2 = F.when(F.col("c0") != 0, F.col("c2") / F.col("c0")) \
          .otherwise(F.lit(0.0))
    den = F.lit(1.0) - r1 * r1
    phi1 = F.when(den != 0, r1 * (F.lit(1.0) - r2) / den).otherwise(r1)
    phi2 = F.when(den != 0, (r2 - r1 * r1) / den).otherwise(F.lit(0.0))
    ph = stats.select(
        *scols, "ybar",
        phi1.alias("_p1"), phi2.alias("_p2"),
        F.col("dn").alias("_f1seed"), F.col("dn1").alias("_f2seed"))
    # each step as a NAMED column in its own projection, with a rand()
    # barrier so CollapseProject cannot inline step h-1's tree into
    # step h: inlined, the expression grows Fibonacci-style and blows
    # past janino's method limit (observed codegen fallback at h=12)
    cur = ph
    prev1, prev2 = "_f1seed", "_f2seed"
    for h in range(1, horizon + 1):
        cur = cur.select(
            "*",
            (F.col("_p1") * F.col(prev1)
             + F.col("_p2") * F.col(prev2)).alias(f"_f{h}"),
            F.rand(0).alias(f"_bar{h}"))
        prev2, prev1 = prev1, f"_f{h}"
    out = cur.select(
        *scols,
        F.round("_p1", round_dp).alias("phi1"),
        F.round("_p2", round_dp).alias("phi2"),
        F.posexplode(F.array(*[
            F.round(F.col("ybar") + F.col(f"_f{h}"), round_dp)
            for h in range(1, horizon + 1)])),
    )
    return out.select(
        *scols, (F.col("pos") + 1).alias("h"), "phi1", "phi2",
        F.col("col").alias("forecast"))


def ks_drift(
    points: DataFrame,
    series_cols: list[str] = ("event_type",),
    ts_col: str = "ts",
    val_col: str = "value",
    c_alpha: float = 1.358,
    round_dp: int = 6,
    cache: bool = True,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift per series between
    consecutive DAYS — the nonparametric sibling of `psi_drift` (no
    binning grid to choose):

        D = max over v of |F_today(v) - F_prev(v)|

    computed EXACTLY in integers: D = max|cum_p*n_q - cum_q*n_p| /
    (n_p*n_q), where the cumulative counts run over the merged distinct
    value spine of the two days.  `drift` flags D above the large-sample
    critical value c_alpha * sqrt((n_p + n_q) / (n_p * n_q)) (1.358 =
    alpha 0.05) — both sides of the comparison are bit-reproducible
    across engines (integer max, one exact division, one
    correctly-rounded sqrt), so no p-value series expansion is needed.
    Output rows exist only for days whose previous day has data.

    Output: series cols + day, n_today, n_prev, ks_d, crit, drift.

    Scale shape: one hash agg to (series, day, DISTINCT value) counts —
    the exchange carries distinct values, never points — one tagged
    union self-alignment on day+1 (no join of point-sized frames), one
    window ordered by value within (series, day-pair) partitions, and a
    final group-sized max.  Integer products bound: cum*n per (series,
    day) pair must stay under 2^63 (~3e9 points/series/day)."""
    from pyspark.sql.window import Window

    scols = list(series_cols)
    day = F.date_trunc("day", F.col(ts_col)).alias("day")
    v = F.col(val_col).cast("double").alias("val")
    # cached: the distinct-value counts frame (bounded by distinct
    # values, not points) feeds the today/prev union AND the totals —
    # uncached, each consumer re-scans the raw points
    vals = points.select(*scols, day, v).groupBy(
        *scols, "day", "val").agg(F.count(F.lit(1)).alias("cnt"))
    if cache:
        # CAVEAT: for continuous high-cardinality values this frame is
        # ~points-sized (one row per distinct value) — quantize the
        # value column upstream or pass cache=False there; pinned until
        # unpersist either way
        vals = vals.cache()
    totals = vals.groupBy(*scols, "day").agg(F.sum("cnt").alias("n"))
    nxt_day = (F.col("day") + F.expr("interval 1 day")).alias("day")
    today = vals.select(*scols, "day", "val",
                        F.col("cnt").alias("cp"), F.lit(0).alias("cq"))
    prev = vals.select(*scols, nxt_day, "val",
                       F.lit(0).alias("cp"), F.col("cnt").alias("cq"))
    merged = today.unionByName(prev).groupBy(*scols, "day", "val").agg(
        F.sum("cp").alias("cp"), F.sum("cq").alias("cq"))
    w = (Window.partitionBy(*scols, "day").orderBy("val")
         .rowsBetween(Window.unboundedPreceding, 0))
    cum = merged.select(
        *scols, "day",
        F.sum("cp").over(w).alias("cum_p"),
        F.sum("cq").over(w).alias("cum_q"))
    n_today = totals.select(*scols, "day", F.col("n").alias("n_p"))
    n_prev = totals.select(
        *scols, nxt_day, F.col("n").alias("n_q"))
    joined = cum.join(n_today, [*scols, "day"]) \
                .join(n_prev, [*scols, "day"])
    stat = joined.groupBy(*scols, "day").agg(
        F.first("n_p").alias("n_today"),
        F.first("n_q").alias("n_prev"),
        F.max(F.abs(F.col("cum_p") * F.col("n_q")
                    - F.col("cum_q") * F.col("n_p"))).alias("_num"))
    den = F.col("n_today").cast("double") * F.col("n_prev").cast("double")
    d = F.col("_num").cast("double") / den
    crit = F.lit(c_alpha) * F.sqrt(
        (F.col("n_today") + F.col("n_prev")).cast("double") / den)
    return stat.select(
        *scols, "day", "n_today", "n_prev",
        F.round(d, round_dp).alias("ks_d"),
        F.round(crit, round_dp).alias("crit"),
        (d > crit).alias("drift"),
    )


def mase_backtest(
    series: DataFrame,
    period: int,
    series_cols: tuple[str, ...] = ("event_type",),
    order_col: str = "bucket_ts",
    val_col: str = "v",
    round_dp: int = 6,
) -> DataFrame:
    """MASE backtest of the seasonal-naive forecaster (Hyndman &
    Koehler 2006): per series, the mean absolute error of forecasting
    v[t] = v[t - period] scaled by the in-sample naive (lag-1) MAE.
    mase < 1 means the claimed seasonality genuinely beats persistence
    — the go/no-go check before shipping a seasonal forecast off a
    rollup tier.

    Input is an already-bucketed series frame (one row per (series,
    order_col), `order_col` unique within its series — a rollup grain
    is); `val_col` should be an INTEGER value (fixed-point encode
    doubles first, e.g. the milli-unit floor(x*1000) contract): then
    both error sums are exact int64, and the output is three IEEE
    divisions on exact integers — engine-identical, rounded once.

    Output per series: (series_cols..., n, n_seasonal, n_naive,
    sum_abs_err_seasonal, sum_abs_err_naive, mase); mase is NULL when
    either error set is empty or the naive error sum is zero (a
    constant series has no persistence error to scale by).

    Scale shape: two lag columns in ONE ordered window pass per series
    + one hash aggregate; series partitions are rollup-grain sized
    (points per series at the tier grain), never raw-event sized."""
    if period < 1:
        raise ValueError(f"mase_backtest: need period >= 1, "
                         f"got {period=}")
    from pyspark.sql.window import Window

    g = list(series_cols)
    w = Window.partitionBy(*g).orderBy(order_col)
    v = F.col(val_col).cast("long")
    lagged = series.select(
        *g, v.alias("_v"),
        F.lag(v, period).over(w).alias("_vs"),
        F.lag(v, 1).over(w).alias("_vn"),
    )
    se = F.abs(F.col("_v") - F.col("_vs"))
    ne = F.abs(F.col("_v") - F.col("_vn"))
    agg = lagged.groupBy(*g).agg(
        F.count(F.lit(1)).alias("n"),
        F.count("_vs").alias("n_seasonal"),
        F.count("_vn").alias("n_naive"),
        F.coalesce(F.sum(se), F.lit(0)).cast("long")
        .alias("sum_abs_err_seasonal"),
        F.coalesce(F.sum(ne), F.lit(0)).cast("long")
        .alias("sum_abs_err_naive"),
    )
    ok = ((F.col("n_seasonal") > 0) & (F.col("n_naive") > 0)
          & (F.col("sum_abs_err_naive") > 0))
    mase = (
        (F.col("sum_abs_err_seasonal").cast("double")
         / F.col("n_seasonal"))
        / (F.col("sum_abs_err_naive").cast("double") / F.col("n_naive"))
    )
    return agg.select(
        *g, "n", "n_seasonal", "n_naive",
        "sum_abs_err_seasonal", "sum_abs_err_naive",
        F.when(ok, F.round(mase, round_dp)).alias("mase"),
    )


def predict_linear(
    series: DataFrame,
    range_s: int = 3600,
    horizon_s: int = 3600,
    grid: str = "minute",
    grid_s: int = 60,
    series_cols: tuple[str, ...] = (),
    ts_col: str = "bucket_ts",
    val_col: str = "v",
    round_dp: int = 6,
) -> DataFrame:
    """PromQL `predict_linear`: at every occupied grid bucket, fit a
    least-squares line to the trailing `range_s` window of the series
    and extrapolate `horizon_s` ahead — the capacity-planning alert
    primitive ("disk full in 4h", "token budget exhausted tomorrow").

    Input is an already-bucketed series frame (one row per (series,
    ts_col) at `grid` spacing, e.g. a 1m rollup tier); `val_col` must
    be an INTEGER value (fixed-point encode doubles first — the
    mase_backtest contract).  Every regression moment is then an exact
    int64: with t = epoch seconds re-based to the series' first bucket
    and x = t - t_eval (|x| <= range_s inside the window),
        sum_x  = sum_t  - m * t0
        sum_xx = sum_tt - 2 * t0 * sum_t + m * t0^2
        sum_xy = sum_ty - t0 * sum_y
    are all integer algebra over window sums of integer columns, so
        slope   = (m*sum_xy - sum_x*sum_y) / (m*sum_xx - sum_x^2)
        predict = (sum_y - slope*sum_x)/m + slope*horizon_s
    costs exactly three IEEE divisions/multiplies on exact integers —
    engine-identical, rounded once.  Exactness bound (documented, not
    guarded): |t| * |v| and sum_tt must stay under 2^63 — a decade-long
    series (t ~ 3e8 s) of milli-unit values up to ~1e7 is safe; re-base
    the epoch or drop to a coarser grid beyond that.

    Output per (series, bucket): n_samples, slope, predicted — NULL
    slope/prediction when the window holds < 2 samples or a single
    distinct timestamp (degenerate regression).

    Scale shape: identical to slo_burn_rate — the trailing RANGE window
    runs over the bucket-grain frame (rows = covered buckets, never raw
    events), one exchange on the series key shared by the re-basing
    min() and the ordered window."""
    from pyspark.sql.window import Window

    if grid not in BUCKET_SECONDS:
        raise ValueError(
            f"predict_linear: unsupported grid='{grid}' — fixed-width "
            f"units only ({sorted(BUCKET_SECONDS)}); variable-width "
            f"buckets cannot size the trailing RANGE window")
    if BUCKET_SECONDS[grid] != grid_s:
        raise ValueError(
            f"predict_linear: grid='{grid}' is {BUCKET_SECONDS[grid]}s "
            f"but grid_s={grid_s} — the RANGE window would be sized "
            f"for the wrong bucket spacing")
    if range_s % grid_s or range_s < grid_s:
        raise ValueError(
            f"predict_linear: range_s must be a positive grid multiple, "
            f"got {range_s=} {grid_s=}")
    if horizon_s < 0:
        raise ValueError(f"predict_linear: need horizon_s >= 0, "
                         f"got {horizon_s=}")
    g = list(series_cols)
    wa = Window.partitionBy(*g)
    base = series.select(
        *g, F.col(ts_col).alias("bucket_ts"),
        F.col(val_col).cast("long").alias("_y"),
        F.unix_timestamp(F.col(ts_col).cast("timestamp")).alias("_ep"),
    ).withColumn("_t", F.col("_ep") - F.min("_ep").over(wa))
    wr = (Window.partitionBy(*g).orderBy("_t")
          .rangeBetween(-(range_s - grid_s), 0))
    m = F.count(F.lit(1)).over(wr)
    s_t = F.sum("_t").over(wr)
    s_tt = F.sum(F.col("_t") * F.col("_t")).over(wr)
    s_y = F.sum("_y").over(wr)
    s_ty = F.sum(F.col("_t") * F.col("_y")).over(wr)
    t0 = F.col("_t")
    sx = s_t - m * t0
    sxx = s_tt - F.lit(2) * t0 * s_t + m * t0 * t0
    sxy = s_ty - t0 * s_y
    num = m * sxy - sx * s_y
    den = m * sxx - sx * sx
    slope = num.cast("double") / den.cast("double")
    predict = ((s_y.cast("double") - slope * sx.cast("double"))
               / m.cast("double")) + slope * F.lit(float(horizon_s))
    ok = (m >= 2) & (den != 0)
    return base.select(
        *g, "bucket_ts", m.alias("n_samples"),
        F.when(ok, F.round(slope, round_dp)).alias("slope"),
        F.when(ok, F.round(predict, round_dp)).alias("predicted"),
    )
