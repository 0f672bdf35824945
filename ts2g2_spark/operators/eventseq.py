"""Event-sequence analytics over a (series, ts, type) stream: Markov
transition matrices, ordered funnel conversion, cohort retention, and
gap-based sessionization.

The transition matrix is the categorical-stream cousin of the
reference's ordinal-partition transition graph (to_graph/strategies.py
ordinal strategy): states are the event types themselves instead of
value-order patterns, edges are observed consecutive transitions.

Scale shapes (Catalyst, except burst_detection):
  * event_transitions: ONE ordered window on the series key for the
    lag pairing, then a partial-agg'd groupBy (src, dst) — the second
    exchange carries one row per distinct transition, never per event.
    The probability normalization is a window over the tiny (|types|^2)
    aggregate, not over events.
  * funnel: one exchange on the series key; each step's first-hit
    timestamp is an unordered window aggregate over that partition,
    computed in sequence so step k can require ts >= step k-1's hit.
    The final per-step rollup is a global partial agg of one row per
    series.
  * cohort_retention: user-level min rides a window over the user key,
    then (cohort_day, offset) counts distinct users — both exchanges
    partial-aggregated.
  * sessionize: lag + running sum ride ONE ordered window on the series
    key; the per-session rollup groups on a strict refinement of that
    key and partial-aggregates, so the second exchange carries one row
    per session, never per event.
  * burst_detection is the one Python crossing: one collect_list shuffle,
    then the package's Arrow emitter (`emit._map_segments`) with the
    Viterbi passes vectorized across the series of a run.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType, StructField, StructType
from pyspark.sql.window import Window

from ts2g2_spark.operators import kernels
from ts2g2_spark.operators.emit import _map_segments
from ts2g2_spark.operators.summarize import _okey


def event_transitions(
    events: DataFrame,
    series_cols: list[str] = ("user_id",),
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str | None = None,
) -> DataFrame:
    """Global first-order Markov transition matrix over per-series event
    sequences ((ts, order_col) order): for every observed consecutive
    pair, the transition count and the row-normalized probability
    p(dst | src) (rounded to 6 decimals).  Each series' first event has
    no predecessor and contributes no pair; cross-series pairs never
    form (the lag window is per series).

    Output: src_type, dst_type, n, p — one row per observed transition.
    """
    scols = [F.col(c) for c in series_cols]
    wo = Window.partitionBy(*scols).orderBy(_okey(ts_col, order_col))
    paired = events.select(
        F.lag(type_col).over(wo).alias("src_type"),
        F.col(type_col).alias("dst_type"),
    ).where(F.col("src_type").isNotNull())
    counts = paired.groupBy("src_type", "dst_type") \
        .agg(F.count(F.lit(1)).alias("n"))
    w_src = Window.partitionBy("src_type")
    return counts.select(
        "src_type", "dst_type", "n",
        F.round(F.col("n") / F.sum("n").over(w_src), 6).alias("p"),
    )


def funnel(
    events: DataFrame,
    steps: list[str],
    series_cols: list[str] = ("user_id",),
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Ordered funnel conversion: a series completes step k when an
    event of type steps[k] occurs at ts >= the FIRST qualifying hit of
    step k-1 (inclusive — simultaneous timestamps count as in-order;
    step hits use each step's earliest qualifying timestamp).  When
    steps[k] repeats steps[k-1], the comparison is STRICT (ts >) so one
    event can never satisfy both occurrences; repeated steps at the
    exact same timestamp are therefore not counted as two hits.

    Output: step (1-based), step_name, n_series (series that reached
    the step), conv (n_series / step-1 reach, rounded to 6; 1.0 for the
    first step when any series reached it).

    One exchange on the series key; step hits are sequential unordered
    window aggregates over that partition (len(steps) window passes,
    zero joins, zero extra shuffles).
    """
    if len(steps) < 2:
        raise ValueError("funnel needs at least 2 steps")
    scols = [F.col(c) for c in series_cols]
    w = Window.partitionBy(*scols)
    df = events.select(*scols, F.col(type_col).alias("_t"),
                       F.col(ts_col).alias("_ts"))
    prev = None
    for i, s in enumerate(steps):
        cond = F.col("_t") == s
        if prev is not None:
            after = (F.col("_ts") > F.col(prev) if s == steps[i - 1]
                     else F.col("_ts") >= F.col(prev))
            cond = cond & F.col(prev).isNotNull() & after
        hit = f"_h{i}"
        df = df.withColumn(hit, F.min(F.when(cond, F.col("_ts"))).over(w))
        prev = hit
    per_series = df.groupBy(*series_cols).agg(
        *[F.max(f"_h{i}").alias(f"_h{i}") for i in range(len(steps))])
    totals = per_series.agg(
        *[F.count(f"_h{i}").alias(f"_n{i}") for i in range(len(steps))])
    rows = F.array(*[
        F.struct(
            F.lit(i + 1).alias("step"),
            F.lit(s).alias("step_name"),
            F.col(f"_n{i}").alias("n_series"),
            F.when(
                (F.col(f"_n{i-1}") if i else F.col(f"_n{i}")) > 0,
                F.round(
                    F.col(f"_n{i}")
                    / (F.col(f"_n{i-1}") if i else F.col(f"_n{i}")), 6),
            ).alias("conv"),
        ) for i, s in enumerate(steps)
    ])
    return totals.select(F.explode(rows).alias("_r")).select("_r.*")


def sessionize(
    events: DataFrame,
    gap_s: int,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    order_col: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: split each series' event stream into
    sessions wherever the gap to the previous event exceeds `gap_s`
    seconds (strictly — a gap of exactly `gap_s` stays in-session).
    Session ids are 1-based per series in time order.

    Timestamps compare in epoch MICROseconds (cast through TIMESTAMP
    under the pinned-UTC session, same as m4_downsample) so sub-second
    components participate in the gap test, and the reported duration is
    exact — `duration_us` is end minus start in microseconds.

    Output: series cols + session_id, start_ts, end_ts, n_events,
    duration_us.

    Scale shape: the lag and the running session counter ride ONE
    ordered window on the series key; the per-session rollup groups on
    (series, session_id) — a strict refinement of the same key — and
    partial-aggregates, so its exchange carries one row per session.
    """
    if gap_s <= 0:
        raise ValueError(f"sessionize: gap_s must be positive, got {gap_s}")
    scols = [F.col(c) for c in series_cols]
    wo = Window.partitionBy(*scols).orderBy(_okey(ts_col, order_col))
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    new_session = F.when(
        (ts_us - F.lag(ts_us).over(wo)).isNull()
        | (ts_us - F.lag(ts_us).over(wo) > gap_s * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    staged = events.select(
        *scols,
        F.col(ts_col).alias("_ts"),
        ts_us.alias("_us"),
        F.sum(new_session).over(
            wo.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("session_id"),
    )
    return staged.groupBy(*series_cols, "session_id").agg(
        F.min("_ts").alias("start_ts"),
        F.max("_ts").alias("end_ts"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("_us") - F.min("_us")).alias("duration_us"),
    )


def cohort_retention(
    events: DataFrame,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention: each series' cohort is the calendar day of its
    first event; report, per (cohort_day, day offset), how many series
    of that cohort were active (>= 1 event) that day, plus the retention
    rate against the cohort's size (rounded to 6 decimals).

    Output: cohort_day (date), offset_days, n_active, retention.
    """
    scols = [F.col(c) for c in series_cols]
    w = Window.partitionBy(*scols)
    staged = events.select(
        *scols,
        F.to_date(ts_col).alias("_day"),
        F.to_date(F.min(ts_col).over(w)).alias("cohort_day"),
    ).select(
        *scols, "cohort_day",
        F.datediff(F.col("_day"), F.col("cohort_day")).alias("offset_days"),
    ).distinct()
    active = staged.groupBy("cohort_day", "offset_days").agg(
        F.count(F.lit(1)).alias("n_active"))
    w_cohort = Window.partitionBy("cohort_day")
    # offset 0 contains every series of the cohort by construction
    cohort_size = F.max(F.when(F.col("offset_days") == 0,
                               F.col("n_active"))).over(w_cohort)
    return active.select(
        "cohort_day", "offset_days", "n_active",
        F.round(F.col("n_active") / cohort_size, 6).alias("retention"),
    )


def heartbeat_gaps(
    events: DataFrame,
    gap_s: int,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    order_col: str | None = None,
) -> DataFrame:
    """Heartbeat / absence detection (the monitoring complement of
    sessionize): report every silence longer than `gap_s` seconds
    between consecutive events of a series, plus per-series coverage —
    how much of the observed span was NOT inside such a gap.

    One row per detected gap: series cols + gap_start (last event
    before the silence), gap_end (first event after), gap_us, and the
    per-series constants n_gaps, uptime_pct (rounded to 6 dp; 100.0 for
    single-event series whose observed span is zero).  Strictly-greater
    comparison (a silence of exactly gap_s is NOT a gap) — the same
    boundary contract as sessionize.

    Scale shape: one lag on the ordered series window, a filter, and a
    per-series window for the constants — the gap rows are the tiny
    frame, so the second window costs one exchange over detected gaps
    only.  No joins.
    """
    from pyspark.sql import Window

    if gap_s <= 0:
        raise ValueError(f"heartbeat_gaps: gap_s must be > 0, got {gap_s}")
    scols = [F.col(c) for c in series_cols]
    okey = ([F.col(ts_col), F.col(order_col)] if order_col
            else [F.col(ts_col)])
    wo = Window.partitionBy(*scols).orderBy(*okey)
    wa = Window.partitionBy(*scols)
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(ts_us).over(wo)
    span = F.max(ts_us).over(wa) - F.min(ts_us).over(wa)
    staged = events.select(
        *scols,
        F.col(ts_col).alias("gap_end"),
        F.lag(F.col(ts_col)).over(wo).alias("gap_start"),
        (ts_us - prev_us).alias("_gap_us"),
        span.alias("_span_us"),
    ).where(F.col("_gap_us") > gap_s * 1_000_000)
    wg = Window.partitionBy(*series_cols)
    up = F.when(
        F.col("_span_us") > 0,
        F.round(100.0 * (1 - F.sum("_gap_us").over(wg)
                         / F.col("_span_us")), 6),
    ).otherwise(F.lit(100.0))
    return staged.select(
        *series_cols, "gap_start", "gap_end",
        F.col("_gap_us").alias("gap_us"),
        F.count(F.lit(1)).over(wg).alias("n_gaps"),
        up.alias("uptime_pct"),
    )


def burst_detection(
    points: DataFrame,
    bucket_s: int = 3600,
    s: float = 3.0,
    gamma: float = 1.0,
    series_cols: list[str] = ("user_id",),
    ts_col: str = "ts",
    state_dp: int = 9,
) -> DataFrame:
    """Kleinberg-style burst detection per series (the batched two-state
    automaton over DENSE bucket counts, Poisson emissions):

      state 0 emits at the series' baseline rate l0 = total/n_buckets,
      state 1 at the burst rate l1 = s*l0; emitting count c under rate l
      costs l - c*ln(l) (the Poisson NLL with the state-independent
      ln(c!) dropped — it cancels in every Viterbi comparison); entering
      the burst state costs gamma*ln(n), leaving is free.  The exact
      Viterbi (min-cost) state path labels each bucket burst/not.

    DETERMINISM CONTRACT (the holt/pagerank discipline): both running
    costs are quantized with floor(x*1e9 + 0.5)/1e9 at EVERY bucket,
    cost ties prefer state 0, and the backtrack pointers are functions
    of those quantized costs — so a recursive-CTE SQL oracle (forward
    pass + backward backtrack pass) replays the identical path.

    Buckets are DENSIFIED per series between its first and last
    observed bucket (zero counts included — absence of events is
    evidence against a burst); n_buckets at 90d of hourly buckets is
    ~2160, the per-series segment regime.

    Scale shape: one hash agg to (series, bucket) counts, one
    collect_list shuffle, then a map-only kernel whose forward AND
    backward passes are vectorized ACROSS series per Arrow batch.

    Output: series cols + bucket_ts, cnt, burst (boolean), one row per
    dense bucket."""
    if s <= 1.0:
        raise ValueError(f"burst_detection: need s > 1, got {s=}")
    if gamma < 0.0:
        raise ValueError(f"burst_detection: need gamma >= 0, got {gamma=}")
    scols = [F.col(c) for c in series_cols]
    # epoch-floor bucket kept as an epoch-second LONG end-to-end (the
    # grid is plans.rollup._bucket_ts's, pre-timestamp_seconds): the
    # kernel's dense index math and its output stay timezone-free —
    # Arrow hands Python session-LOCAL naive datetimes, which collide
    # across DST transitions under a non-UTC session timezone
    b = ((F.unix_timestamp(F.col(ts_col)) / bucket_s).cast("long")
         * bucket_s)
    cnts = points.groupBy(*scols, b.alias("bucket_sec")).agg(
        F.count(F.lit(1)).alias("cnt"))
    grouped = cnts.groupBy(*scols).agg(
        F.sort_array(
            F.collect_list(F.struct("bucket_sec", "cnt"))).alias("_s")
    ).select(F.col("_s.bucket_sec").alias("_secs"),
             F.col("_s.cnt").alias("_cs"), *scols)
    out_schema = StructType([grouped.schema[c] for c in series_cols] + [
        StructField("bucket_sec", LongType()),
        StructField("cnt", LongType()),
        StructField("burst", BooleanType()),
    ])

    def kernel(secs, cs, *_keys):
        seg, sec, cnt, burst = kernels.burst_states_segmented(
            secs.values, cs.values, secs.lengths, bucket_s, s, gamma,
            state_dp)
        return seg, {"bucket_sec": pa.array(sec), "cnt": pa.array(cnt),
                     "burst": pa.array(burst)}

    out = _map_segments(grouped, out_schema, kernel)
    return out.select(
        *[F.col(c) for c in series_cols],
        F.timestamp_seconds("bucket_sec").alias("bucket_ts"),
        "cnt", "burst",
    )


def user_growth(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    grain: str = "day",
) -> DataFrame:
    """Growth curve at the chosen `date_trunc` grain: per bucket,
    n_active (distinct users seen), n_new (users whose FIRST-ever
    event lands in the bucket), and cum_users (distinct users seen up
    to and including the bucket — the running audience size).  The
    top-line activation/retention readout every events pipeline
    reports first.

    Scale shape: one hash aggregate to (user, bucket) distinct pairs
    (map-side combine collapses per-event duplicates), a user-keyed
    min for the first-seen bucket, then all remaining work — counts,
    the cumulative window — runs on bucket-grain frames (days, never
    events).  cum_users comes from summing n_new, correct because
    first-seen buckets partition the user set.  All-integer output, no
    rounding contract."""
    ub = (
        events.where(F.col(user_col).isNotNull()
                     & F.col(ts_col).isNotNull())
        .select(F.col(user_col).alias("_u"),
                F.date_trunc(grain, F.col(ts_col)).alias("bucket_ts"))
        .distinct()
    )
    active = ub.groupBy("bucket_ts").agg(
        F.count(F.lit(1)).alias("n_active"))
    first_seen = ub.groupBy("_u").agg(
        F.min("bucket_ts").alias("bucket_ts"))
    new = first_seen.groupBy("bucket_ts").agg(
        F.count(F.lit(1)).alias("n_new"))
    w = (Window.orderBy("bucket_ts")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        active.join(new, "bucket_ts", "left")
        .select(
            "bucket_ts", "n_active",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"))
        .withColumn("cum_users", F.sum("n_new").over(w))
    )
