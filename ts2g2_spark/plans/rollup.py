"""Continuous-aggregate rollup tiers (1m/1h/1d), gap-fill, retention.

The 1m tier has one implementation per input shape:

1. TOKENIZED TABLE (`rollup_from_tokens`): the input table keeps a doc's
   whole series in one row (input_hint), so the 1m tier is computable with
   ZERO shuffle -- a mapInArrow kernel turns each Arrow batch of tokens
   arrays into bucket rows in one vectorized pass (gap-fill included).
   At 100 TB this is the difference between a map-only stage and a
   trillion-row exchange.

2. ROW-PER-POINT TABLE (`rollup_points`): when points arrive as rows
   (e.g. an events table), the tier is a groupBy window aggregate --
   Catalyst plans it as partial (map-side) + final hash aggregation, so
   the shuffle carries one row per (series, bucket), not per point.

Coarser tiers always derive from the finer tier (`rollup_tier_up`) — the
continuous-aggregate contract: sum/cnt re-aggregate, min/min, max/max,
first/last pick by bucket timestamp (exact, associative).  Tier-from-tier
equals tier-from-raw bit-identically because count/sum of doubles over the
same groups in the same tree order... is NOT order-stable for sum, so the
engine keeps sums as exact token-integer sums (int64) wherever values are
tokens, and tests assert equality against recomputation from raw.
"""

from __future__ import annotations

import datetime as _dt
import functools
from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts2g2_spark.plans.points import BASE_EPOCH

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
# retention horizons per tier (north rule: tier-scoped retention)
DEFAULT_RETENTION = {"1m": 7 * 86400, "1h": 90 * 86400, "1d": 3650 * 86400}

def _bucket_ts(col, tier_s: int):
    """Epoch-floor bucket: the single bucket-grid definition every tier
    (rollup, distinct sketch, tier-up) shares -- one place to change
    alignment semantics."""
    return F.timestamp_seconds(
        (F.unix_timestamp(col) / tier_s).cast("long") * tier_s)


ROLLUP_SCHEMA = (
    "doc_id string, source string, bucket_ts timestamp, cnt long, "
    "sum double, min double, max double, first double, last double, "
    "gapfilled boolean"
)
_ROLLUP_COLS = [f.split()[0] for f in ROLLUP_SCHEMA.split(", ")]


def rollup_from_tokens(
    df: DataFrame,
    tier: str = "1m",
    step_seconds: int = 1,
    base_epoch: int = BASE_EPOCH,
    gapfill: bool = False,
    positions_col: str | None = None,
) -> DataFrame:
    """Map-only rollup of the tokenized input table (no shuffle).

    Each doc's series is row-local, so per-(doc, bucket) aggregates are a
    pure Arrow-batch transform: one vectorized pass per batch over all of
    its docs' points, which must be in ascending position order within a
    doc.  first/last are by position within the bucket.  Gap-fill is also
    row-local: the dense bucket range per doc is emitted with
    gapfilled=true markers (cnt=0, null aggregates) -- exactly the rows a
    sequence()+anti-join would add, minus the join."""
    tier_s = TIER_SECONDS[tier]

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            toks = batch.column("tokens")
            n = toks.value_lengths().fill_null(0).to_numpy()
            if not n.any():
                continue
            vals = toks.flatten().to_numpy().astype(np.float64)
            doc = np.repeat(np.arange(len(n)), n)
            if positions_col is None:
                pos = np.arange(len(vals)) - np.repeat(np.cumsum(n) - n, n)
            else:
                pos = batch.column(positions_col).flatten().to_numpy()
            bucket = ((base_epoch + pos.astype(np.int64) * step_seconds)
                      // tier_s * tier_s)
            # one group per run of equal (doc, bucket): the key only
            # changes where the doc or the bucket does
            new = np.ones(len(vals), dtype=bool)
            new[1:] = (doc[1:] != doc[:-1]) | (bucket[1:] != bucket[:-1])
            starts = np.flatnonzero(new)
            ends = np.append(starts[1:], len(vals))
            gdoc, gbucket = doc[starts], bucket[starts]
            aggs = {
                "cnt": ends - starts,
                "sum": np.add.reduceat(vals, starts),
                "min": np.minimum.reduceat(vals, starts),
                "max": np.maximum.reduceat(vals, starts),
                "first": vals[starts],
                "last": vals[ends - 1],
            }
            if gapfill:
                # dense spine of every doc's [first, last] bucket range;
                # slot = the spine row of each non-empty group
                dstart = np.flatnonzero(np.diff(gdoc, prepend=-1))
                per_doc = np.diff(np.append(dstart, len(gdoc)))
                lo = gbucket[dstart]
                m = (gbucket[dstart + per_doc - 1] - lo) // tier_s + 1
                off = np.cumsum(m) - m
                slot = (np.repeat(off, per_doc)
                        + (gbucket - np.repeat(lo, per_doc)) // tier_s)
                gdoc = np.repeat(gdoc[dstart], m)
                gbucket = (np.repeat(lo - off * tier_s, m)
                           + np.arange(m.sum()) * tier_s)
                for k, v in aggs.items():
                    aggs[k] = np.full(len(gdoc), 0 if k == "cnt" else np.nan,
                                      dtype=v.dtype)
                    aggs[k][slot] = v
            yield pa.RecordBatch.from_arrays([
                batch.column("doc_id").take(gdoc),
                batch.column("source").take(gdoc),
                pa.array(gbucket * 1_000_000,
                         type=pa.timestamp("us", tz="UTC")),
                *[pa.array(v, from_pandas=True) for v in aggs.values()],
                pa.array(aggs["cnt"] == 0),  # only spine rows are empty
            ], names=_ROLLUP_COLS)

    return df.mapInArrow(kernel, schema=ROLLUP_SCHEMA)


def rollup_points(
    points: DataFrame,
    tier: str,
    series_cols: list[str] = ("doc_id", "source"),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
) -> DataFrame:
    """Relational rollup for row-per-point tables: the serving row of
    `rollup_state`.  Partial+final hash agg; first/last are deterministic
    via min_by/max_by on (ts, order_col).  Catalyst prunes the state's
    unused order-key aggregates, so the plan is one Aggregate."""
    okey = (F.struct(F.col(ts_col), F.col(order_col)) if order_col
            else None)
    return finalize_state(
        rollup_state(points, tier, series_cols=series_cols, ts_col=ts_col,
                     val_col=val_col, okey=okey),
        series_cols=series_cols)


def rollup_tier_up(
    finer: DataFrame, to_tier: str,
    series_cols: list[str] = ("doc_id", "source"),
) -> DataFrame:
    """Continuous aggregate: derive a coarser tier from a finer tier.
    All aggregates are associative so this is exact; gap-fill markers from
    the finer tier are excluded (they carry no data)."""
    tier_s = TIER_SECONDS[to_tier]
    src = finer.where(~F.col("gapfilled"))
    bucket = _bucket_ts("bucket_ts", tier_s).alias("bucket_ts")
    return (
        src.groupBy(*[F.col(c) for c in series_cols], bucket)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum").alias("sum"),
            F.min("min").alias("min"),
            F.max("max").alias("max"),
            F.min_by("first", F.col("bucket_ts")).alias("first"),
            F.max_by("last", F.col("bucket_ts")).alias("last"),
        )
        .withColumn("gapfilled", F.lit(False))
    )


def gapfill(
    tier_df: DataFrame,
    tier: str,
    series_cols: list[str] = ("doc_id", "source"),
    fill: str = "null",
) -> DataFrame:
    """Relational gap-fill, join-free, in one windowed pass: per series,
    lead(bucket_ts) finds each row's successor, and the row explodes into
    sequence(bucket_ts, nxt - step): element 0 keeps the row itself, the
    rest are exactly the missing interior buckets before the successor.
    One window shuffle on the series key — no spine build, no join, and no
    union of the tier with gaps derived from it, so a tier that is not
    materialized is computed and scanned once.  fill='null'|'zero'|'locf'|
    'linear' (locf via last(ignorenulls) window over the same partitioning;
    linear interpolates each value column between the gap's endpoints,
    with lead() riding the same window pass as the gap detection —
    interior gaps only by construction, so both endpoints always exist)."""
    from pyspark.sql.window import Window

    tier_s = TIER_SECONDS[tier]
    step = F.expr(f"interval {tier_s} second")
    scols = list(series_cols)
    w = Window.partitionBy(*scols).orderBy("bucket_ts")
    agg_cols = ["cnt", "sum", "min", "max", "first", "last"]
    val_cols = agg_cols[1:]
    nxt = F.lead("bucket_ts").over(w)
    lead_vals = ([F.lead(c).over(w).alias(f"_n_{c}") for c in val_cols]
                 if fill == "linear" else [])
    rows = (
        tier_df.select(*scols, "bucket_ts", *agg_cols, "gapfilled",
                       nxt.alias("nxt"), *lead_vals)
        .select(
            "*",
            F.posexplode(
                F.when(F.col("nxt") > F.col("bucket_ts") + step,
                       F.sequence("bucket_ts", F.col("nxt") - step, step))
                .otherwise(F.array("bucket_ts"))
            ).alias("_i", "_ts"),
        )
    )
    own = F.col("_i") == 0
    if fill == "linear":
        # value = prev + (next - prev) * (t - t_prev) / (t_next - t_prev);
        # integer epoch arithmetic then one double division, so an ANSI-SQL
        # oracle reproduces the float bit-for-bit at 12 significant digits.
        frac = (
            (F.unix_timestamp("_ts")
             - F.unix_timestamp("bucket_ts")).cast("double")
            / (F.unix_timestamp("nxt")
               - F.unix_timestamp("bucket_ts")).cast("double")
        )
        fills = {c: F.col(c) + (F.col(f"_n_{c}") - F.col(c)) * frac
                 for c in val_cols}
    else:
        fills = {c: F.lit(None).cast("double") for c in val_cols}
    out = rows.select(
        *scols, F.col("_ts").alias("bucket_ts"),
        F.when(own, F.col("cnt")).otherwise(F.lit(0).cast("long"))
        .alias("cnt"),
        *[F.when(own, F.col(c)).otherwise(fills[c]).alias(c)
          for c in val_cols],
        F.when(own, F.col("gapfilled")).otherwise(F.lit(True))
        .alias("gapfilled"),
    )
    if fill == "zero":
        for c in ("sum", "min", "max", "first", "last"):
            out = out.withColumn(c, F.coalesce(c, F.lit(0.0)))
    elif fill == "locf":
        w = (Window.partitionBy(*scols).orderBy("bucket_ts")
             .rowsBetween(Window.unboundedPreceding, 0))
        for c in ("sum", "min", "max", "first", "last"):
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def rollup_state(
    points: DataFrame,
    tier: str,
    series_cols: list[str] = ("doc_id", "source"),
    ts_col: str = "ts",
    val_col: str = "value",
    okey=None,
) -> DataFrame:
    """Mergeable per-bucket aggregate STATE (the continuous-aggregate
    partial): (series..., bucket_ts, cnt, sum, min, max, first_key, first,
    last_key, last).

    Unlike the serving row (`rollup_points`), the state keeps the ORDER
    KEY of its first/last picks, which is exactly what makes two states
    over disjoint point sets mergeable without re-reading raw points:
    cnt/sum add, min/min, max/max, and first/last re-pick by the stored
    keys.  This is how TimescaleDB/Druid-style continuous aggregates
    absorb late data — the engine's incremental-refresh path
    (`merge_tier_states`) rides on it.

    `okey` must be a Column that is UNIQUE per point within a
    (series, bucket) group (e.g. an event-id-salted epoch) — uniqueness is
    what makes first/last, and therefore the merge, deterministic.
    Defaults to the raw timestamp, which is only safe when timestamps
    never tie within a series."""
    tier_s = TIER_SECONDS[tier]
    okey = F.col(ts_col) if okey is None else okey
    bucket = _bucket_ts(F.col(ts_col), tier_s).alias("bucket_ts")
    src = points.select(
        *[F.col(c) for c in series_cols], bucket,
        F.col(val_col).alias("_v"), okey.alias("_k"))
    return src.groupBy(*[F.col(c) for c in series_cols], "bucket_ts").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("_v").alias("sum"),
        F.min("_v").alias("min"),
        F.max("_v").alias("max"),
        F.min("_k").alias("first_key"),
        F.min_by("_v", F.col("_k")).alias("first"),
        F.max("_k").alias("last_key"),
        F.max_by("_v", F.col("_k")).alias("last"),
    )


_STATE_COLS = ("cnt", "sum", "min", "max",
               "first_key", "first", "last_key", "last")


def merge_tier_states(
    state: DataFrame,
    delta: DataFrame,
    series_cols: list[str] = ("doc_id", "source"),
) -> DataFrame:
    """Incremental tier refresh: fold a (small) late-data `delta` state
    into the materialized tier `state`, touching ONLY the
    (series, bucket) groups the delta names.

    Physical shape: the delta's key set is broadcast, so the big tier
    splits map-only into untouched rows (broadcast LEFT ANTI —
    passed through byte-identical, never re-aggregated) and touched rows
    (broadcast LEFT SEMI); only touched ∪ delta re-aggregates, an
    exchange of O(|delta|) rows.  At 10^12-bucket scale the refresh cost
    is proportional to the late batch, not the tier.  Buckets that exist
    only in the delta (a late point opening a brand-new bucket) fall out
    of the same union.

    Merging is exact for cnt/min/max/first/last (associative picks over
    the stored unique order keys) and float-associative for sum — same
    contract as `rollup_tier_up`."""
    keys = [*series_cols, "bucket_ts"]
    cols = [*keys, *_STATE_COLS]
    delta = delta.select(*cols)
    dkeys = F.broadcast(delta.select(*keys).dropDuplicates(keys))
    untouched = state.select(*cols).join(dkeys, keys, "left_anti")
    touched = state.select(*cols).join(dkeys, keys, "left_semi")
    merged = touched.unionByName(delta).groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("sum").alias("sum"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
        F.min_by("first", F.col("first_key")).alias("first"),
        F.min("first_key").alias("first_key"),
        F.max_by("last", F.col("last_key")).alias("last"),
        F.max("last_key").alias("last_key"),
    )
    return untouched.unionByName(merged.select(*cols))


def finalize_state(
    state: DataFrame,
    series_cols: list[str] = ("doc_id", "source"),
) -> DataFrame:
    """Project the mergeable state down to the serving-tier row shape
    (drops the first/last order keys; adds the gapfilled marker so the
    result composes with `gapfill`/`rollup_tier_up`/`serve_range`)."""
    return state.select(
        *[F.col(c) for c in series_cols], "bucket_ts",
        "cnt", "sum", "min", "max", "first", "last",
        F.lit(False).alias("gapfilled"),
    )


def refresh_tier(
    state: DataFrame,
    late_points: DataFrame,
    tier: str,
    series_cols: list[str] = ("doc_id", "source"),
    ts_col: str = "ts",
    val_col: str = "value",
    okey=None,
) -> DataFrame:
    """Convenience composition: state ⊕ rollup_state(late batch) —
    the one-call late-data refresh over a materialized tier state."""
    delta = rollup_state(late_points, tier, series_cols=series_cols,
                         ts_col=ts_col, val_col=val_col, okey=okey)
    return merge_tier_states(state, delta, series_cols=series_cols)


def apply_retention(
    tier_df: DataFrame, tier: str, now_epoch: int,
    horizons: dict[str, int] = DEFAULT_RETENTION,
) -> DataFrame:
    """Tier-scoped retention: keep buckets newer than the tier horizon.
    On partitioned storage (bucket_date partition column, see
    pipeline.write_tier) this predicate prunes whole partitions — a
    metadata-only drop, no row scan."""
    cutoff = now_epoch - horizons[tier]
    return tier_df.where(
        F.unix_timestamp("bucket_ts") >= F.lit(cutoff)
    )


def decompose_range(t0_us: int, t1_us: int,
                    tier_us: list[int]) -> dict:
    """Greedy coarse-to-fine cover of the half-open interval
    [t0_us, t1_us) (epoch microseconds) by tier-aligned segments.

    Returns {tier: [(lo, hi), ...], "raw": [(lo, hi), ...]} where each
    tier's segments are aligned to that tier's bucket grid and fully
    inside the request; whatever no tier grid can cover lands in "raw".
    Segments are pairwise disjoint and union exactly to [t0, t1) — the
    invariant the serve_range tests pin.  `tier_us` must be sorted
    coarsest-first; finer tiers must divide coarser ones (60s/3600s/
    86400s do), so a finer segment never straddles a coarser one.
    """
    if t0_us >= t1_us:
        raise ValueError(
            f"decompose_range: empty interval [{t0_us}, {t1_us})")
    segs: dict = {t: [] for t in tier_us}
    segs["raw"] = []
    remaining = [(t0_us, t1_us)]
    for t in tier_us:
        nxt = []
        for a, b in remaining:
            lo = -(-a // t) * t  # ceil to grid
            hi = (b // t) * t    # floor to grid
            if lo < hi:
                segs[t].append((lo, hi))
                if a < lo:
                    nxt.append((a, lo))
                if hi < b:
                    nxt.append((hi, b))
            else:
                nxt.append((a, b))
        remaining = nxt
    segs["raw"] = remaining
    return segs


def _epoch_us(x) -> int:
    """datetime (naive = UTC) or epoch microseconds -> epoch microseconds."""
    if isinstance(x, _dt.datetime):
        if x.tzinfo is None:
            x = x.replace(tzinfo=_dt.timezone.utc)
        return int(x.timestamp() * 1_000_000)
    return int(x)


def _in_ranges(col, ranges):
    p = F.lit(False)
    for lo, hi in ranges:
        p = p | ((col >= F.lit(lo)) & (col < F.lit(hi)))
    return p


def _stitch_range(name, points, t0, t1, tiers, build, ts_col,
                  tier_rows, raw_rows) -> DataFrame:
    """The range stitch behind `serve_range` and `serve_range_histogram`:
    cover [t0, t1) with the supplied tiers' buckets (coarsest first) plus
    raw slivers, and union one frame per covering source.

    `tiers=None` builds them with `build(points)` from the points
    pre-filtered to the request (every consumed bucket is fully inside
    [t0, t1), so this is exact) -- otherwise the whole table is rolled up
    to serve a one-hour ask.  `tier_rows(df, bucket_us)` and
    `raw_rows(df, ts_us)` project a range-filtered tier frame or raw frame
    to the caller's union schema."""
    t0_us, t1_us = _epoch_us(t0), _epoch_us(t1)
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    if tiers is None:
        points = points.where(
            (ts_us >= F.lit(t0_us)) & (ts_us < F.lit(t1_us)))
        tiers = build(points)
    unknown = set(tiers) - set(TIER_SECONDS)
    if unknown:
        raise ValueError(f"{name}: unknown tier names {unknown}")
    # decompose against the tiers actually supplied -- a partial
    # catalog (e.g. 1d dropped by retention) stitches from what exists
    by_us = {TIER_SECONDS[t] * 1_000_000: t for t in tiers}
    segs = decompose_range(t0_us, t1_us, sorted(by_us, reverse=True))
    b_us = F.unix_micros(F.col("bucket_ts"))
    parts = [tier_rows(tiers[by_us[t]].where(_in_ranges(b_us, ranges)), b_us)
             for t, ranges in segs.items() if t != "raw" and ranges]
    if segs["raw"]:
        parts.append(raw_rows(
            points.where(_in_ranges(ts_us, segs["raw"])), ts_us))
    return functools.reduce(DataFrame.unionByName, parts)


def serve_range(
    points: DataFrame,
    t0,
    t1,
    tiers: dict[str, DataFrame] | None = None,
    series_cols: list[str] = ("doc_id", "source"),
    ts_col: str = "ts",
    val_col: str = "value",
    order_col: str | None = None,
    round_dp: int = 6,
) -> DataFrame:
    """Real-time continuous-aggregate query: answer
    cnt/sum/min/max/first/last/avg per series over an ARBITRARY
    half-open [t0, t1) by stitching materialized tiers — whole days
    from the 1d tier, the day edges from 1h, the hour edges from 1m,
    and only the sub-minute slivers from raw (the TimescaleDB
    real-time CAGG serving pattern).

    `tiers` maps tier name -> rollup frame in the rollup_points schema
    (series cols + bucket_ts, cnt, sum, min, max, first, last,
    gapfilled).  When None, the 1m tier is computed from `points` and
    1h/1d derive via rollup_tier_up — the all-from-raw fallback the
    tests use; production passes the materialized tier tables and the
    raw scan touches at most ~2 minutes of data per edge.

    Each covering segment is disjoint in time, so the global first is
    the `first` of the earliest contributing unit and symmetrically for
    `last` — merged with min_by/max_by on (unit start, intra-unit
    order); tier units carry order -1 (they start at or before any raw
    point inside them, and tier/raw units never share a start).

    sum/avg round to `round_dp`: partial sums re-associate float
    addition vs a direct single-pass sum (drift ~1e-9 at this scale —
    the grid absorbs it; cnt/min/max/first/last are exact).

    Scale shape: each tier scan is a bucket_ts range predicate
    (partition-prunable on date-partitioned tier tables) feeding one
    partial+final hash agg on the series key; no joins, no windows.
    The raw scan reads only the sub-minute slivers.
    """
    def build(pts):
        m1 = rollup_points(pts, "1m", series_cols=series_cols,
                           ts_col=ts_col, val_col=val_col,
                           order_col=order_col)
        h1 = rollup_tier_up(m1, "1h", series_cols=series_cols)
        return {"1m": m1, "1h": h1,
                "1d": rollup_tier_up(h1, "1d", series_cols=series_cols)}

    scols = [F.col(c) for c in series_cols]
    v = F.col(val_col).cast("double")
    o = F.col(order_col).cast("long") if order_col else F.lit(0)
    u = _stitch_range(
        "serve_range", points, t0, t1, tiers, build, ts_col,
        tier_rows=lambda df, b_us: df.where(~F.col("gapfilled")).select(
            *scols, b_us.alias("_t"), F.lit(-1).alias("_o"),
            "cnt", F.col("sum").alias("_s"), "min", "max",
            "first", "last"),
        raw_rows=lambda df, ts_us: df.select(
            *scols, ts_us.alias("_t"), o.alias("_o"),
            F.lit(1).cast("long").alias("cnt"), v.alias("_s"),
            v.alias("min"), v.alias("max"),
            v.alias("first"), v.alias("last")))
    k = F.struct(F.col("_t"), F.col("_o"))
    agg = u.groupBy(*series_cols).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("_s").alias("_sum"),
        F.min("min").alias("min_val"),
        F.max("max").alias("max_val"),
        F.min_by("first", k).alias("first_val"),
        F.max_by("last", k).alias("last_val"),
    )
    return agg.select(
        *series_cols, "cnt",
        F.round("_sum", round_dp).alias("sum_val"),
        "min_val", "max_val", "first_val", "last_val",
        F.round(F.col("_sum") / F.col("cnt"), round_dp).alias("avg_val"),
    )


def _hll_key(df: DataFrame, key_col: str):
    """hll_sketch_agg accepts int/bigint/string/binary only; other key
    types (doubles, timestamps, ...) sketch their canonical string form
    — distinctness within one pipeline is preserved.

    MERGEABILITY CONTRACT: sketches are only union-safe across frames
    whose key column has the SAME physical type — a bigint 42 sketches
    the integer, a double 42.0 sketches the string '42.0', and a union
    of the two double-counts every id with no error.  Normalize the key
    type at ingestion (the same rule as any join key); this helper only
    guarantees batch and streaming agree GIVEN equally-typed inputs."""
    ok = {"int", "bigint", "string", "binary"}
    dtype = dict(df.dtypes).get(key_col)
    c = F.col(key_col)
    return c if dtype in ok else c.cast("string")


def distinct_rollup(
    points: DataFrame,
    tier: str,
    key_col: str,
    series_cols: list[str] = (),
    ts_col: str = "ts",
    lgk: int = 12,
) -> DataFrame:
    """Mergeable distinct-count tier: one Apache DataSketches HLL
    sketch of `key_col` per (series, bucket) plus its estimate — the
    engine-native answer to "hourly/daily active users" that a plain
    count(distinct) tier cannot give, because count(distinct) is NOT
    re-aggregable to coarser buckets while sketches union losslessly
    (`distinct_tier_up`).

    `n_distinct` is the sketch estimate (exact while the sketch is in
    its sparse exact regime — up to ~2^(lgk-3) distincts; ~1.6% RSE
    beyond for lgk=12).  The binary `sketch` column is the mergeable
    state a tier catalog persists.

    Scale shape: partial hash agg merges sketches map-side, so the
    exchange carries one lgk-bounded sketch per (series, bucket) —
    never the key values themselves.
    """
    tier_s = TIER_SECONDS[tier]
    bucket = _bucket_ts(F.col(ts_col), tier_s).alias("bucket_ts")
    return (
        points.groupBy(*[F.col(c) for c in series_cols], bucket)
        .agg(F.hll_sketch_agg(_hll_key(points, key_col),
                              F.lit(lgk)).alias("sketch"))
        .withColumn("n_distinct", F.hll_sketch_estimate("sketch"))
    )


def distinct_tier_up(
    finer: DataFrame, to_tier: str,
    series_cols: list[str] = (),
) -> DataFrame:
    """Union finer-tier HLL sketches into a coarser tier — lossless
    (the union of sketches is bit-equivalent in estimate to sketching
    the coarser bucket directly), so daily actives come from hourly
    state without re-reading raw."""
    tier_s = TIER_SECONDS[to_tier]
    bucket = _bucket_ts("bucket_ts", tier_s).alias("bucket_ts")
    return (
        finer.groupBy(*[F.col(c) for c in series_cols], bucket)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .withColumn("n_distinct", F.hll_sketch_estimate("sketch"))
    )


# ---------------------------------------------------------------------------
# Quantile (fixed-grid histogram) tiers — percentile serving
# ---------------------------------------------------------------------------
# Exact percentiles are not re-aggregable (percentile of percentiles is
# wrong), so a quantile tier needs MERGEABLE state.  The engine's sketch is
# the fixed-grid histogram: per (series, bucket) one count per value bin on
# a caller-chosen [lo, hi) grid, stored as plain (bin, cnt) ROWS — merging
# tiers is a sum, partial hash agg combines map-side, and the exchange is
# bounded by n_bins per bucket regardless of point count.  Estimates are
# deterministic grid arithmetic (bin upper edge at the ceil(q*n)-th rank),
# so a SQL oracle replays them exactly: accuracy is the grid resolution
# (hi-lo)/n_bins, the classic latency-histogram trade (Prometheus/
# HdrHistogram-style), vs the order-dependent estimates of GK/KLL sketches
# which no cross-engine contract could pin.

def _hist_bin(val_col, lo: float, hi: float, n_bins: int):
    """Grid bin with overflow capture: -1 below lo, n_bins at/above hi.
    `width` is injected as a Python literal so Spark and any SQL oracle
    compute bit-identical float arithmetic."""
    width = (hi - lo) / n_bins
    v = F.col(val_col)
    raw = F.floor((v - F.lit(lo)) / F.lit(width))
    return (
        F.when(v < F.lit(lo), F.lit(-1))
        .when(v >= F.lit(hi), F.lit(n_bins))
        .otherwise(raw)
        .cast("int")
    )


def histogram_rollup(
    points: DataFrame,
    tier: str,
    lo: float,
    hi: float,
    n_bins: int,
    series_cols: list[str] = (),
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Mergeable histogram tier: (series..., bucket_ts, bin, cnt), one
    row per non-empty bin.  Map-side partial agg means the exchange
    carries <= n_bins + 2 rows per (series, bucket) — never points."""
    tier_s = TIER_SECONDS[tier]
    bucket = _bucket_ts(F.col(ts_col), tier_s).alias("bucket_ts")
    b = _hist_bin(val_col, lo, hi, n_bins).alias("bin")
    return (
        points.groupBy(*[F.col(c) for c in series_cols], bucket, b)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def histogram_tier_up(
    finer: DataFrame, to_tier: str, series_cols: list[str] = ()
) -> DataFrame:
    """Coarser histogram tier from finer state: sum counts per bin —
    lossless (bin grids are identical by construction)."""
    tier_s = TIER_SECONDS[to_tier]
    bucket = _bucket_ts("bucket_ts", tier_s).alias("bucket_ts")
    return (
        finer.groupBy(*[F.col(c) for c in series_cols], bucket, "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _grid_quantiles(hist: DataFrame, keys: list[str], qs: list[float],
                    lo: float, hi: float, n_bins: int,
                    round_dp: int) -> DataFrame:
    """(keys..., q, quantile) from a (keys..., bin, cnt) histogram: per
    key group and q, the upper edge of the first bin whose cumulative
    count reaches rank ceil(q * n), clamped to [lo, hi] for the overflow
    bins.  One window cumsum + one aggregate on `keys`."""
    from pyspark.sql.window import Window

    width = (hi - lo) / n_bins
    w = (
        Window.partitionBy(*keys).orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        *keys, "bin", "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.partitionBy(*keys).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("total"),
    )
    edge = F.greatest(
        F.lit(float(lo)),
        F.least(F.lit(float(hi)),
                F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(width)),
    )
    return (
        cum.select(
            *keys, "bin", "cum", "total",
            F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q"))
        .where(F.col("cum") >= F.ceil(F.col("q") * F.col("total")))
        .groupBy(*keys, "q")
        .agg(F.round(F.min(edge), round_dp).alias("quantile"))
    )


def histogram_quantiles(
    hist: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int,
    series_cols: list[str] = (),
    round_dp: int = 9,
) -> DataFrame:
    """Serve quantiles from a histogram tier: (series..., bucket_ts, q,
    quantile).  For each q the estimate is the UPPER EDGE of the first
    bin whose cumulative count reaches rank ceil(q * n), clamped to
    [lo, hi] for the overflow bins — a value v with P(X <= v) >= q at
    grid resolution.  Pure grid arithmetic on longs + literal doubles,
    identical in any engine; one window cumsum + one aggregate, both on
    the (series, bucket) key the tier is already grouped by."""
    return _grid_quantiles(hist, [*series_cols, "bucket_ts"], qs, lo, hi,
                           n_bins, round_dp)


# ---------------------------------------------------------------------------
# Top-k (heavy hitters) token tiers
# ---------------------------------------------------------------------------
# "Most frequent tokens per source per hour" at 10^12-sequence scale.  The
# tier catalog stores the FULL per-bucket frequency table (one row per
# distinct token per bucket — bounded by the token vocabulary, not by the
# stream), because a TRUNCATED top-k is the classic non-mergeable state:
# tier-up from someone else's top-k under-counts anything that was k+1-th
# in every fine bucket.  Truncation happens only at serve time
# (`topk_serve`).  The exchange is safe at scale for token payloads:
# map-side partial agg collapses each task's stream to (bucket, token)
# partials, so shuffle rows are bounded by vocab x buckets per task.

def token_topk_rollup(
    points: DataFrame,
    tier: str,
    key_col: str,
    series_cols: list[str] = (),
    ts_col: str = "ts",
) -> DataFrame:
    """Frequency tier: (series..., bucket_ts, token, cnt) — mergeable
    heavy-hitter state (sum on merge), exact at every tier."""
    tier_s = TIER_SECONDS[tier]
    bucket = _bucket_ts(F.col(ts_col), tier_s).alias("bucket_ts")
    return (
        points.groupBy(
            *[F.col(c) for c in series_cols], bucket,
            F.col(key_col).alias("token"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def token_topk_tier_up(
    finer: DataFrame, to_tier: str, series_cols: list[str] = ()
) -> DataFrame:
    """Coarser frequency tier from finer state (sum per token) —
    lossless because the fine tier is untruncated."""
    tier_s = TIER_SECONDS[to_tier]
    bucket = _bucket_ts("bucket_ts", tier_s).alias("bucket_ts")
    return (
        finer.groupBy(*[F.col(c) for c in series_cols], bucket, "token")
        .agg(F.sum("cnt").alias("cnt"))
    )


def topk_serve(
    freq: DataFrame, k: int, series_cols: list[str] = ()
) -> DataFrame:
    """Serve-time truncation: rank tokens per (series, bucket) by
    (cnt desc, token asc — the deterministic tie-break) and keep the
    top k.  One window over groups the tier is already keyed by."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(*series_cols, "bucket_ts").orderBy(
        F.col("cnt").desc(), F.col("token").asc()
    )
    return (
        freq.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(*series_cols, "bucket_ts", "token", "cnt",
                F.col("rnk").cast("long").alias("rnk"))
    )


def serve_range_histogram(
    points: DataFrame,
    t0,
    t1,
    lo: float,
    hi: float,
    n_bins: int,
    tiers: dict[str, DataFrame] | None = None,
    series_cols: list[str] = ("doc_id", "source"),
    ts_col: str = "ts",
    val_col: str = "value",
) -> DataFrame:
    """Stitched value histogram over an ARBITRARY half-open [t0, t1):
    whole days from the 1d histogram tier, day edges from 1h, hour
    edges from 1m, sub-minute slivers binned from raw (same
    decomposition as serve_range).  Returns (series..., bin, cnt).

    Unlike the avg in serve_range (float re-association), the stitch
    here is EXACT: bins are value-based and counts are additive over
    disjoint time segments, so the stitched histogram equals the
    histogram of the raw points in [t0, t1) bit-for-bit.

    `tiers` maps tier name -> histogram frame in the histogram_rollup
    schema (series cols + bucket_ts, bin, cnt); None builds all three
    from (pre-filtered) raw — the oracle-checkable fallback."""
    def build(pts):
        m1 = histogram_rollup(pts, "1m", lo, hi, n_bins,
                              series_cols=series_cols, ts_col=ts_col,
                              val_col=val_col)
        h1 = histogram_tier_up(m1, "1h", series_cols=series_cols)
        return {"1m": m1, "1h": h1,
                "1d": histogram_tier_up(h1, "1d", series_cols=series_cols)}

    scols = [F.col(c) for c in series_cols]
    u = _stitch_range(
        "serve_range_histogram", points, t0, t1, tiers, build, ts_col,
        tier_rows=lambda df, b_us: df.select(*scols, "bin", "cnt"),
        raw_rows=lambda df, ts_us: df.select(
            *scols, _hist_bin(val_col, lo, hi, n_bins).alias("bin"),
            F.lit(1).cast("long").alias("cnt")))
    return u.groupBy(*series_cols, "bin").agg(F.sum("cnt").alias("cnt"))


def serve_range_quantiles(
    points: DataFrame,
    t0,
    t1,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int,
    tiers: dict[str, DataFrame] | None = None,
    series_cols: list[str] = ("doc_id", "source"),
    ts_col: str = "ts",
    val_col: str = "value",
    round_dp: int = 9,
) -> DataFrame:
    """Percentiles over an arbitrary [t0, t1) served from stitched
    histogram tiers: (series..., q, quantile) — the range-serving
    composition of the mergeable quantile tier (exact vs recomputing
    the histogram from raw; accuracy = grid resolution).  One range
    stitch + one window cumsum + one aggregate."""
    hist = serve_range_histogram(
        points, t0, t1, lo, hi, n_bins, tiers=tiers,
        series_cols=series_cols, ts_col=ts_col, val_col=val_col)
    return _grid_quantiles(hist, list(series_cols), qs, lo, hi, n_bins,
                           round_dp)
