"""Structured-Streaming ingestion seam (SURVEY §2.7).

The reference has no streaming at all (its `TimeseriesStream` is a naming
artifact — core/model.py:109-118 deep-copies a whole in-memory array).
The engine keeps the 1m tier maintainable from a STREAM with one
strategy, `incremental_tier_fold`: a foreachBatch fold of each
micro-batch into a mergeable tier table, with no watermark, so data of
any lateness folds in and first/last stay exact (`run_tier_maintenance`
drains a stream through it; `jobs/maintain_job.py` is its spark-submit
entry point).  The table is committed through `catalog.publish`, the
same versioned `_LATEST` protocol as every catalog table, and
`read_tier_snapshot` reads its live version.  v1 production runs build
the tiers in batch (plans/pipeline.py); the two paths agree bit-for-bit
(pinned by test).

The other functions here are streaming twins of batch operators
(sessionize, dedup, distinct/histogram tiers, threshold alerts, HLL and
HDR sketches) over file-source streams.
"""

from __future__ import annotations

import math
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ts2g2_spark import catalog

POINTS_SCHEMA = ("doc_id string, source string, ts timestamp, value double")


def stream_points(
    spark: SparkSession, input_dir: str, max_files: int = 64
) -> DataFrame:
    """File-source stream of point rows (a real deployment would swap in
    Kafka/Iceberg incremental scan here — the transformations downstream
    are identical)."""
    return (
        spark.readStream.schema(POINTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


EVENTS_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double, props string")


def stream_events(
    spark: SparkSession, input_dir: str, max_files: int = 64
) -> DataFrame:
    """File-source stream of event rows (same swap-in note as
    stream_points)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(input_dir)
    )


def streaming_sessionize(
    events: DataFrame,
    gap_s: int,
    series_cols: tuple[str, ...] = ("user_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of operators.eventseq.sessionize: Spark's native
    session_window merges events whose gap is < gap_s and emits the
    finalized session once the watermark passes its end — the streaming
    engine owns the merge state, no custom stateful operator needed.

    BOUNDARY CONTRACT (the one divergence from the batch operator):
    session_window merges on HALF-OPEN extents [ts, ts+gap), so a gap of
    EXACTLY gap_s seconds splits here but stays in-session in batch
    (strict >).  Sub-second event times make exact-gap pairs measure
    zero; callers needing bit-parity on pathological inputs add 1
    microsecond to gap via the batch operator instead.

    Output: series cols + start_ts, end_ts (last EVENT, not window end —
    session_window.end is last event + gap), n_events, duration_us —
    joinable against the batch operator's output on (series, start_ts).

    Scale shape: one watermarked session aggregate keyed on the series
    cols; state is O(open sessions), bounded by the watermark.
    """
    if gap_s <= 0:
        raise ValueError(
            f"streaming_sessionize: gap_s must be positive, got {gap_s}")
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(*series_cols,
                 F.session_window(ts_col, f"{gap_s} seconds"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(ts_col).alias("end_ts"),
            (F.max(ts_us) - F.min(ts_us)).alias("duration_us"),
        )
        .select(
            *series_cols,
            F.col("session_window.start").alias("start_ts"),
            "end_ts", "n_events", "duration_us",
        )
    )


def stream_dedup(
    points: DataFrame,
    key_cols: tuple[str, ...] = ("doc_id", "ts"),
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup (ingestion-side duplicate drop):
    dropDuplicatesWithinWatermark keeps state only for keys younger than
    the watermark, so state is bounded by (arrival rate x watermark) —
    a plain streaming dropDuplicates would grow key state forever.
    The documented trade: a duplicate arriving LATER than the watermark
    delay is emitted again (the batch dedup pass downstream remains the
    source of truth; this bounds duplicate amplification in the hot
    ingest path)."""
    return points.withWatermark("ts", watermark) \
        .dropDuplicatesWithinWatermark(list(key_cols))


def streaming_distinct_1m(
    points: DataFrame,
    key_col: str = "value",
    series_cols: tuple = ("doc_id", "source"),
    watermark: str = "1 hour",
    lgk: int = 12,
) -> DataFrame:
    """Streaming distinct-count tier: watermarked 1m tumbling-window
    datasketches HLL sketch of `key_col` per (series, bucket) — the
    streaming twin of plans/rollup.distinct_rollup, emitting the SAME
    mergeable sketch state, so the batch `distinct_tier_up` composes
    coarser tiers directly on a live stream's output.

    Append mode emits one final row per window once the watermark
    passes its end (the append-mode completeness contract);
    because sketch union is associative and order-insensitive in
    estimate, the emitted state is exactly what a tier catalog stores.
    """
    from ts2g2_spark.plans.rollup import _hll_key

    return (
        points.withWatermark("ts", watermark)
        .groupBy(*series_cols, F.window("ts", "1 minute"))
        .agg(F.hll_sketch_agg(_hll_key(points, key_col),
                              F.lit(lgk)).alias("sketch"))
        .select(
            *series_cols,
            F.col("window.start").alias("bucket_ts"),
            "sketch",
            F.hll_sketch_estimate("sketch").alias("n_distinct"),
        )
    )


def run_available_now(
    tier: DataFrame, out_dir: str, checkpoint_dir: str
) -> None:
    """Drain everything currently available and stop — the batch-shaped
    trigger the engine uses for incremental catch-up runs; the checkpoint
    dir carries streaming state across runs (resume contract)."""
    q = (
        tier.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def incremental_tier_fold(
    spark: SparkSession,
    table_root: str,
    tier: str = "1m",
    series_cols: tuple[str, ...] = ("doc_id", "source"),
    ts_col: str = "ts",
    val_col: str = "value",
    okey_col: str | None = None,
    n_parts: int = 16,
):
    """foreachBatch fold that maintains a MERGEABLE tier table from a
    stream, absorbing arbitrarily late data (no watermark bound): each
    micro-batch becomes a rollup_state delta and
    `plans.rollup.merge_tier_states` folds it into the last committed
    snapshot — only the (series, bucket) groups the batch names are
    re-aggregated, so per-batch COMPUTE is O(|batch|), not O(tier).

    The WRITE is partition-pruned too (the file-level behavior of an
    Iceberg MERGE INTO, in miniature): the table is hash-partitioned on
    the series key into `n_parts` `_pb=` directories; a fold reads and
    rewrites ONLY the partitions the batch touches, and carries every
    untouched partition into the new version by HARDLINKING its files —
    no data copy, and version GC stays safe because the bytes live
    until the last version referencing them is removed.  Per-batch
    write I/O is O(touched partitions), not O(tier).  Size `n_parts`
    so a typical late batch touches a small fraction of partitions.

    Commit protocol: every catalog table's (see the `catalog` module
    docstring).  Each applied batch writes version `v{batch_id}` and
    `catalog.publish`es it, with the batch_id and the table layout in
    the `_LATEST` pointer.
    foreachBatch is AT-LEAST-ONCE, so the fold is made idempotent by
    that batch_id: redelivery of the LAST batch (a crash between the
    table commit and the streaming checkpoint advancing — the only
    batch the engine can redeliver within one checkpoint lineage) is
    skipped, and a batch_id going BACKWARDS raises instead of silently
    skipping or double-counting: it means the streaming checkpoint was
    deleted/recreated, the source will redeliver EVERYTHING, and the
    only correct resumption is a fresh `table_root` (or restoring the
    matching checkpoint).  One table_root is bound to one checkpoint
    lineage."""
    from ts2g2_spark.plans import rollup as rollup_mod

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        cur = catalog.read_pointer(table_root)
        if cur is not None and batch_id == cur["batch_id"]:
            return  # redelivered last batch — already folded in
        if cur is not None and batch_id < cur["batch_id"]:
            raise RuntimeError(
                f"incremental_tier_fold: batch_id {batch_id} is behind "
                f"the table's last applied {cur['batch_id']} — the "
                "streaming checkpoint lineage restarted (checkpoint "
                "deleted or repointed).  Folding would double-count "
                "redelivered data; start a fresh table_root or restore "
                "the original checkpoint.")
        layout = {"n_parts": n_parts, "series_cols": list(series_cols)}
        if cur is not None and {k: cur.get(k) for k in layout} != layout:
            raise RuntimeError(
                f"incremental_tier_fold: table layout mismatch — the "
                f"table was written with "
                f"{ {k: cur.get(k) for k in layout} } but this fold "
                f"was configured with {layout}.  The series-hash "
                "partitioning is part of the table format (a different "
                "n_parts re-buckets series and would double-count); "
                "re-materialize into a fresh table_root to change it.")
        okey = F.col(okey_col) if okey_col else None
        pb = F.pmod(F.xxhash64(
            *[F.col(c).cast("string") for c in series_cols]),
            F.lit(n_parts))
        delta = rollup_mod.rollup_state(
            batch_df, tier, series_cols=series_cols,
            ts_col=ts_col, val_col=val_col, okey=okey
        ).withColumn("_pb", pb)
        # persisted: the touched-partition collect below and the
        # merge/write plan both consume the delta aggregation
        delta.persist()
        try:
            touched = sorted(
                r["_pb"] for r in delta.select("_pb").distinct().collect())
            if not touched:
                return  # empty batch: nothing to fold, no version burned
            version = f"v{batch_id}"
            if cur is not None:
                prev_dir = os.path.join(table_root, cur["version"])
                # _pb is a physical partition column — this filter
                # prunes to the touched directories, never scanning
                # the rest
                state = catalog.read_table(spark, table_root).where(
                    F.col("_pb").isin(touched))
                merged = rollup_mod.merge_tier_states(
                    state, delta, series_cols=series_cols)
            else:
                prev_dir = None
                merged = delta
            # emptied first: under partitionOverwriteMode=dynamic,
            # mode('overwrite') would not wipe a partial version a crash
            # left, and the hardlink carry would hit FileExistsError
            out_dir = catalog.version_dir(table_root, version)
            merged.withColumn("_pb", pb).write.mode("overwrite") \
                .partitionBy("_pb").parquet(out_dir)
        finally:
            delta.unpersist()
        if prev_dir is not None:
            # carry untouched partitions forward as hardlinks
            touched_dirs = {f"_pb={t}" for t in touched}
            for d in os.listdir(prev_dir):
                if not d.startswith("_pb=") or d in touched_dirs:
                    continue
                src = os.path.join(prev_dir, d)
                dst = os.path.join(out_dir, d)
                os.makedirs(dst, exist_ok=True)
                for fn in os.listdir(src):
                    fp = os.path.join(src, fn)
                    if os.path.isfile(fp):
                        os.link(fp, os.path.join(dst, fn))
        catalog.publish(table_root, version, batch_id=batch_id, **layout)

    return fold


def read_tier_snapshot(spark: SparkSession, table_root: str) -> DataFrame:
    """Read the last committed tier snapshot (the `_LATEST` pointer's
    version directory) as a mergeable state frame (plus the `_pb`
    series-hash partition column, which Spark infers, as an int, from
    the directory names); compose with plans.rollup.finalize_state for
    the serving shape (it projects the partition column away).

    The frame is LAZY over the version directory, which stays on disk
    until the second fold after it publishes — materialize it (an
    action, cache, or write) before then."""
    return catalog.read_table(spark, table_root)


def run_tier_maintenance(
    points: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    **fold_kwargs,
) -> None:
    """Drain all available input through the incremental tier fold and
    stop (availableNow catch-up trigger; the checkpoint dir plus the
    idempotent fold give exactly-once table updates across resumes)."""
    spark = points.sparkSession
    fold = incremental_tier_fold(spark, table_root, **fold_kwargs)
    q = (
        points.writeStream.foreachBatch(fold)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


_ALERT_STATE_SCHEMA = (
    "ts_us array<long>, okey array<long>, vals array<double>, st int"
)
_ALERT_OUT_SCHEMA = (
    "user_id bigint, ts_us bigint, value double, event string"
)


def streaming_threshold_alerts(
    events: DataFrame,
    upper: float,
    lower: float | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming twin of operators.metrics.threshold_alerts: hysteresis
    alerting (raise at >= upper, clear at <= lower) as an
    applyInPandasWithState operator that processes events in EVENT-TIME
    order even though batches deliver them out of order.

    Mechanics: per-series state buffers (ts, event_id, value) triples;
    on every batch the prefix strictly BEHIND the current watermark is
    finalized — sorted by (ts, event_id) and run through the same
    running state machine as the batch operator — and only its
    transition rows are emitted (append semantics, exactly once); the
    suffix stays buffered because an earlier event could still arrive.
    State size is O(arrival rate x watermark delay) per series, the
    same bound as the watermarked window tiers.

    The emitted transition stream equals the batch operator's output
    over every prefix the watermark has passed (pinned by test).
    Finalization lags the watermark like any append-mode streaming
    aggregate: the tail beyond (max event time - delay) emits only
    after later data advances the watermark."""
    if lower is None:
        lower = upper
    if lower > upper:
        raise ValueError(
            f"streaming_threshold_alerts: need lower <= upper, got "
            f"{lower=} {upper=}")
    from collections.abc import Iterator as _It

    lo, hi = float(lower), float(upper)

    def fn(key, pdfs: "_It[pd.DataFrame]",
           state: GroupState) -> "_It[pd.DataFrame]":
        import numpy as np

        if state.exists:
            b_ts, b_ok, b_v, st = state.get
            b_ts, b_ok, b_v = list(b_ts), list(b_ok), list(b_v)
        else:
            b_ts, b_ok, b_v, st = [], [], [], 0
        if not state.hasTimedOut:
            for pdf in pdfs:
                if not len(pdf):
                    continue
                # ts_us is projected relationally (unix_micros) before the
                # groupBy: Arrow hands kernels session-LOCAL naive
                # datetimes, so comparing pdf['ts'] against the engine's
                # UTC watermark would shift under a non-UTC session tz
                b_ts.extend(pdf["ts_us"].astype("int64").tolist())
                b_ok.extend(pdf["event_id"].astype("int64").tolist())
                b_v.extend(pdf["value"].astype("float64").tolist())
        w_ms = state.getCurrentWatermarkMs()
        ts_a = np.asarray(b_ts, dtype=np.int64)
        ok_a = np.asarray(b_ok, dtype=np.int64)
        v_a = np.asarray(b_v, dtype=np.float64)
        fin = ts_a < w_ms * 1000
        out_rows = None
        if fin.any():
            order = np.lexsort((ok_a[fin], ts_a[fin]))
            fts = ts_a[fin][order]
            fv = v_a[fin][order]
            events_out = []
            for t, v in zip(fts, fv):
                mk = 1 if v >= hi else (0 if v <= lo else None)
                if mk is not None and mk != st:
                    events_out.append(
                        (t, v, "raise" if mk == 1 else "clear"))
                    st = mk
            if events_out:
                # emit the long and convert relationally below — a naive
                # pandas datetime would be re-read as session-local
                out_rows = pd.DataFrame({
                    "user_id": key[0],
                    "ts_us": [t for t, _, _ in events_out],
                    "value": [v for _, v, _ in events_out],
                    "event": [e for _, _, e in events_out],
                })
        keep = ~fin
        state.update((
            ts_a[keep].tolist(), ok_a[keep].tolist(),
            v_a[keep].tolist(), int(st),
        ))
        if keep.any():
            # groups only re-enter on THEIR OWN new data unless a
            # timeout wakes them: arm an event-time timeout just past
            # the watermark so buffered events finalize as it advances
            state.setTimeoutTimestamp(w_ms + 1)
        if out_rows is not None:
            yield out_rows
        return
        yield  # pragma: no cover — generator on the empty path

    return (
        events.withWatermark("ts", watermark)
        .withColumn("ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, _ALERT_OUT_SCHEMA, _ALERT_STATE_SCHEMA, "append",
            GroupStateTimeout.EventTimeTimeout)
        .select(
            "user_id",
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
            "value", "event")
    )


def streaming_histogram_1m(
    points: DataFrame,
    lo: float,
    hi: float,
    n_bins: int,
    series_cols: tuple = ("doc_id", "source"),
    ts_col: str = "ts",
    val_col: str = "value",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming quantile-tier state: watermarked 1m tumbling-window
    fixed-grid histogram per (series, bucket) — the streaming twin of
    plans/rollup.histogram_rollup, emitting the SAME (bin, cnt) rows,
    so the batch histogram_tier_up / histogram_quantiles compose
    directly on a live stream's output.

    Bin counts are integers merged by sum (associative,
    order-insensitive), so stream state is bit-equal to the batch tier
    — no estimate regime caveat like the HLL twin needs."""
    from ts2g2_spark.plans.rollup import _hist_bin

    return (
        points.withWatermark(ts_col, watermark)
        .groupBy(
            *series_cols,
            F.window(ts_col, "1 minute"),
            _hist_bin(val_col, lo, hi, n_bins).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            *series_cols,
            F.col("window.start").alias("bucket_ts"),
            "bin", "cnt",
        )
    )


def streaming_hll_distinct(
    rows: DataFrame,
    value_col: str = "user_id",
    group_cols: tuple[str, ...] = ("event_type",),
    p: int = 12,
    round_dp: int = 6,
) -> DataFrame:
    """Running distinct-so-far per group from a stream, on the engine's
    PORTABLE HyperLogLog registers (operators/sketches) — the streaming
    face of the same sketch, so the live state is bit-identical to (and
    interchangeable with) the batch `hll_registers` frame over the rows
    seen so far.  Complements `streaming_distinct_1m`, which buckets
    into windows and carries OPAQUE datasketches state: this one keeps
    one unwindowed register set per group, converges exactly to
    `hll_distinct` of the union of all micro-batches (pinned by test
    across a checkpoint-resumed second drain), and its registers could
    be exported to any engine that can rank md5 bits.

    Plumbing: (reg_idx, reg_rho) are computed JVM-side by the shared
    Catalyst expressions (sketches.register_cols) BEFORE the stateful
    operator — Python never hashes a row; the state fold is one
    numpy `maximum.at` per Arrow batch.  State per group is the
    occupied-register pair-list — at most m = 2**p entries no matter
    how many rows streamed (the sketch IS the bound; no watermark
    needed because the running estimate is monotone, there is no
    lateness to wait out).  Emits in UPDATE mode: one refreshed
    (n_occupied, sum_units, est_distinct) row per group per
    micro-batch, computed with the same integer-space units and the
    shared `hll_finalize_py` float path as the batch estimator."""
    import numpy as np

    from ts2g2_spark.operators import sketches

    sketches._check_p(p)
    if not group_cols:
        # Spark's stateful operator clusters on the group key and
        # rejects an empty key set (StatefulOpClusteredDistribution);
        # fail here with guidance instead of deep in query start
        raise ValueError(
            "streaming_hll_distinct: group_cols must be non-empty — "
            "for a global sketch add a constant column "
            "(.withColumn('all', F.lit(1))) and group on it")
    idx, rho = sketches.register_cols(value_col, p)
    regs = rows.where(F.col(value_col).isNotNull()).select(
        *group_cols, idx.alias("reg_idx"), rho.alias("reg_rho"))
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in regs.select(*group_cols).schema.fields)
    out_schema = ", ".join(filter(None, [
        key_schema, "n_occupied bigint, sum_units bigint, "
        "est_distinct double"]))
    m = 1 << p
    # max rho; sum_units unit scale — the same constant hll_estimate uses
    q = sketches._HASH_BITS - p + 1

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        arr = np.zeros(m, dtype=np.int32)
        if state.exists:
            sidx, srho = state.get
            arr[np.asarray(sidx, dtype=np.int64)] = np.asarray(
                srho, dtype=np.int32)
        for pdf in pdfs:
            if not len(pdf):
                continue
            np.maximum.at(
                arr,
                pdf["reg_idx"].to_numpy(np.int64),
                pdf["reg_rho"].to_numpy(np.int32))
        occ = np.flatnonzero(arr)
        state.update((
            [int(i) for i in occ], [int(r) for r in arr[occ]]))
        n_occ = int(occ.size)
        sum_units = int(
            (np.int64(1) << (q - arr[occ].astype(np.int64))).sum()
        ) + (m - n_occ) * (1 << q)
        est = sketches.hll_finalize_py(n_occ, sum_units, p)
        yield pd.DataFrame([{
            **{c: k for c, k in zip(group_cols, key)},
            "n_occupied": n_occ, "sum_units": sum_units,
            "est_distinct": round(est, round_dp),
        }])

    return regs.groupBy(*group_cols).applyInPandasWithState(
        fn, out_schema, "idx array<int>, rho array<int>", "update",
        GroupStateTimeout.NoTimeout)


def streaming_hdr_quantiles(
    rows: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...] = ("event_type",),
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    sub_bits: int = 5,
) -> DataFrame:
    """Running quantiles-so-far per group from a stream, on the
    engine's portable HDR base-2 buckets (operators/sketches.hdr_*) —
    the streaming face of the same sketch: the live bucket state is
    bit-identical to the batch `hdr_sketch` frame over the rows seen
    so far, so the emitted quantiles converge EXACTLY to
    `hdr_quantiles(hdr_sketch(union of micro-batches))` (pinned by
    test across a checkpoint-resumed second drain).  This is the
    streaming p99 an SRE tier actually wants: no watermark needed —
    there is no lateness to wait out, a late point just folds into
    its bucket like any other.

    Plumbing mirrors streaming_hll_distinct: (b_lo, b_hi) are computed
    JVM-side by the shared Catalyst expressions
    (sketches.hdr_bucket_cols) BEFORE the stateful operator — Python
    never bins a row — and the state fold is one pandas groupby-sum
    per Arrow batch into a (b_lo, b_hi, n) pair-list bounded at
    ~(64 - sub_bits) * 2**sub_bits entries per group no matter how
    many rows streamed.  All-integer state and rank arithmetic (the
    same max(1, ceil(q*n)) order statistic as the batch estimator), so
    there is no estimate-regime caveat at all.  Emits in UPDATE mode:
    one (q, n_total, rank, q_lo, q_hi) row per q per group per
    micro-batch."""
    import numpy as np

    from ts2g2_spark.operators import sketches

    sketches._check_hdr(sub_bits)
    if not qs or any(not 0.0 < q <= 1.0 for q in qs):
        raise ValueError(
            f"streaming_hdr_quantiles: each q must be in (0, 1], "
            f"got {list(qs)}")
    if not group_cols:
        raise ValueError(
            "streaming_hdr_quantiles: group_cols must be non-empty — "
            "for a global sketch add a constant column "
            "(.withColumn('all', F.lit(1))) and group on it")
    b_lo, b_hi = sketches.hdr_bucket_cols(value_col, sub_bits)
    binned = rows.where(F.expr(value_col).isNotNull()).select(
        *group_cols, b_lo.alias("b_lo"), b_hi.alias("b_hi"))
    key_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in binned.select(*group_cols).schema.fields)
    out_schema = ", ".join(filter(None, [
        key_schema,
        "q double, n_total bigint, rank bigint, q_lo bigint, "
        "q_hi bigint"]))
    q_list = [float(q) for q in qs]

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        counts: dict[int, list[int]] = {}
        if state.exists:
            slo, shi, sn = state.get
            for lo, hi, n in zip(slo, shi, sn):
                counts[int(lo)] = [int(hi), int(n)]
        for pdf in pdfs:
            if not len(pdf):
                continue
            agg = pdf.groupby(["b_lo", "b_hi"], sort=False).size()
            for (lo, hi), n in agg.items():
                cell = counts.setdefault(int(lo), [int(hi), 0])
                cell[1] += int(n)
        los = sorted(counts)
        state.update((
            los, [counts[lo][0] for lo in los],
            [counts[lo][1] for lo in los]))
        ns = np.asarray([counts[lo][1] for lo in los], dtype=np.int64)
        cum = np.cumsum(ns)
        n_total = int(cum[-1]) if len(cum) else 0
        out = []
        for q in q_list:
            if not n_total:
                continue
            # same order statistic as the batch hdr_quantiles: the
            # ceil of one IEEE multiply, exact on integer-valued input
            rank = max(1, math.ceil(q * n_total))
            i = int(np.searchsorted(cum, rank, side="left"))
            out.append({
                **{c: k for c, k in zip(group_cols, key)},
                "q": q, "n_total": n_total, "rank": rank,
                "q_lo": los[i], "q_hi": counts[los[i]][0],
            })
        yield pd.DataFrame(out, columns=list(group_cols)
                           + ["q", "n_total", "rank", "q_lo", "q_hi"])

    return binned.groupBy(*group_cols).applyInPandasWithState(
        fn, out_schema,
        "lo array<long>, hi array<long>, n array<long>", "update",
        GroupStateTimeout.NoTimeout)
