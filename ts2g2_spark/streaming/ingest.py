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
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ts2g2_spark import catalog

POINTS_SCHEMA = ("doc_id string, source string, ts timestamp, value double")
# the point columns the fold reads; SERIES_COLS is also recorded in the
# table's `_LATEST` pointer as part of its layout
SERIES_COLS = ("doc_id", "source")
TS_COL = "ts"
VAL_COL = "value"


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


def incremental_tier_fold(
    spark: SparkSession,
    table_root: str,
    tier: str = "1m",
    okey_col: str | None = None,
    n_parts: int = 16,
):
    """foreachBatch fold that maintains a MERGEABLE tier table from a
    stream of POINTS_SCHEMA rows (series key SERIES_COLS), absorbing
    arbitrarily late data (no watermark bound): each micro-batch
    becomes a rollup_state delta and
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
        layout = {"n_parts": n_parts, "series_cols": list(SERIES_COLS)}
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
            *[F.col(c).cast("string") for c in SERIES_COLS]),
            F.lit(n_parts))
        delta = rollup_mod.rollup_state(
            batch_df, tier, series_cols=SERIES_COLS,
            ts_col=TS_COL, val_col=VAL_COL, okey=okey
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
                    state, delta, series_cols=SERIES_COLS)
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
