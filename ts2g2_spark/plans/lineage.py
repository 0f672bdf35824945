"""Per-stage, per-partition lineage + metrics (north rule requirement).

Every pipeline stage appends rows
(run_id, stage, partition_id, rows, wall_ms, fingerprint, recorded_at)
to the `lineage` table.  Partition-level counts come from a cheap
spark_partition_id() groupBy over the stage's committed output — one extra
columnar scan of data that is already hot, no interference with the stage's
own plan (instrumenting inside grouped UDFs would change their shape)."""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_metrics(df: DataFrame, run_id: str, stage: str,
                      fingerprint: str, wall_ms: float) -> DataFrame:
    return (
        df.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(F.count(F.lit(1)).alias("rows"))
        .select(
            F.lit(run_id).alias("run_id"),
            F.lit(stage).alias("stage"),
            "partition_id",
            "rows",
            F.lit(float(wall_ms)).alias("wall_ms"),
            F.lit(fingerprint).alias("fingerprint"),
            F.lit(time.time()).cast("double").alias("recorded_at"),
        )
    )
