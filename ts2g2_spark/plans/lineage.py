"""Per-stage, per-partition lineage + metrics (north rule requirement).

Every executed pipeline stage writes rows
(run_id, stage, partition_id, rows, wall_ms, fingerprint, recorded_at)
to the `lineage` table.  The row counts come from the parquet footers of
the files the stage just wrote -- no Spark job and no re-read of the data,
the same seam as Iceberg's per-data-file `record_count`.  `partition_id`
is the partition of the Spark task that wrote the file (the NNNNN of its
`part-NNNNN-...` name, summed over partition subdirectories), not the
partition of a later scan of the table.

The pipeline process writes one small parquet file per (run_id, stage),
under a temporary name and then `os.replace`d into place, so a stage
re-executed under the same run_id replaces its lineage rows instead of
adding a second set.  Column names and types match the lineage files earlier versions
appended with Spark, so a catalog holding both still reads as one table.
"""

from __future__ import annotations

import hashlib
import os
import re
import time
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from ts2g2_spark.catalog import data_files

LINEAGE_SCHEMA = pa.schema([  # required columns, as Spark wrote them
    pa.field(name, typ, nullable=False) for name, typ in (
        ("run_id", pa.string()),
        ("stage", pa.string()),
        ("partition_id", pa.int32()),
        ("rows", pa.int64()),
        ("wall_ms", pa.float64()),
        ("fingerprint", pa.string()),
        ("recorded_at", pa.float64()),
    )])
# the same columns as Spark DDL: the lineage files are written by pyarrow,
# so their footers carry no Spark schema to read
LINEAGE_DDL = ", ".join(
    f"{f.name} " + {pa.string(): "string", pa.int32(): "int",
                    pa.int64(): "bigint", pa.float64(): "double"}[f.type]
    for f in LINEAGE_SCHEMA)
_PART = re.compile(r"part-(\d+)")


def partition_metrics(table_dir: str, run_id: str, stage: str,
                      fingerprint: str, wall_ms: float) -> pa.Table:
    """Lineage rows of the table Spark just wrote at `table_dir`: one row
    per writing task, with the rows of its files read from their
    footers."""
    rows: dict[int, int] = {}
    for f in data_files(table_dir):
        m = _PART.match(os.path.basename(f))
        if m:
            pid = int(m.group(1))
            rows[pid] = rows.get(pid, 0) + pq.read_metadata(f).num_rows
    pids = sorted(rows)
    n = len(pids)
    return pa.table([
        [run_id] * n, [stage] * n, pids, [rows[p] for p in pids],
        [float(wall_ms)] * n, [fingerprint] * n, [time.time()] * n,
    ], schema=LINEAGE_SCHEMA)


def write_lineage(lineage_dir: str, run_id: str, stage: str,
                  lin: pa.Table) -> None:
    """Write one stage's lineage rows as lineage_dir/lineage-<run>-<stage>;
    the name is fixed by (run_id, stage), so a re-run replaces it."""
    key = hashlib.md5(f"{run_id}\0{stage}".encode()).hexdigest()[:8]
    safe = re.sub(r"[^A-Za-z0-9_-]", "_", f"{run_id}-{stage}")
    path = os.path.join(lineage_dir, f"lineage-{safe}-{key}.parquet")
    os.makedirs(lineage_dir, exist_ok=True)
    # dot-prefixed: Spark readers skip the file until it is renamed
    tmp = os.path.join(lineage_dir, f".{uuid.uuid4().hex}.tmp")
    pq.write_table(lin, tmp)
    os.replace(tmp, path)


def read_lineage(spark: SparkSession, lineage_dir: str) -> DataFrame:
    """The lineage table, read with its fixed schema (no inference job)."""
    return spark.read.schema(LINEAGE_DDL).parquet(lineage_dir)


def partition_skew(rows: np.ndarray) -> float | None:
    """max/median of the per-partition row counts (None for no rows)."""
    med = float(np.median(rows)) if len(rows) else 0.0
    return float(np.max(rows)) / med if med > 0 else None
