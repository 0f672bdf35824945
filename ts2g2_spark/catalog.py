"""Storage + checkpoint seam.

In-sandbox everything is Parquet on the local FS.  The seam is written
against "last committed snapshot" semantics so that swapping in an Iceberg
catalog (org.apache.iceberg.spark.SparkCatalog; jar absent here — SURVEY §0)
only changes `write`/`read` and a commit becomes the Iceberg snapshot
itself.

Every committed table has one format: version directories `<table>/v<k>/`
and a `<table>/_LATEST` JSON pointer, `{"version": "v<k>", ...}`, that
names the live one.  The pointer is the table's one commit record; a
writer may add its own keys to it (a pipeline stage records its input
fingerprint, run_id and wall_ms; the tier fold its last batch and its
layout).  A write goes into a version directory no reader resolves to,
then `publish` writes the new pointer under a temporary name and
`os.replace`s it onto `_LATEST`; that replace is the commit.  After it,
the versions other than the live one and the one it replaced are
removed.  So:
- a table can be rewritten from a frame that reads it (retention needs
  no checkpoint);
- a frame planned over the previous version keeps reading it until the
  next publish;
- a crash during the write or before the replace leaves the previous
  version live and an unnamed version directory, which the next write of
  that version clears and the next publish removes;
- a stage is committed iff its table's pointer carries the stage's input
  fingerprint, and resuming it reads exactly the version that pointer
  names (idempotent resume — north rule: resumable from the last
  committed checkpoint).
`publish` is the only writer of `_LATEST`; `Catalog.commit` and the
streaming tier fold (`streaming.ingest.incremental_tier_fold`) both commit
through it, and `read_table` is the one reader.  The catalog has one
writer per table.

Reads take the table schema from one data file's footer (`footer_schema`)
instead of Spark's schema inference, which runs a Spark job per read, and
`all_at_or_after` answers "does any row fall before this time?" from the
per-row-group statistics of the footers (Iceberg keeps the same numbers
per data file as lower bounds).  Spark writes timestamps as INT96 by
default, which carries no statistics; `session.FOOTER_STATS_CONF` makes it
write TIMESTAMP_MICROS, which does.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_TS_UNITS = {"milliseconds": 10**3, "microseconds": 10**6,
             "nanoseconds": 10**9}
_POINTER = "_LATEST"
_VERSION = re.compile(r"v\d+")


def _visible(name: str) -> bool:
    """Spark's rule for the files and directories a table read lists:
    names starting with '.' or '_' are hidden, except `k=v` partition
    directories such as `_pb=3`."""
    return not name.startswith(".") and (
        not name.startswith("_") or "=" in name)


def data_files(path: str):
    """Paths of the parquet files of the table at `path`, walking into its
    partition directories, in a stable order."""
    for d, subdirs, files in os.walk(path):
        subdirs[:] = sorted(s for s in subdirs if _visible(s))
        for f in sorted(files):
            if _visible(f):
                yield os.path.join(d, f)


def footer_schema(path: str) -> StructType:
    """Data schema of the Spark-written parquet table at `path`, from the
    first data file's footer (Spark stores its schema JSON there; an empty
    table still has one schema-only file).  Partition columns are not in
    the footer: `spark.read.schema(...)` infers them from the directory
    names, without a job, as a plain read does.  Raises FileNotFoundError
    when the table has no data file."""
    for f in data_files(path):
        meta = pq.read_metadata(f).metadata or {}
        return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    raise FileNotFoundError(f"no parquet data file under {path}")


def _lower_bound_holds(f: str, column: str, bound: int) -> bool:
    """True iff the footer of data file `f` proves every row has a
    non-null timestamp `column` at or after `bound` epoch seconds."""
    md = pq.read_metadata(f)
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        col = next((rg.column(i) for i in range(rg.num_columns)
                    if rg.column(i).path_in_schema == column), None)
        st = col.statistics if col is not None else None
        if (st is None or not st.has_min_max or not st.has_null_count
                or st.null_count or col.physical_type != "INT64"):
            return False
        unit = _TS_UNITS.get(
            json.loads(st.logical_type.to_json()).get("timeUnit"))
        if unit is None or st.min_raw < bound * unit:
            return False
    return True


def read_pointer(table_dir: str) -> dict | None:
    """The `_LATEST` pointer of the table at `table_dir`, or None when no
    version was ever published there.  A pointer that does not parse
    raises: `publish` only ever replaces it whole."""
    try:
        with open(os.path.join(table_dir, _POINTER)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def live_path(table_dir: str) -> str:
    """The live version directory of the table at `table_dir`;
    `table_dir` itself when it has no pointer (the lineage table)."""
    ptr = read_pointer(table_dir)
    return os.path.join(table_dir, ptr["version"]) if ptr else table_dir


def version_dir(table_dir: str, version: str) -> str:
    """The path to write `version` of the table into, emptied first:
    anything there is what a crashed writer left, never published."""
    path = os.path.join(table_dir, version)
    shutil.rmtree(path, ignore_errors=True)
    return path


def publish(table_dir: str, version: str, **meta) -> None:
    """Make the written `version` the table's live one: the new pointer
    (`version` plus `meta`) is written under a temporary name and
    `os.replace`d onto `_LATEST`.  Then every version directory except
    the live one and the one it replaced is removed, with any pointer
    file a crash left behind."""
    prev = read_pointer(table_dir)
    ptr = os.path.join(table_dir, _POINTER)
    tmp = f"{ptr}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump({"version": version, **meta}, f)
    os.replace(tmp, ptr)  # atomic on POSIX — the table commit
    keep = {version, prev["version"] if prev else None}
    for d in os.listdir(table_dir):
        path = os.path.join(table_dir, d)
        if _VERSION.fullmatch(d) and d not in keep:
            shutil.rmtree(path, ignore_errors=True)
        elif d.startswith(f"{_POINTER}."):
            os.remove(path)


def read_table(spark: SparkSession, table_dir: str) -> DataFrame:
    """The live version of the table at `table_dir`, with the schema from
    a footer (no inference job)."""
    path = live_path(table_dir)
    return spark.read.schema(footer_schema(path)).parquet(path)


class Catalog:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark

    def table_path(self, name: str) -> str:
        """The live version directory of table `name` (see
        `live_path`)."""
        return live_path(os.path.join(self.root, name))

    def write(self, df: DataFrame, name: str) -> str:
        """Write `df` as the next version of table `name`, unpublished
        until `commit`; `df` may read the table it replaces.  Returns the
        new version's directory."""
        table = os.path.join(self.root, name)
        cur = read_pointer(table)
        version = f"v{int(cur['version'][1:]) + 1 if cur else 0}"
        path = version_dir(table, version)
        df.write.mode("overwrite").parquet(path)
        return path

    def commit(self, name: str, path: str, **meta) -> None:
        """Publish the version `write` put at `path` as table `name`'s
        live one.  The new pointer keeps the previous pointer's keys
        (a rewrite such as retention keeps its stage's record), updated
        by `meta`."""
        table = os.path.join(self.root, name)
        keep = {k: v for k, v in (read_pointer(table) or {}).items()
                if k != "version"}
        publish(table, os.path.basename(path), **{**keep, **meta})

    def committed(self, stage: str, fingerprint: str) -> bool:
        """Whether table `stage`'s live version was committed by a stage
        run on input `fingerprint`."""
        ptr = read_pointer(os.path.join(self.root, stage))
        return ptr is not None and ptr.get("fingerprint") == fingerprint

    def read(self, name: str) -> DataFrame:
        return read_table(self.spark, os.path.join(self.root, name))

    def all_at_or_after(self, name: str, column: str, epoch_s: int) -> bool:
        """True iff the footers of table `name` prove that every row has
        a non-null timestamp `column` at or after `epoch_s` (no Spark
        job).  A row group without statistics for the column proves
        nothing, so it answers False; an empty table answers True."""
        return all(_lower_bound_holds(f, column, epoch_s)
                   for f in data_files(self.table_path(name)))
