"""Storage + checkpoint seam.

In-sandbox everything is Parquet on the local FS.  The seam is written
against "last committed snapshot" semantics so that swapping in an Iceberg
catalog (org.apache.iceberg.spark.SparkCatalog; jar absent here — SURVEY §0)
only changes `write`/`read` and commit becomes the Iceberg snapshot
itself.  `commit` writes the stage's manifest under a temporary name and
renames it atomically; a stage is committed iff its manifest file exists
and matches the input fingerprint, which gives idempotent resume (north
rule: resumable from the last committed checkpoint).

`write` never writes into the live table directory.  Spark writes the
new table into the dot-prefixed sibling `.<name>.tmp` (Spark readers skip
it); then the live directory is renamed to `.<name>.old`, the new one is
renamed into place and the old one is removed.  So a table can be
rewritten from a frame that reads it (retention needs no checkpoint), and
what a crash leaves is:
- during the Spark write: the live table unchanged, plus a partial
  `.<name>.tmp` that the next write of the table removes;
- between the two renames: no live directory, and the previous table
  whole in `.<name>.old`; the next `read` or `write` of the table moves
  it back;
- after the swap: the new table live, and possibly a `.<name>.old` that
  the next write removes.
The catalog has one writer.  A reader that planned a frame over the old
files before the swap fails when the old directory is removed.  Versioned
table directories, with the manifest naming the committed version, are
open work (ROADMAP item 5).

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
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
_TS_UNITS = {"milliseconds": 10**3, "microseconds": 10**6,
             "nanoseconds": 10**9}


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


class Catalog:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)

    # -- manifest -----------------------------------------------------
    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self.root, "_manifest", f"{stage}.json")

    def committed(self, stage: str, fingerprint: str) -> bool:
        p = self._manifest_path(stage)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as f:
                m = json.load(f)
            return m.get("fingerprint") == fingerprint
        except (json.JSONDecodeError, OSError):
            return False

    def commit(self, stage: str, fingerprint: str, meta: dict) -> None:
        p = self._manifest_path(stage)
        tmp = p + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(
                {"stage": stage, "fingerprint": fingerprint,
                 "committed_at": time.time(), **meta}, f)
        os.replace(tmp, p)  # atomic on POSIX — the "snapshot commit"

    # -- tables -------------------------------------------------------
    def table_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def _settled_path(self, name: str) -> str:
        """The table's path, after moving back a previous table that a
        crash between `write`'s two renames left aside."""
        path = self.table_path(name)
        old = os.path.join(self.root, f".{name}.old")
        if not os.path.exists(path) and os.path.exists(old):
            os.rename(old, path)
        return path

    def write(self, df: DataFrame, name: str,
              partition_by: list[str] | None = None) -> str:
        """Write `df` as table `name`, replacing the table only once the
        new one is whole (see the module docstring); `df` may read the
        table it replaces."""
        path = self._settled_path(name)
        tmp = os.path.join(self.root, f".{name}.tmp")
        old = os.path.join(self.root, f".{name}.old")
        for stale in (tmp, old):
            shutil.rmtree(stale, ignore_errors=True)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
        return path

    def read(self, name: str) -> DataFrame:
        path = self._settled_path(name)
        return self.spark.read.schema(footer_schema(path)).parquet(path)

    def all_at_or_after(self, name: str, column: str, epoch_s: int) -> bool:
        """True iff the footers of table `name` prove that every row has
        a non-null timestamp `column` at or after `epoch_s` (no Spark
        job).  A row group without statistics for the column proves
        nothing, so it answers False; an empty table answers True."""
        return all(_lower_bound_holds(f, column, epoch_s)
                   for f in data_files(self._settled_path(name)))

    # -- bucketed tables ----------------------------------------------
    def _table_ident(self, name: str) -> str:
        import hashlib
        import re

        # session-catalog identifier scoped to this catalog root, so two
        # Catalogs in one SparkSession never collide; the name is
        # sanitized to identifier characters (every other Catalog method
        # treats it as a path segment, where '-' and '.' are legal) and
        # the suffix hashes root AND raw name so sanitization collisions
        # ('a-b' vs 'a.b') still map to distinct tables
        suffix = hashlib.md5(f"{self.root}\0{name}".encode()).hexdigest()[:8]
        safe = re.sub(r"[^A-Za-z0-9_]", "_", name)
        return f"{safe}_{suffix}"

    def write_bucketed(self, df: DataFrame, name: str,
                       bucket_cols: list[str], num_buckets: int,
                       sort_cols: list[str] | None = None) -> str:
        """Write a table hash-bucketed on `bucket_cols` (optionally
        sorted within buckets).  Every later join or aggregation keyed on
        the bucket columns against a table with the SAME bucket count
        reads co-located buckets and plans with NO Exchange on either
        side — the tier⋈dim / tier⋈tier serving joins become map-side.
        At 10^12-series scale this removes the recurring shuffle of the
        materialized tiers on every downstream query; the one-time
        bucketing cost is paid at write.  (With Iceberg, the same seam is
        a bucket(N, col) partition transform.)

        Returns the session-catalog identifier to pass to
        `read_bucketed`."""
        ident = self._table_ident(name)
        # backtick-quoted: identifiers are data here, never SQL text
        self.spark.sql(f"DROP TABLE IF EXISTS `{ident}`")
        w = (df.write.mode("overwrite").format("parquet")
             .option("path", self.table_path(name))
             .bucketBy(num_buckets, *bucket_cols))
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(ident)
        return ident

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a bucketed table back THROUGH the session catalog — a
        plain path read (`spark.read.parquet`) loses the bucket spec and
        reintroduces the shuffle."""
        return self.spark.table(self._table_ident(name))
