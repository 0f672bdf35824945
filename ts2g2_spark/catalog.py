"""Storage + checkpoint seam.

In-sandbox everything is Parquet on the local FS.  The seam is written
against "last committed snapshot" semantics so that swapping in an Iceberg
catalog (org.apache.iceberg.spark.SparkCatalog; jar absent here — SURVEY §0)
only changes `write`/`read` and commit becomes the Iceberg snapshot
itself.  Here, `write` overwrites the table directory in place (Spark's
overwrite mode) and `commit` then writes the stage's manifest under a
temporary name and renames it atomically; a stage is committed iff its
manifest file exists and matches the input fingerprint, which gives
idempotent resume (north rule: resumable from the last committed
checkpoint).  The table write itself is not atomic: a crash while a
committed table is rewritten (a forced re-run, a retention rewrite) leaves
a torn table behind a manifest that still validates.  Versioned table
directories, with the manifest naming the committed version, are open
work (ROADMAP item 4).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


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

    def write(self, df: DataFrame, name: str,
              partition_by: list[str] | None = None) -> str:
        path = self.table_path(name)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.table_path(name))

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

    def drop_partitions(self, name: str, predicate) -> int:
        """Metadata-only retention for dirs partitioned by bucket_date:
        remove partition directories whose value fails the predicate.
        (With Iceberg this is `DELETE WHERE` on a partition column —
        a metadata operation.)"""
        path = self.table_path(name)
        dropped = 0
        if not os.path.isdir(path):
            return 0
        for entry in os.listdir(path):
            if "=" not in entry:
                continue
            _, value = entry.split("=", 1)
            if not predicate(value):
                shutil.rmtree(os.path.join(path, entry))
                dropped += 1
        return dropped
