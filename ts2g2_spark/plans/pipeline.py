"""End-to-end rollup pipeline with checkpoint/resume + lineage.

Stage DAG (each stage commits its output table before the next runs —
the checkpoint granularity of the north rule):

  input (tokenized_sequences)
    -> salted repartition                 [explicit skew handling]
    -> rollup_1m  (map-only Arrow kernel, gap-filled)
    -> rollup_1h  (tier-from-tier continuous aggregate)
    -> rollup_1d  (tier-from-tier)
    -> chunks     (delta-of-delta + Gorilla, map-only Arrow kernel)
    -> retention  (per-tier horizon filter; tiers with nothing to expire
                   are left untouched)

Each stage is one Spark write.  Its lineage rows (rows per writing task)
come from the parquet footers of the files it wrote and are written by
the pipeline process as one small file per (run_id, stage) -- no second
Spark job; its `stage_log` entry carries the row total and the partition
skew (max/median of those counts).  Reading a committed table back starts
no Spark job either: `Catalog.read` takes the schema from a data file's
footer, and the lineage table is read with its fixed schema.

Each stage writes its table as a new, unpublished version
(`catalog.Catalog.write`), then its lineage file from that version's
footers, then commits: `Catalog.commit` publishes the version with the
stage's input fingerprint, run_id and wall_ms in the table's `_LATEST`
pointer, the stage's one commit record.  Resume: a stage whose pointer
carries the input fingerprint is skipped and the version that pointer
names is read back instead of recomputed.  A crash before the commit
leaves the previous version live, so the re-run recomputes the stage;
re-running a killed job produces identical tables with no duplicates (a
stage re-run under the same run_id replaces its lineage file).

Retention is decided from the tier files' footers, not by a Spark
aggregate: a tier is rewritten unless the per-row-group statistics of
`bucket_ts` prove that no row is null or older than the tier's cutoff
(files without those statistics, such as INT96 timestamps, are always
rewritten).  The rewrite reads the live version and commits the result
as the next one, keeping the stage's record in the pointer, so there is
no checkpoint, resume still skips the stage, and a frame read from the
tier before the rewrite still reads the previous version.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from ts2g2_spark.catalog import Catalog
from ts2g2_spark.plans import chunks as chunks_mod
from ts2g2_spark.plans import rollup as rollup_mod
from ts2g2_spark.plans.lineage import (
    partition_metrics, partition_skew, read_lineage, write_lineage)
from ts2g2_spark.plans.points import salted_repartition


def _fingerprint(desc: str) -> str:
    import hashlib

    return hashlib.md5(desc.encode()).hexdigest()


class StagedPipeline:
    """Checkpoint/resume + lineage base shared by the rollup and corpus
    pipelines: each stage commits its output table, with its input
    fingerprint in the table's pointer, before the next stage runs; on
    re-submit, a stage committed with the same fingerprint is read back
    instead of recomputed (idempotent resume from the last committed
    stage)."""

    def __init__(self, spark: SparkSession, catalog_root: str,
                 run_id: str | None = None):
        self.spark = spark
        self.cat = Catalog(catalog_root, spark)
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.stage_log: list[dict] = []

    def _run_stage(self, stage: str, fingerprint: str, build) -> DataFrame:
        if self.cat.committed(stage, fingerprint):
            self.stage_log.append({"stage": stage, "skipped": True})
            return self.cat.read(stage)
        t0 = time.time()
        path = self.cat.write(build(), stage)
        wall_ms = (time.time() - t0) * 1000
        lin = partition_metrics(path, self.run_id, stage, fingerprint,
                                wall_ms)
        write_lineage(self.cat.table_path("lineage"), self.run_id, stage, lin)
        self.cat.commit(stage, path, fingerprint=fingerprint,
                        run_id=self.run_id, wall_ms=wall_ms)
        rows = lin.column("rows").to_numpy()
        self.stage_log.append(
            {"stage": stage, "skipped": False, "wall_ms": wall_ms,
             "rows": int(rows.sum()), "partition_skew": partition_skew(rows)})
        return self.cat.read(stage)


class RollupPipeline(StagedPipeline):
    def __init__(self, spark: SparkSession, catalog_root: str,
                 run_id: str | None = None, salt_buckets: int = 64,
                 gapfill: bool = True, positions_col: str | None = None,
                 step_seconds: int = 1):
        super().__init__(spark, catalog_root, run_id)
        self.salt_buckets = salt_buckets
        self.gapfill = gapfill
        self.positions_col = positions_col
        self.step_seconds = step_seconds

    def run(self, input_df: DataFrame, input_desc: str,
            stop_after: str | None = None) -> dict[str, DataFrame]:
        """Run (or resume) the full pipeline. stop_after simulates a kill
        between stage commits for resume tests."""
        fp = _fingerprint(
            f"{input_desc}|salt={self.salt_buckets}|gap={self.gapfill}"
            f"|step={self.step_seconds}")
        out: dict[str, DataFrame] = {}

        salted = salted_repartition(input_df, buckets=self.salt_buckets)

        out["rollup_1m"] = self._run_stage(
            "rollup_1m", fp,
            lambda: rollup_mod.rollup_from_tokens(
                salted, tier="1m", step_seconds=self.step_seconds,
                gapfill=self.gapfill, positions_col=self.positions_col))
        if stop_after == "rollup_1m":
            return out
        out["rollup_1h"] = self._run_stage(
            "rollup_1h", fp,
            lambda: rollup_mod.rollup_tier_up(out["rollup_1m"], "1h"))
        if stop_after == "rollup_1h":
            return out
        out["rollup_1d"] = self._run_stage(
            "rollup_1d", fp,
            lambda: rollup_mod.rollup_tier_up(out["rollup_1h"], "1d"))
        if stop_after == "rollup_1d":
            return out
        out["chunks"] = self._run_stage(
            "chunks", fp,
            lambda: chunks_mod.compress_chunks(
                salted, step_seconds=self.step_seconds,
                positions_col=self.positions_col))
        out["lineage"] = read_lineage(self.spark,
                                      self.cat.table_path("lineage"))
        return out

    def retention(self, now_epoch: int,
                  horizons: dict[str, int] = rollup_mod.DEFAULT_RETENTION,
                  ) -> dict[str, DataFrame]:
        """Apply tier-scoped retention, rewriting each tier table filtered
        by its horizon (with Iceberg: a partition-predicate DELETE).  The
        footers decide first (see the module docstring): a tier whose
        `bucket_ts` statistics prove every row non-null and inside the
        horizon is left untouched."""
        out = {}
        for tier in ("1m", "1h", "1d"):
            name = f"rollup_{tier}"
            cutoff = now_epoch - horizons[tier]
            if not self.cat.all_at_or_after(name, "bucket_ts", cutoff):
                kept = rollup_mod.apply_retention(
                    self.cat.read(name), tier, now_epoch, horizons)
                self.cat.commit(name, self.cat.write(kept, name))
            out[name] = self.cat.read(name)
        return out
