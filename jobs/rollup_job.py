"""spark-submit entry point for the rollup + retention pipeline.

Ship the package with --py-files (north rule: "ships as a spark-submit
--py-files package"):

    bash scripts/package.sh     # builds dist/ts2g2_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/ts2g2_spark.zip \
        jobs/rollup_job.py \
        --input /path/to/tokenized_sequences_parquet \
        --catalog /path/to/output_catalog \
        [--positions-col positions] [--salt-buckets 256] \
        [--retention-now 1735689600] [--run-id abc123]

The job is resume-safe: re-submitting after a failure skips every stage
whose table's `_LATEST` pointer already records a commit for the same
input fingerprint (plans/pipeline.py).  All cluster sizing (executors,
memory, shuffle partitions) comes from spark-submit conf; the session here
is getOrCreate so nothing is overridden, except that the job sets
`session.FOOTER_STATS_CONF` (timestamps written as TIMESTAMP_MICROS) at
runtime.  Retention decides which tiers to rewrite from the `bucket_ts`
statistics in the tier files' footers, and Spark's default INT96
timestamps carry none: without the setting every tier is rewritten on
every retention run, which is correct but slower.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description="ts2g2_spark rollup pipeline")
    ap.add_argument("--input", required=True,
                    help="parquet/Iceberg path of the tokenized input table "
                         "(doc_id, tokens, n_tok, source[, positions])")
    ap.add_argument("--catalog", required=True,
                    help="output catalog root (tier tables + chunks + "
                         "lineage)")
    ap.add_argument("--positions-col", default=None)
    ap.add_argument("--salt-buckets", type=int, default=256)
    ap.add_argument("--step-seconds", type=int, default=1)
    ap.add_argument("--no-gapfill", action="store_true")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--retention-now", type=int, default=None,
                    help="epoch seconds; if set, apply tier-scoped "
                         "retention after the rollup stages")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ts2g2_spark.plans.pipeline import RollupPipeline
    from ts2g2_spark.session import FOOTER_STATS_CONF

    spark = SparkSession.builder.appName("ts2g2_rollup").getOrCreate()
    for k, v in FOOTER_STATS_CONF.items():
        spark.conf.set(k, v)
    pipe = RollupPipeline(
        spark, args.catalog, run_id=args.run_id,
        salt_buckets=args.salt_buckets, gapfill=not args.no_gapfill,
        positions_col=args.positions_col, step_seconds=args.step_seconds)
    out = pipe.run(spark.read.parquet(args.input), input_desc=args.input)
    if args.retention_now is not None:
        pipe.retention(args.retention_now)
    print(json.dumps({"run_id": pipe.run_id, "stages": pipe.stage_log,
                      "tables": sorted(out)}))
    spark.stop()


if __name__ == "__main__":
    main()
