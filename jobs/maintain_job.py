"""spark-submit entry point for incremental tier maintenance.

Catch-up style: each invocation drains everything currently available
from the input (availableNow trigger) and stops — schedule it
repeatedly, or swap the trigger in run_tier_maintenance for a
continuous service.  Folds a stream of point rows into a mergeable
tier table that absorbs arbitrarily late data
(streaming/ingest.incremental_tier_fold): each micro-batch
re-aggregates only the (series, bucket) groups it names, writes the
next version directory and publishes it by atomically replacing the
table's `_LATEST` pointer (catalog.publish, the one commit protocol of
every table the package writes).  The pointer records the last applied
batch, so the at-least-once foreachBatch becomes exactly-once on the
table, and a restarted checkpoint lineage is refused loudly instead of
double-counting.  After each publish only the live version and the one
before it stay on disk: a reader planned over a snapshot can run until
the second fold after it.

    bash scripts/package.sh     # builds dist/ts2g2_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/ts2g2_spark.zip \
        jobs/maintain_job.py \
        --input /path/of/point_parquet_stream \
        --table /path/to/tier_table_root \
        --checkpoint /path/to/stream_checkpoint \
        [--tier 1m] [--okey-col event_id]

One --table is bound to one --checkpoint lineage for its lifetime.
Serve the result via streaming/ingest.read_tier_snapshot (+
plans/rollup.finalize_state), or tier it up with rollup_tier_up.

The job sets `session.FOOTER_STATS_CONF` at runtime, so the snapshot
versions write `bucket_ts` as TIMESTAMP_MICROS, with parquet statistics,
like every table of a `get_spark` session.  Without it Spark writes INT96
timestamps, which carry none: the snapshots are the same, but a
footer-statistics decision over them (such as the rollup job's retention)
rewrites every file, which is correct but slower.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(
        description="ts2g2_spark incremental tier maintenance")
    ap.add_argument("--input", required=True,
                    help="parquet dir streamed as point rows "
                         "(doc_id, source, ts, value)")
    ap.add_argument("--table", required=True,
                    help="tier table root (versioned snapshots + _LATEST)")
    ap.add_argument("--checkpoint", required=True,
                    help="streaming checkpoint dir (bound to --table)")
    ap.add_argument("--tier", default="1m", choices=["1m", "1h", "1d"])
    ap.add_argument("--okey-col", default=None,
                    help="unique-per-point order column for exact "
                         "first/last (defaults to the raw timestamp)")
    ap.add_argument("--n-parts", type=int, default=16,
                    help="series-hash partition count — size so a "
                         "typical batch touches a small fraction")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ts2g2_spark.session import FOOTER_STATS_CONF
    from ts2g2_spark.streaming import ingest

    spark = SparkSession.builder.appName("tsg-tier-maintenance") \
        .getOrCreate()
    for k, v in FOOTER_STATS_CONF.items():
        spark.conf.set(k, v)
    ingest.run_tier_maintenance(
        ingest.stream_points(spark, args.input),
        args.table, args.checkpoint,
        tier=args.tier, okey_col=args.okey_col, n_parts=args.n_parts)
    try:
        rows = ingest.read_tier_snapshot(spark, args.table).count()
    except FileNotFoundError:
        rows = 0  # no batch has ever committed (fresh table, no input)
    print(json.dumps({
        "table": args.table,
        "tier": args.tier,
        "rows": rows,
    }))


if __name__ == "__main__":
    main()
