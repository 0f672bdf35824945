"""spark-submit entry point for the training-corpus build pipeline.

    bash scripts/package.sh     # builds dist/ts2g2_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/ts2g2_spark.zip \
        jobs/corpus_job.py \
        --input /path/to/documents_parquet \
        --catalog /path/to/output_catalog \
        [--min-words 20] [--lang en] [--contamination-max 0.5] \
        [--jaccard-threshold 0.85] [--val-fraction 0.1] \
        [--pack-budget 2048] [--pack-buckets 64] [--run-id abc123]

Stages (each committed + lineage'd before the next; re-submitting after
a failure resumes from the last committed stage): clean ->
decontaminated -> near_dedup -> splits -> packed.  Prints one JSON line
with the stage log and the per-(source, lang, split) datamix.

The job sets `session.FOOTER_STATS_CONF` at runtime, so its tables write
timestamps as TIMESTAMP_MICROS, with parquet statistics, like every table
of a `get_spark` session.  Without it Spark writes INT96 timestamps, which
carry none: the tables are the same, but a footer-statistics decision over
them (such as the rollup job's retention) rewrites every file, which is
correct but slower."""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description="ts2g2_spark corpus pipeline")
    ap.add_argument("--input", required=True,
                    help="parquet path of the documents table "
                         "(doc_id, text[, lang, source])")
    ap.add_argument("--catalog", required=True,
                    help="output catalog root (stage tables + lineage)")
    ap.add_argument("--min-words", type=int, default=20)
    ap.add_argument("--lang", default="en")
    ap.add_argument("--contamination-max", type=float, default=0.5)
    ap.add_argument("--bench-fraction", type=float, default=0.05)
    ap.add_argument("--jaccard-threshold", type=float, default=0.85)
    ap.add_argument("--val-fraction", type=float, default=0.1)
    ap.add_argument("--pack-budget", type=int, default=2048)
    ap.add_argument("--pack-buckets", type=int, default=64)
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from ts2g2_spark.plans.corpus import CorpusPipeline
    from ts2g2_spark.session import FOOTER_STATS_CONF

    spark = SparkSession.builder.appName("ts2g2_corpus").getOrCreate()
    for k, v in FOOTER_STATS_CONF.items():
        spark.conf.set(k, v)
    pipe = CorpusPipeline(
        spark, args.catalog, run_id=args.run_id,
        min_words=args.min_words, lang=args.lang,
        contamination_max=args.contamination_max,
        bench_fraction=args.bench_fraction,
        jaccard_threshold=args.jaccard_threshold,
        val_fraction=args.val_fraction,
        pack_budget=args.pack_budget, pack_buckets=args.pack_buckets)
    out = pipe.run(spark.read.parquet(args.input), input_desc=args.input)
    mix = [r.asDict() for r in pipe.datamix().collect()]
    print(json.dumps({"run_id": pipe.run_id, "stages": pipe.stage_log,
                      "tables": sorted(out), "datamix": mix}))


if __name__ == "__main__":
    main()
