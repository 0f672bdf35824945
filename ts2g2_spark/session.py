"""SparkSession factory.

Defaults are sized for the sandbox (local[N], single JVM) but every knob is
the one you would set on a real 1000-executor cluster: AQE on (runtime
skew-join splitting + partition coalescing), Arrow on (all Python crossings
are columnar batches), shuffle partitions sized to the parallelism, and
bounded Arrow batch sizes so per-segment kernels have bounded memory.

Python workers fork from `ts2g2_spark.pydaemon` (`spark.python.daemon.module`)
instead of `pyspark.daemon`.  pyspark's worker calls
`importlib.invalidate_caches()` at the start of every task, and on CPython
< 3.13 that re-reads `pyspark.zip`'s central directory once per package
directory imported from it (110-175 ms per task, see `pydaemon`), more with
every pyspark subpackage a worker has imported, which is why
`pythonInitTime` grows across successive queries.  The package's daemon
re-reads an archive only when its mtime or size changed.  It has to be the
daemon module: `pyspark/daemon.py` ignores a `spark.python.worker.module`
whose name does not start with `pyspark`.  The daemon imports
`ts2g2_spark`, which a `local[N]` session's workers find on the path of
the process that built the session (run from the repository root, or with
the package installed).

The spark-submit jobs under `jobs/` build their own session and keep
`pyspark.daemon`: a `--py-files` zip reaches a worker's `sys.path` only per
task, after the daemon has started, so the daemon could not import
`ts2g2_spark` from it.  They do set `FOOTER_STATS_CONF` at runtime.

`FOOTER_STATS_CONF` makes Spark write timestamps as TIMESTAMP_MICROS
instead of INT96.  INT96 columns carry no parquet statistics, and the
rollup pipeline's retention decides from the `bucket_ts` minimum and null
count in the tier files' footers (`catalog.Catalog.all_at_or_after`).
Without it every tier is rewritten on every retention run: correct, but
slower.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
FOOTER_STATS_CONF = {"spark.sql.parquet.outputTimestampType":
                     "TIMESTAMP_MICROS"}


def get_spark(
    app_name: str = "ts2g2_spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    parallelism: local core count; None -> $SPARK_GRAFT_CPUS or '*'.
    """
    cpus = parallelism or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    master = f"local[{cpus}]"
    shuffle = shuffle_partitions or (
        int(cpus) if str(cpus).isdigit() else DEFAULT_SHUFFLE_PARTITIONS
    )
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime re-planning — coalesce tiny shuffle partitions and
        # split skewed ones; both matter at 100 TB where static planning
        # can't see the key distribution.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # All JVM<->Python crossings are Arrow columnar batches.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Bound kernel memory: a batch of <=2048 rows of <=4096-token arrays
        # is ~64 MiB of Arrow buffers — safe per executor thread.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Parquet scan split size: 128 MiB keeps 100 TB to ~800k tasks.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # tokens:array<int32> rows are wide (~300 elems avg, 4k max); the
        # default 4096-row columnar batch makes each scan task reserve
        # multi-MB contiguous vectors — at 32 concurrent tasks that OOMs a
        # modest heap.  1024 rows bounds scan memory with negligible cost.
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        # InferFiltersFromGenerate synthesizes `size(gen_input) > 0` and
        # pushes it below projects, INLINING the generator's full
        # expression tree into a per-row filter — for higher-order-function
        # pipelines (shingle hashing) that re-evaluates the whole chain
        # per row (measured 36s vs 2s on a 5k-doc shingle build).  The
        # rule's upside (skipping empty arrays pre-Generate) is negligible
        # for our operators; exclude it.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # G1's GCLocker stalls under concurrent Arrow/columnar allocation
        # collapse throughput at high task counts (measured 2.3x slower at
        # local[32] on the rollup job); throughput GC restores linearity.
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.executor.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
        # see the module docstring
        .config("spark.python.daemon.module", "ts2g2_spark.pydaemon")
    )
    for k, v in {**FOOTER_STATS_CONF, **(extra_conf or {})}.items():
        b = b.config(k, v)
    return b.getOrCreate()
