"""Benchmark runner.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output protocol (the driver keeps only the last ~2000 stdout chars, so the
FINAL line must be a compact self-contained JSON summary — round-3's single
~4KB line was truncated to unparseable):
  line 1: full JSON with the complete per-query timing map (also persisted
          to bench_full.json next to this script for offline diffing)
  line 2 (FINAL): compact summary {"metric", "value", "unit", "sf", "cpus",
          "n_queries", "rollup_points_per_sec", "rollup_points",
          "queries": <fixed small headline subset>, ...} — guaranteed to
          fit in the driver's tail capture.

Every query is forced through the noop sink (full materialization of all
columns — count() would let Catalyst prune work).  The north-rule headline
(rolled-up points/sec across all three tiers) is measured on the
engine-native tokenized table produced by datagen at a size proportional to
the sf directory.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# fixed subset echoed in the compact FINAL summary line (one per major
# family; the full map is on stdout line 1 and in bench_full.json)
HEADLINE_QUERIES = [
    "rollup_1m", "tokens_rollup_1m", "rollup_tiers_up", "gapfill_1h",
    "serve_range_stitched", "hvg_edges", "nvg_edges", "opg_edges_w3",
    "qg_edges_q4", "link_correlation", "dedup_exact",
    "minhash_lsh_candidates", "simhash_near", "ann_cosine_top5",
    "corpus_clean", "rollup_tiers_tokens",
    # round-5 family representatives
    "lsh_hot_capped", "ivf_recall_nprobe", "media_features_real",
    "pii_redact", "int8_recall_top5", "pq_recall_top5",
    "bloom_prune_orders", "lpa_modularity_hvg",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1

    import __spark_entry__ as entry_mod
    from ts2g2_spark import datagen
    from ts2g2_spark.plans import rollup as rollup_mod
    from ts2g2_spark.plans.points import salted_repartition
    from ts2g2_spark.session import get_spark

    spark = get_spark(app_name="ts2g2_bench", parallelism=cpus,
                      shuffle_partitions=cpus)
    qs = entry_mod.queries()
    # every contract query is benched; the explicit sort keeps run order
    # (and therefore warm-cache effects) stable across rounds
    names = sorted(qs)
    # untimed warm-up: fork the Python daemon workers, JIT the codegen
    # paths, prime the parquet footer cache — so the alphabetically-first
    # query doesn't absorb session startup (~4-5 s of one-time cost)
    _force(qs[names[0]](spark, sf_dir))
    times: dict[str, float] = {}
    total = 0.0
    for name in names:
        t0 = time.time()
        _force(qs[name](spark, sf_dir))
        dt = time.time() - t0
        times[name] = round(dt, 3)
        total += dt
        # each query pays for (and only for) its own caches: without
        # this, a query whose subplan equals one an earlier query
        # cached silently free-rides (Spark cache lookup matches
        # canonicalized plans), and ~200 leaked caches build executor
        # memory pressure that inflates the tail of the run
        spark.catalog.clearCache()

    # north-rule headline: rolled-up points/sec through all three tiers
    # (map-only 1m kernel + tier-from-tier 1h/1d) on the tokenized table.
    n_docs = max(int(20000 * sf * 10), 500)  # sf0.1 -> 20k docs (~5.6M pts)
    toks = salted_repartition(
        datagen.tokenized_sequences(spark, n_docs, seed=42), buckets=64)
    toks = toks.localCheckpoint()  # pin input so datagen cost is excluded
    n_points = toks.selectExpr("sum(n_tok)").collect()[0][0]

    def _tiers():
        m1 = rollup_mod.rollup_from_tokens(toks, tier="1m", gapfill=True)
        m1 = m1.localCheckpoint()
        h1 = rollup_mod.rollup_tier_up(m1, "1h").localCheckpoint()
        _force(rollup_mod.rollup_tier_up(h1, "1d"))

    # same regime as the queries: one untimed warm-up so the headline
    # points/sec isn't dominated by plan-cold codegen on this small
    # (~7M-point) sample — the scaling harness measures the same job
    # warm at 188M points
    _tiers()
    t0 = time.time()
    _tiers()
    rollup_dt = time.time() - t0
    pps = n_points / rollup_dt

    all_queries = {**times, "rollup_tiers_tokens": round(rollup_dt, 3)}
    out = {
        "metric": "headline-queries wall sec (sf parquet) + rollup tiers",
        "value": round(total + rollup_dt, 3),
        "unit": "sec",
        "queries": all_queries,
        "sf": sf,
        "rollup_points_per_sec": int(pps),
        "rollup_points": int(n_points),
        "cpus": cpus,
        # timing mode, so cross-round comparisons don't misread warm-up
        # ordering changes as plan wins (round-2 change a11ce89: one
        # untimed warm-up run now absorbs session startup; before it, the
        # first-run query's time included ~5-6 s of JVM/daemon/footer
        # warm-up — e.g. rollup_1m r1 6.99s vs r2 0.43s is mostly that)
        "warmup_query": names[0],
        # the entries of `queries` timed on a second run, not plan-cold
        "warm_timed": [names[0], "rollup_tiers_tokens"],
        "timing_mode": ("each contract query except warmup_query is timed "
                        "on its plan's FIRST execution, on a session "
                        "pre-warmed by one untimed run of warmup_query "
                        "(plan-cold, session-warm); caches cleared "
                        "between queries (r5) so no query free-rides an "
                        "earlier query's cache. The warm_timed entries "
                        "are timed WARM, on their second run: "
                        "warmup_query after its untimed warm-up run, and "
                        "rollup_tiers_tokens (so rollup_points_per_sec "
                        "too) after one untimed run of the same tier "
                        "jobs"),
    }
    # full detail: stdout line 1 (may scroll out of the driver's tail) and
    # a file next to this script, for offline per-query diffing
    full_line = json.dumps(out)
    print(full_line)
    try:
        with open(os.path.join(REPO, "bench_full.json"), "w") as fh:
            fh.write(full_line + "\n")
    except OSError:
        pass  # read-only checkout: stdout line 1 still has the detail
    # compact FINAL line — must fit in the driver's ~2000-char tail capture
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(all_queries),
        "rollup_points_per_sec": out["rollup_points_per_sec"],
        "rollup_points": out["rollup_points"],
        "warmup_query": out["warmup_query"],
        "warm_timed": out["warm_timed"],
        "queries": {q: all_queries[q] for q in HEADLINE_QUERIES
                    if q in all_queries},
        "full_map": "stdout line 1 + bench_full.json",
    }
    # shrink rather than assert: dying here would burn the whole run and
    # leave NO compact final line in the driver's ~2000-char tail — the
    # exact failure mode this summary exists to prevent.  Drop headline
    # query entries (full map is on line 1 + bench_full.json anyway)
    # until the line fits.
    line = json.dumps(summary)
    while len(line) >= 1500 and summary["queries"]:
        summary["queries"].popitem()
        summary["queries_truncated"] = True
        line = json.dumps(summary)
    print(line)


if __name__ == "__main__":
    main()
