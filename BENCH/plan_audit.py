"""Physical-plan audit of the flagship queries.

Prints, for each audited query at $SPARK_GRAFT_SF_DIR:
  * whether filters/column pruning reached the parquet scan
    (PushedFilters / ReadSchema)
  * the number of Exchanges (shuffles) and their keys
  * WholeStageCodegen span count (JVM-side hot path)
  * Python/Arrow crossings (ArrowEvalPython / MapInPandas / MapInArrow /
    FlatMapsInPandas)

Writes BENCH/PLANS.md.  Run: python BENCH/plan_audit.py
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

AUDIT = [
    "rollup_1m", "rollup_tiers_up", "tokens_rollup_1m", "gapfill_1h", "tpch_q1",
    "tpch_q3_top10", "hvg_edges", "opg_edges_w3", "qg_edges_q4",
    "dedup_exact", "ngram_jaccard", "minhash_lsh_candidates",
    "ann_cosine_top5", "link_seasonality_7", "link_value_range",
    "embedding_rank", "media_dedup",
    # round 2 additions
    "ann_lsh_top5", "emb_cosine_dup", "simhash_near", "histogram_10",
    "nvg_weighted", "proximity_cycle", "link_correlation",
    "link_window_chain", "combine_nodes", "combine_subgraphs",
    "walk_corpus", "dedup_components", "sample_10pct",
    "stratified_sample", "corpus_clean", "datamix_report",
    # round 3 additions
    "proximity_knn", "ann_ivf_top5", "generate_walks",
    # round 3 training-data additions
    "repetition_signals", "pii_counts", "top_2grams", "contamination",
    "pack_sequences", "datamix_apply",
    # round 3 session-3 additions
    "asof_enrich", "gapfill_1m_linear", "lm_perplexity",
    "tfidf_top_terms", "duplicated_spans",
    # round 3 series-analytics / corpus-health additions
    "m4_1h", "rolling_zscore", "sax_w8_a4", "acf_4",
    "cusum_changepoint", "series_profile", "periodogram",
    "vocab_stats", "corpus_length_profile",
    "event_transitions", "funnel_vcp", "cohort_retention",
    # round 3 session 4-5 additions
    "pagerank_hvg", "session_stats_6h", "lttb_48", "ewma_03",
    "interval_join_sessions", "twa_1h", "counter_rate_1h",
    # round 3 session 6-7 additions
    "serve_range_stitched", "distinct_users_1h", "chunk_docs",
    "dict_encode_docs", "forecast_24h", "anomaly_stl_24",
    # round 3 session 9 additions
    "tier_refresh_late", "holt_forecast_12", "theil_sen_trend",
    "mann_kendall", "graph_mixing_hvg", "betweenness_hvg", "psi_drift",
    # round 4 additions
    "line_dedup", "semantic_dedup", "incremental_dedup", "bm25_top10",
    "heaps_law", "dedup_survivors", "slo_burn_alerts", "ks_drift",
    "ivf_recall_top5", "rolling_p95_1h",
    # round 5 additions
    "lsh_hot_capped", "media_features_real", "ivf_recall_nprobe",
    "path_metrics_hvg", "pii_redact",
    # round 5 late additions
    "int8_recall_top5", "pq_recall_top5", "ivfpq_recall_top5",
    "normalize_unicode", "domain_stats",
    # round 5 sketch additions
    "hll_users_by_type", "hll_users_daily_merged", "weighted_sample_10",
    "hll_overlap_click_purchase", "cms_hot_words",
    # round 5 graph/pruning additions
    "bloom_prune_orders", "lpa_communities_hvg", "lpa_modularity_hvg",
    "kmv_users_by_type", "kmv_users_daily_merged", "url_canonical_dedup",
    "span_corruption_docs", "tpch_q6", "mrl_recall_top5",
    # round 5 final-session additions
    "bpe_merges_k8", "bpe_apply_k8", "quality_auc",
    "hdr_value_quantiles", "hdr_quantiles_daily_merged",
    "props_key_census", "props_k_rollup", "quality_top25_by_source",
    "link_prediction_hvg", "mase_hourly24", "vocab_coverage_20",
    "user_growth_daily",
]


def summarize(plan: str) -> dict:
    lines = plan.splitlines()
    exchanges = [ln.strip() for ln in lines if "Exchange" in ln
                 and "Reused" not in ln]
    keys = []
    for e in exchanges:
        m = re.search(r"hashpartitioning\(([^)]*)\)", e)
        keys.append(m.group(1).split(", ")[:3] if m else ["(non-hash)"])
    return {
        "exchanges": len(exchanges),
        "exchange_keys": ["+".join(k) for k in keys],
        # codegen stages print as "*(n) Operator" in executedPlan strings
        "codegen_spans": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python_crossings": len(re.findall(
            r"ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas",
            plan)),
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "read_schemas": sorted(set(re.findall(r"ReadSchema: struct<([^>]*)>",
                                              plan)))[:2],
        "broadcasts": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    import __spark_entry__ as entry_mod
    from ts2g2_spark.session import get_spark

    spark = get_spark(app_name="plan_audit", parallelism=4,
                      shuffle_partitions=8)
    qs = entry_mod.queries()
    rows = []
    for name in AUDIT:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        s = summarize(plan)
        rows.append((name, s))

    md = ["# BENCH/PLANS.md — physical plan audit",
          "",
          f"Generated against `{sf_dir}` (AQE initial plans; runtime AQE "
          "may coalesce further).  Columns: shuffles = Exchange count, "
          "codegen = WholeStageCodegen spans, py = Python/Arrow "
          "crossings, bcast = broadcast joins, pushdown = filters reached "
          "the scan.",
          "",
          "| query | shuffles | shuffle keys | codegen | py | bcast | "
          "pushdown |",
          "|---|---|---|---|---|---|---|"]
    for name, s in rows:
        md.append(
            f"| {name} | {s['exchanges']} | "
            f"{'; '.join(s['exchange_keys'][:3]) or '-'} | "
            f"{s['codegen_spans']} | {s['python_crossings']} | "
            f"{s['broadcasts']} | {'yes' if s['pushed_filters'] else '-'} |")
    md += [
        "",
        "Audit invariants the engine maintains:",
        "",
        "* relational rollups/aggregations: 1 exchange carrying one row "
        "per (series, bucket) — partial agg collapses per-point rows "
        "map-side;",
        "* per-segment graph kernels: ZERO exchanges (map-only Arrow "
        "crossings, series are row-local);",
        "* joins against per-series dimension tables broadcast "
        "(`BroadcastHashJoin`), never shuffle the fact side;",
        "* parquet scans show ReadSchema limited to referenced columns "
        "(binary payloads pruned out of shuffles, see "
        "tests/test_multimodal.py).",
        "",
        "Reading note: `dedup_components` and `ann_ivf_top5` are "
        "documented EAGER APIs (their iterative/multi-action jobs run at "
        "frame-construction time), so their rows above show the plan of "
        "the already-materialized result (a checkpoint scan, 0-1 "
        "exchanges) — the distributed work they did is audited in their "
        "operator docstrings and pinned by tests, not visible in this "
        "lazy-plan dump.",
        "",
        "Reading note 2: queries built on a `.cache()`d multi-consumer "
        "frame (`heaps_law`, `ks_drift`, `bm25_top10`, `ar2_forecast_12`, "
        "`cms_hot_words`) "
        "print that frame's full lineage once PER CONSUMER in the "
        "initial-plan text, inflating their exchange counts here; at "
        "runtime the cache materializes the subtree once and every "
        "consumer reads the InMemoryRelation (the whole point of the "
        "round-4 cache fix — see their `cache=True` docstrings and the "
        "bench timings).",
    ]
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(md) + "\n")
    print("\n".join(md))
    spark.stop()


if __name__ == "__main__":
    main()
