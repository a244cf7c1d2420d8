"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs each headline query to completion via the noop sink (full plan
executes, no driver-side result transfer) on local[$SPARK_GRAFT_CPUS] and
prints a SHORT totals-only summary JSON line ("summary_line": true, no
"queries") followed LAST by the full-record JSON line:

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {"q1_pricing_summary": <sec>, ...},
     "spread": {"q1_pricing_summary": <max-min sec>, ...},
     "runs": 3, "sf": 0.1}

Consumers take the last parseable stdout line: an intact stream gives
them the full per-query record, and a capture that cuts the long final
line mid-stream still ends on the parseable summary. The complete record
is also written to BENCH_LOCAL.json (and BENCH_r{N}.json when
$SPARK_GRAFT_ROUND is set).

Per-query numbers are MEDIANS of 3 runs: this host's totals swing up to
1.7x with co-tenant contention, so a single run (or a min, which hides
steady-state regressions behind one lucky pass) misleads — compare
per-query medians across rounds and read `spread` as the noise bar. A
single warmup action is run first so JVM/codegen startup is not billed
to the first query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from maap_data_pipelines_spark import registry  # noqa: E402
from maap_data_pipelines_spark.session import get_spark  # noqa: E402

# FROZEN core headline (r7): 50 representative queries — TPC-H reps plus
# the heaviest composition per family (events science, dedup cascade, ANN
# quantized tier, curation, STAC, warehouse ETL). This list NEVER grows:
# cross-round regression comparison reads `core_total` / the core subset
# of `queries` so real drift isn't buried under the ever-growing full
# sweep's noise (the full 174+-query headline is 3×4.5 min per take on a
# noisy host). New operators extend HEADLINE below, not CORE.
CORE = [
    # TPC-H representatives
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q9_product_type_profit",
    "q13_customer_distribution", "q17_small_quantity_revenue",
    "q18_large_orders", "q21_waiting_suppliers",
    "q22_global_sales_opportunity",
    # window / graph analytics
    "top_customers_window", "orders_running_revenue", "nation_trade_pagerank",
    # events battery (sessionize, as-of, banded range join, state science)
    "events_hourly_rollup", "events_sessionize", "events_funnel",
    "events_asof_attribution", "events_purchase_context",
    "events_transition_matrix", "events_windowed_funnel",
    "events_multitouch_attribution", "events_attribution_comparison",
    # dedup candidate + graph + audit tier
    "dedup_exact", "dedup_minhash_lsh", "dedup_clusters", "ngram_jaccard",
    "dedup_incremental", "dedup_prefix_filter", "dedup_strategy_comparison",
    # ANN / embedding tier
    "ann_cosine_topk", "ann_ivf_topk", "ann_ivfpq_topk",
    "embedding_kmeans", "embedding_silhouette", "embedding_dedup_banded",
    # text / curation compositions
    "corpus_curation", "corpus_curation_extended", "curation_yield_report",
    "tfidf_top_terms", "bm25_topk", "decontaminate", "bpe_token_stats",
    # STAC pipeline
    "build_stac_items", "assets_neighbor_join", "stac_coverage_gaps",
    # warehouse ETL
    "orders_scd2", "orders_revenue_trend", "orders_bootstrap_ci",
    "lineitem_corr_matrix", "customer_entity_resolution",
]

# Representative, scale-sensitive subset: scans+aggs, multi-join, window,
# sessionization, funnel, text hashing. Extended as operators land.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q18_large_orders",
    "top_customers_window",
    "events_hourly_rollup",
    "events_sessionize",
    "events_funnel",
    "doc_fingerprint",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "ngram_jaccard",
    "quality_filter",
    "ann_cosine_topk",
    "ann_lsh_buckets",
    "ann_ivf_topk",
    "events_asof_attribution",
    "orders_running_revenue",
    "build_stac_items",
    "transfer_plan",
    # tpch2 battery representatives: multi-join profit, outer-join count
    # distribution, per-part avg compare, per-order window, anti-join
    "q9_product_type_profit",
    "q13_customer_distribution",
    "q17_small_quantity_revenue",
    "q21_waiting_suppliers",
    "q22_global_sales_opportunity",
    # warehouse ETL + pivot + banded range join
    "orders_scd2",
    "events_type_pivot",
    "events_purchase_context",
    # text/IR + dedup scale paths + profiling + regression-as-agg
    "term_topk",
    "tfidf_top_terms",
    "dedup_incremental",
    "embedding_dedup_lsh",
    "documents_profile",
    "orders_revenue_trend",
    "media_frame_sample",
    # the flagship composition: quality + exact-dup + near-dup cascade
    "corpus_curation",
    # curation signals: benchmark-overlap join, repetition, PII, mixture
    "decontaminate",
    "repetition_stats",
    "pii_scan",
    "domain_mixture",
    # banded LSH (the measured-recall embedding scale path) + z-order audit
    "embedding_dedup_banded",
    "orders_zorder_layout",
    # 2D grid-cell blocked spatial self-join
    "assets_neighbor_join",
    # sketches + scale-pattern additions (round 2, late)
    "heavy_hitters",
    "events_distinct_sketch",
    "orders_price_quantiles",
    "lineitem_manifest_pruning",
    "bloom_customer_filter",
    "events_retention_triangle",
    "lineitem_scd2_lookup",
    "source_lang_drift",
    "sql_revenue_by_nation",
    "doc_weighted_sample",
    # round 3: self-trained bigram-LM scoring + cross-split leakage audit
    # + cross-doc duplicate-span removal plan
    "doc_perplexity",
    "split_leakage",
    "dup_span_removal",
    "events_sliding_trend",
    "events_transition_matrix",
    "events_attribution_latency",
    # integer-exact Lloyd's k-means (iterative; driver-sync per round)
    "embedding_kmeans",
    # round-3 breadth: IR cosine retrieval, path mining, RANGE frame,
    # ntile histogram, perceptual media dedup, candidate-graph census
    "doc_cosine_topk",
    "events_user_paths",
    "orders_trailing_year",
    "orders_value_deciles",
    "media_phash_dedup",
    "dedup_triangles",
    # late round-3: record linkage, binned range join, exact BM25,
    # one-pass correlation matrix
    "customer_entity_resolution",
    "sessions_campaign_overlap",
    "bm25_topk",
    "bm25_proximity_rerank",
    "lineitem_corr_matrix",
    "doc_surrogate_keys",
    "term_cooccurrence",
    "dedup_containment",
    # round 4: quadkey map rollup, OLS outlier scoring, curriculum
    # bucketing, matryoshka truncation recall
    "assets_tile_rollup",
    "doc_length_outliers",
    "doc_curriculum",
    "ann_matryoshka_recall",
    # late round 4: composed IVFADC, quantized-scan tiers, hybrid RRF
    # retrieval, rectangle range join, incremental LSH admission, DSIR
    "ann_ivfpq_topk",
    "ann_sq8_topk",
    "ann_bq_rerank",
    "retrieval_rrf_fusion",
    "assets_bbox_overlap",
    "dedup_minhash_incremental",
    "dsir_importance",
    # final round-4 batch: eval meters, recurrence, bootstrap, graph
    # density, cross-fact DQ, windowed funnel
    "embedding_knn_accuracy",
    "embedding_fisher_ratio",
    "orders_revenue_ewma",
    "orders_bootstrap_ci",
    "orders_lineitem_reconcile",
    "dedup_kcore",
    "dsir_auc",
    "events_windowed_funnel",
    "embedding_triplets",
    "events_burst_detection",
    "embedding_pca_top",
    "doc_embedding_outliers",
    "orders_cohort_ltv",
    "doc_ngram_novelty",
    "corpus_curation_extended",
    # round 6: exploded media histogram (mapInPandas decode path) +
    # vocabulary-join BPE tokenization gate + count-min sketch + greedy
    # MMR diversified retrieval
    "media_features",
    "bpe_token_stats",
    "events_cms_topk",
    "retrieval_mmr_topk",
    "cluster_topics",
    "packing_efficiency",
    "curation_yield_report",
    "customer_k_anonymity",
    "doc_weighted_sample_exact_k",
    "vocab_growth",
    "events_forecast_holt",
    "events_changepoint",
    "customer_pareto_frontier",
    "dedup_pair_diffstats",
    "referential_integrity_census",
    "ann_ivf_nprobe_curve",
    "media_phash_clusters",
    "supplier_return_sla",
    "orders_gap_distribution",
    "embedding_intrinsic_dim",
    "events_bot_detection",
    "customer_revenue_lorenz",
    "lineitem_benford",
    "orders_duplicate_payments",
    "customer_survival",
    "doc_zipf_fit",
    "embedding_silhouette",
    "dedup_source_modularity",
    "events_periodicity",
    "ann_filtered_topk",
    "lineitem_price_index",
    "events_ab_test",
    "events_multitouch_attribution",
    "customer_l_diversity",
    "orders_seasonal_decompose",
    "discount_elasticity",
    "doc_neyman_allocation",
    "orders_theilsen_trend",
    "events_ab_power",
    "lineitem_leadtime_profile",
    "dedup_threshold_curve",
    "orders_abc_classification",
    "supplier_concentration_hhi",
    "dedup_prefix_filter",
    "dedup_label_propagation",
    "events_theta_overlap",
    "quality_nb_classifier",
    "gdpr_erasure_plan",
    "orders_promo_lift",
    "events_next_event_prediction",
    "events_markov_attribution_removal",
    "customer_rfm_segments",
    "embedding_centroid_drift",
    "dedup_canonical_election",
    "events_forecast_backtest",
    "doc_winnowing_matches",
    "customer_t_closeness",
    "dedup_strategy_comparison",
    "part_recs_hitrate",
    "nation_trade_pagerank",
    "lineitem_single_source_risk",
    "doc_length_anova",
    "events_user_entropy",
    "lineitem_revenue_bridge",
    "dedup_local_bridges",
    "embedding_norm_health",
    "media_silence_runs",
    "stac_coverage_gaps",
    "events_attribution_comparison",
    "events_ab_srm_check",
    "doc_split_js_divergence",
    "supplier_dual_sourcing",
    # round 7: experiment planning, dedup economics + clustering
    # agreement, stratified recall, control chart, RAKE, scene cuts
    "events_mde_curve",
    "dedup_token_savings",
    "dedup_rand_index",
    "ann_recall_by_label",
    "orders_shewhart_control",
    "doc_keyphrase_rake",
    "media_scene_cuts",
    "events_holt_winters",
    "quality_nb_calibration",
    "orders_backlog_aging",
    "ann_centroid_balance",
    # r8 wave
    "events_cuped",
    "quality_isotonic_calibration",
    # r9 wave
    "events_cuped_stratified",
    "quality_platt_scaling",
    "embedding_dedup_collapsed",
    "events_ab_sequential",
    # r10 wave
    "events_diff_in_diff",
    "orders_mann_whitney",
    "supplier_gini_by_nation",
    "documents_ks_drift",
    "documents_chi2_independence",
    "vocab_entropy",
    "orders_spearman_corr",
    "supplier_theil_decomposition",
    "doc_length_kruskal",
    "orders_durbin_watson",
    "dedup_clustering_coefficient",
    "quality_cohen_kappa",
    "doc_burstiness",
    "customer_rfm_transition",
    "source_js_matrix",
    "orders_hill_tail_index",
    "orders_runs_test",
    "events_interarrival_exponentiality",
    "retrieval_ndcg",
]


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # Sample the co-tenant load BEFORE any Spark work: once the bench
    # itself runs, load1 reflects our own 32 threads, not contention.
    try:
        pre_load = round(os.getloadavg()[0], 2)
    except OSError:
        pre_load = -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    # Warmup: execute one tiny plan so JVM startup isn't billed below.
    _run(qs["q6_forecast_revenue"](spark, sf_dir))

    # Median-of-3 per query. Run 1 pays whole-stage-codegen compilation
    # (up to ~10s of pure janino time for the widest plans); the median
    # discards that warmup AND one noise spike, unlike a min (which hides
    # steady-state regressions behind one lucky pass) or a single run.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # SPARK_GRAFT_BENCH_SET=core restricts the sweep to the FROZEN core
    # (median-of-5 core takes are the cross-round regression gate — the
    # full headline's 185+-query noise floor buries ±5% core drift).
    # Default stays the full headline: the driver's per-round record
    # must keep covering every registered operator.
    bench_set = os.environ.get("SPARK_GRAFT_BENCH_SET", "headline")
    bench_keys = CORE if bench_set == "core" else HEADLINE
    timings: dict[str, float] = {}
    spread: dict[str, float] = {}
    loads: dict[str, float] = {}
    for key in bench_keys:
        if key not in qs:
            continue
        try:
            loads[key] = round(os.getloadavg()[0], 1)
        except OSError:
            loads[key] = -1.0
        runs = []
        for _ in range(n_runs):
            t0 = time.time()
            _run(qs[key](spark, sf_dir))
            runs.append(time.time() - t0)
        runs.sort()
        timings[key] = round(runs[len(runs) // 2], 3)
        spread[key] = round(runs[-1] - runs[0], 3)
    total = round(sum(timings.values()), 3)
    core_total = round(sum(timings[k] for k in CORE if k in timings), 3)
    # Field order matters: artifact captures may keep only the TAIL of
    # stdout (observed: a 2000-char tail window). Emit the noise bars
    # (spread) FIRST — they are the expendable detail — then the MEDIANS
    # immediately before the headline scalars, so any truncated capture
    # reads medians + total, never spread mistaken for timings (that
    # artifact inverted r04/r05 comparisons). The full line is also
    # written to BENCH_LOCAL.json so the complete record always survives.
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        load1 = -1.0
    # r6's "idle: true at load1 4.6" (one end-of-run sample, generous
    # 0.5*ncpus threshold) let a contended take masquerade as settled and
    # would eventually fire a false regression alarm. The idle gate now
    # reads the sample taken BEFORE any Spark work against an absolute
    # 1.5 threshold; `load1_per_query` keeps the during-run samples
    # (which include our own executor load — read them relatively) so
    # contended spans can be discounted post-hoc.
    line = json.dumps(
        {
            "load1_per_query": loads,
            "spread": spread,
            "queries": timings,
            "n_queries": len(timings),
            "runs": n_runs,
            "sf": sf,
            "load1": round(load1, 2),
            "load1_pre": pre_load,
            "idle": bool(0 <= pre_load < 1.5),
            "unit": "sec",
            "metric": "headline_total",
            "bench_set": bench_set,
            "core_queries": len([k for k in CORE if k in timings]),
            "core_total": core_total,
            "value": total,
        }
    )
    # core-set takes land in their own file so a core run never
    # clobbers the committed full-headline record (and vice versa)
    fname = "BENCH_CORE.json" if bench_set == "core" else "BENCH_LOCAL.json"
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, fname), "w") as f:
        f.write(line + "\n")
    # Round-stamp the COMPLETE record ONLY when the round is stated
    # explicitly. r11's `max existing round + 1` inference mis-filed
    # takes under future round numbers (BENCH_r12..r15 held r10/r11
    # takes), poisoning cross-round comparison; an unstated round now
    # lands in BENCH_LOCAL.json alone. tools/bench_diff.py reads the
    # BENCH_r{N}.json files for per-query round-over-round comparison.
    if bench_set != "core":
        rnd = os.environ.get("SPARK_GRAFT_ROUND")
        if rnd is not None:
            with open(os.path.join(here, f"BENCH_r{int(rnd):02d}.json"), "w") as f:
                f.write(line + "\n")
    # The external capture keeps only a TAIL of stdout and takes its last
    # parseable line. Print the SHORT totals-only summary first and the
    # full per-query record LAST: an intact stream then yields the full
    # record (PERF_r12 read the summary and got `n_common: 0`), and a
    # capture that cuts the long final line mid-stream still ends on the
    # parseable summary. Timing methodology is unchanged.
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "summary_line": True,
                "value": total,
                "core_total": core_total,
                "n_queries": len(timings),
                "runs": n_runs,
                "sf": sf,
                "unit": "sec",
                "bench_set": bench_set,
                "load1_pre": pre_load,
                "idle": bool(0 <= pre_load < 1.5),
            }
        )
    )
    print(line)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
