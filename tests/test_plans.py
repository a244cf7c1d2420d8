"""Plan-quality pins: pushdown, broadcast, codegen — the 100 TB contract.

These assert the *shape* of the physical plan, not its output: filters
must reach the parquet scan, dimension joins must broadcast, and scoring
must not fall back to interpreted evaluation.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

from maap_data_pipelines_spark import registry

_ROOT = Path(__file__).resolve().parent.parent
_CHECKS = ("rows_match", "schema_match", "hash_match")


def _physical(spark, key, sf_dir) -> str:
    df = registry.queries()[key](spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q6_filter_pushdown(spark, sf_dir):
    plan = _physical(spark, "q6_forecast_revenue", sf_dir)
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q5_broadcasts_dimensions(spark, sf_dir):
    plan = _physical(spark, "q5_local_supplier", sf_dir)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_scan_prunes_columns(spark, sf_dir):
    plan = _physical(spark, "q6_forecast_revenue", sf_dir)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # Only the needed columns reach the scan, not all 16 lineitem cols
    assert "l_extendedprice" in read_schema and "l_comment" not in read_schema


def test_topk_uses_window_group_limit(spark, sf_dir):
    # WindowGroupLimit = partial top-k before the shuffle; without it a
    # whole nation's customers would hit one sort partition.
    plan = _physical(spark, "top_customers_window", sf_dir)
    assert "WindowGroupLimit" in plan


def test_no_cartesian_products_in_battery(spark, sf_dir):
    for key in ("q3_shipping_priority", "q5_local_supplier", "q18_large_orders"):
        plan = _physical(spark, key, sf_dir)
        assert "CartesianProduct" not in plan, key


# Queries whose plans legitimately contain a nested-loop join: the
# quadratic brute-force baselines (documented scale path = LSH/IVF) and
# the K-centroid broadcast cross join of IVF assignment (fan-out bounded
# by IVF_K=16, broadcast side is 16 rows).
_BNLJ_ALLOWED = {
    # intentional quadratic baselines (LSH/IVF variants are the scale path)
    "embedding_dedup",
    "ann_cosine_topk",
    "ann_ivf_topk",
    # recall metrics + nprobe variant compose the queries above,
    # inheriting their (allowlisted) plans
    "ann_ivf_recall",
    "ann_ivf_topk2",
    "ann_ivf_recall2",
    # composes the quadratic embedding_dedup baseline as its truth side
    "embedding_dedup_recall",
    # stratified recall probe: composes ann_cosine_topk's brute truth and
    # ann_ivf_topk's 16-row centroid broadcast cross (both allowlisted)
    "ann_recall_by_label",
    # 1-row scalar combine: n_docs x sum_both x sum_minhash x sum_simhash
    # (four aggregate rows crossed to one summary row)
    "dedup_rand_index",
    # <=50-cell contingency dominance self-join (strict inequality on the
    # 5x10 grid) + 1-row scalar crosses — bounded grain by construction
    "orders_kendall_tau",
    # 1-row aggregate-scalar crosses (sufficient-statistic combines),
    # the dedup_rand_index class
    "corpus_bigram_entropy",
    "retrieval_map",
    "embedding_hubness",
    # r11: the four summary counts (train-orders/eval/model/baseline)
    # fused into one lazy job as 1-row aggregate crosses (was four
    # sequential driver-blocking count() jobs + createDataFrame)
    "part_recs_hitrate",
    # single-row scalar-subquery broadcasts (TPC-H Q11/Q15/Q22 shape):
    # the build side is one aggregated row, so the nested loop is O(n)
    "q11_important_stock",
    "revenue_concentration",
    "market_basket_types",
    # single-row max-date broadcast (Q11 shape)
    "orders_rfm",
    "q22_global_sales_opportunity",
    # 1-row as-of anchor + 1-row backlog-total broadcast crosses
    "orders_backlog_aging",
    # r10: 1-row totals broadcast crosses — KS's (n_base, n_rest) onto the
    # value-grain gap frame, chi2's corpus count onto the margin grid
    "documents_ks_drift",
    "documents_chi2_independence",
    # r10: 1-row grand-totals cross onto the 25-row nation frame (Theil
    # between term) / the two 1-row KW aggregates crossed to one row
    "supplier_theil_decomposition",
    "doc_length_kruskal",
    # inherits quality_nb_classifier's 1-row class-prior broadcast cross
    "quality_cohen_kappa",
    # 1-row corpus-count broadcast cross onto the term frame
    "doc_burstiness",
    # bounded |sources|x|sources| pair-spine cross (both sides are the
    # source-totals aggregate — the month-spine class)
    "source_js_matrix",
    # 1-row day-count + 1-row median broadcast crosses (Q11 class), and
    # the 1-row gap-totals cross onto the minute grid (ks class)
    "orders_runs_test",
    "events_interarrival_exponentiality",
    # 16-row centroid broadcast cross (ivf_assign kernel) + 1-row
    # corpus-count broadcast
    "ann_centroid_balance",
    # corpus-total single row joined back to per-source rows (same shape)
    "domain_mixture",
    # composes domain_mixture, inheriting its single-row broadcast
    "domain_rebalance",
    # month-spine x 5-row priority dim: both sides aggregate-sized
    "orders_monthly_gapfill",
    # single-row total-count broadcast feeding the cnt*K > total filter
    "heavy_hitters",
    # single-row max-length broadcast feeding the weighted-sample gate
    "doc_weighted_sample",
    # single-row grand-total broadcast joining the contingency cells
    "source_lang_drift",
    # single-row vocab-size broadcast feeding the smoothing denominator
    "doc_perplexity",
    # single-row graph-stats x single-row triangle-count cross (1x1)
    "dedup_triangles",
    # 1-row OLS-stats broadcast crossed onto the <=10-row decile lattice
    "quality_platt_scaling",
    # integer-L2 brute truth (same documented baseline class as
    # ann_cosine_topk) and the PQ recall monitors that compose it
    "ann_l2_topk",
    "ann_pq_recall",
    "ann_pq_rerank_recall",
    # K-centroid broadcast cross of ivf_assign (bounded x K build side),
    # same shape as the allow-listed ann_ivf_topk
    "ann_ivf_kmeans_topk",
    "ann_ivf_kmeans_recall",
    # three single-row vocab cardinalities crossed into one summary row
    "vocab_overlap",
    # single-row (N, total_len) corpus stats broadcast into scoring rows
    "bm25_topk",
    # composes bm25_topk, inheriting its single-row stats broadcast
    "bm25_proximity_rerank",
    "retrieval_ndcg",
    # single-row total-token broadcast feeding the lift denominator
    "term_cooccurrence",
    # 1-row OLS coefficient frame broadcast onto the corpus for residuals
    "doc_length_outliers",
    # 1-row quantile-threshold frame broadcast for bucket assignment
    "doc_curriculum",
    # truncated-prefix brute search: same documented quadratic-baseline
    # class as ann_cosine_topk, plus its recall composition
    "ann_matryoshka_topk",
    "ann_matryoshka_recall",
    # compressed-scan tier (operators/quant.py): the SQ8/BQ scan IS a
    # full-corpus x N_QUERIES pass by design (the compression makes each
    # candidate cheap, not the candidate set small) — 10-row broadcast
    # build side, O(10N) like ann_cosine_topk; recalls compose ann_l2_topk
    "ann_sq8_topk",
    "ann_sq8_recall",
    "ann_bq_topk",
    "ann_bq_recall",
    "ann_bq_rerank",
    "ann_bq_rerank_recall",
    # IVFADC composes ivf_assign's K-centroid broadcast cross (the
    # allow-listed ann_ivf_kmeans_topk shape); the recall adds ann_l2_topk
    "ann_ivfpq_topk",
    "ann_ivfpq_recall",
    # composes bm25_topk, inheriting its single-row stats broadcast
    "retrieval_rrf_fusion",
    # single-row (nt, nr) feature-total broadcast feeding the score table
    "dsir_importance",
    # eval-bounded brute 1-NN scan (same documented class as ann_cosine_topk)
    "embedding_knn_accuracy",
    # inherits dsir_importance's single-row feature-total broadcast
    "dsir_auc",
    # single-row global-mean broadcast crossed into the K centroid rows
    "embedding_fisher_ratio",
    # single-row (total, n_keys) broadcast crossed into per-key counts
    "events_key_skew_report",
    # eval-bounded brute scan (ann_cosine_topk class) feeding window picks
    "embedding_triplets",
    # 1-row `converged` verdict aggregate broadcast-crossed onto the
    # component output (operators/dedup.py) — benign at any scale
    "dedup_kcore",
    # 1-row cluster-count broadcast crossed into the (cid, term) scores
    "cluster_topics",
    # 1-row corpus-totals broadcasts crossed into per-group shares
    # (the single-row-stats class: bm25/dsir/fisher above)
    "curation_yield_report",
    "customer_k_anonymity",
    "vocab_growth",
    # five 1-row per-edge summary frames, each crossing its 1-row orphan
    # aggregate before the union
    "referential_integrity_census",
    # three recall points, each inheriting the K-centroid broadcast
    # cross (the allow-listed ann_ivf_topk shape) + a 1-row candidate
    # total cross per point
    "ann_ivf_nprobe_curve",
    # 1-row gap-total broadcast crossed into the ~11 band rows
    "orders_gap_distribution",
    # 1-row population/revenue totals crossed into the band rows
    "customer_revenue_lorenz",
    # 1-row digit-total broadcast crossed into the 9 digit rows
    "lineitem_benford",
    # 1-row horizon (max order date) broadcast cross (Q11 shape)
    "customer_survival",
    # 1-row edge-count broadcast crossed into per-source rows
    "dedup_source_modularity",
    # 10-row lag dimension + 1-row acov_0 broadcast crosses over hour rows
    "events_periodicity",
    # eval-slice broadcast cross (the ann_cosine_topk brute class)
    "ann_filtered_topk",
    # eval-slice broadcast cross (the documented ann_cosine_topk /
    # embedding_knn_accuracy eval-bounded brute class)
    "embedding_intrinsic_dim",
    # 1-row total-weight broadcast crossed into the |sources| strata rows
    "doc_neyman_allocation",
    # month×month pair grid (~84² rows at ANY fact size — the bounded-
    # grain Theil-Sen discipline) + the 1-row pair-count broadcast
    "orders_theilsen_trend",
    # 5-row threshold dim broadcast-crossed over candidate pairs (the
    # lag-dim class: events_periodicity / ann_ivf_nprobe_curve)
    "dedup_threshold_curve",
    # 1-row revenue-total broadcast crossed into the ~45 band rows
    "orders_abc_classification",
    # 1-row class-prior broadcast crossed into the scored docs (the
    # single-row-stats class: bm25/dsir/fisher above); the calibration
    # diagram inherits the identical scoring subtree
    "quality_nb_classifier",
    "quality_nb_calibration",
    # inherits the scoring subtree above PLUS the PAV minimax lattice:
    # a (j <= l) inequality join over a localCheckpointed <=10-row decile
    # frame (<=100 interval rows — the aggregate-sized BNLJ class)
    "quality_isotonic_calibration",
    # segment-pair grid: |types| x |types| where both sides are
    # aggregate-sized segment summaries (the month-spine class:
    # orders_monthly_gapfill above)
    "events_theta_overlap",
    # 1-row majority-baseline broadcast crossed onto the holdout (the
    # single-row max-date / Q11 class)
    "events_next_event_prediction",
    # variants x edges tagged chain (~5 x ~40 rows, both aggregate-sized)
    # + the 1-row FULL-chain conversion cross — the month-spine class
    "events_markov_attribution_removal",
    # K-row centroid broadcast cross per Lloyd round (the allow-listed
    # ivf_assign shape) + two 1-row axis-max broadcasts
    "customer_rfm_segments",
    # 1-row population-totals broadcast crossed into the K cluster rows
    "embedding_centroid_drift",
    # class-list x band-dim grid completion (both aggregate-sized) + the
    # 1-row corpus-total broadcast — the month-spine class
    "customer_t_closeness",
    # 1-row truth-total broadcast crossed into the 3 strategy rows
    "dedup_strategy_comparison",
    # composes the markov removal chain (allow-listed above) + a 1-row
    # method-totals broadcast cross
    "events_attribution_comparison",
    # two 1-row token-totals broadcasts crossed into the vocab rows
    # (the single-row-stats class)
    "doc_split_js_divergence",
}


def _newest_green_reference() -> dict[str, int]:
    """Reference read of the committed CORRECTNESS_rN.json records, kept
    apart from the registry's own: key -> newest round N whose row passed
    rows, schema and hash."""
    out: dict[str, int] = {}
    for path in _ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        for key, row in json.loads(path.read_text()).items():
            if all(row.get(c) is True for c in _CHECKS):
                out[key] = max(out.get(key, 0), int(m.group(1)))
    return out


def _registration_order() -> list[str]:
    return [k for m in registry._MODULES for k in m.QUERIES]


def test_registry_verified_prefix_all_oracled():
    """External correctness harnesses check a bounded prefix of the
    registry in iteration order; rows-only keys must never displace a
    fully-oracled query from that prefix. As of r06 every registered key
    carries a full oracle (the last rows-only keys — media_features and
    the bpe pair — were upgraded to exploded-integer / invariant-verdict
    renderings), so the prefix is all-oracled by construction; pin that
    so a future rows-only addition can't silently displace coverage."""
    q = list(registry.queries())
    o = registry.oracle_sql()
    assert all(k in o for k in q[:50]), "rows-only key inside first 50"
    no_oracle = [k for k in q if k not in o]
    if no_oracle:  # all rows-only keys must sit at the global tail
        assert q[-len(no_oracle):] == no_oracle
    # Never-confirmed full-oracle keys must lead — the round's 50-slot
    # window converts replica claims into official driver proof.
    green = _newest_green_reference()
    unconfirmed = [k for k in q if k in o and k not in green]
    assert q[: len(unconfirmed)] == unconfirmed, (
        "a confirmed key displaced an unconfirmed one from the window"
    )


def test_registry_rotation_contract():
    """Pin the rotation CONTRACT against the committed records, not a
    round's literal key list: over the oracled keys of queries(), the
    newest green round (0 if never green) never decreases — never-confirmed
    keys lead, then the stalest records — and ties keep _MODULES
    registration order. Every registered key is still returned."""
    q = list(registry.queries())
    o = registry.oracle_sql()
    registered = _registration_order()
    assert sorted(q) == sorted(registered)
    green = _newest_green_reference()
    pos = {k: i for i, k in enumerate(registered)}
    oracled = [k for k in q if k in o]
    keys = [(green.get(k, 0), pos[k]) for k in oracled]
    assert keys == sorted(keys), "the window is not stalest-first"
    assert all(k in o for k in q[:50])


def test_registry_rotation_from_records(tmp_path, monkeypatch):
    """The derivation reads whatever records sit at a root: a row with any
    check false confirms nothing, no records means every key is
    never-confirmed, and a newer record moves its keys to the tail."""
    window = list(registry.queries())[:50]
    ok = dict.fromkeys(_CHECKS, True)
    synth = tmp_path / "synth"
    synth.mkdir()
    (synth / "CORRECTNESS_r01.json").write_text(json.dumps({
        "a": ok,
        **{k: {**ok, c: False} for k, c in zip("bcd", _CHECKS)},
    }))
    (synth / "CORRECTNESS_r02.json").write_text(
        json.dumps({"a": {**ok, "hash_match": False}, "e": ok})
    )
    (synth / "CORRECTNESS_r03_c8.json").write_text(json.dumps({"f": ok}))
    assert registry.latest_green(synth) == {"a": 1, "e": 2}

    none = registry.latest_green(tmp_path / "none")
    monkeypatch.setattr(registry, "_LATEST_GREEN", none)
    assert list(registry.queries()) == _registration_order()

    newer = tmp_path / "newer"
    newer.mkdir()
    for src in _ROOT.glob("CORRECTNESS_r*.json"):
        (newer / src.name).write_text(src.read_text())
    (newer / "CORRECTNESS_r99.json").write_text(json.dumps(dict.fromkeys(window, ok)))
    monkeypatch.setattr(registry, "_LATEST_GREEN", registry.latest_green(newer))
    q = list(registry.queries())
    pos = {k: i for i, k in enumerate(_registration_order())}
    assert q[-50:] == sorted(window, key=pos.__getitem__)
    assert not set(q[:50]) & set(window)


def test_plan_hygiene_all_queries(spark, sf_dir):
    """Whole-registry plan battery: no cartesian products anywhere, and
    nested-loop joins only where the operator is an intentional
    quadratic baseline.

    r12: plans build on a thread pool — planning 311 queries one at a
    time was the single slowest test (264 s; iterative builders run
    real jobs during construction), and the checks are per-key
    independent. Same keys, same assertions.
    """
    from concurrent.futures import ThreadPoolExecutor

    def check(item):
        key, fn = item
        plan = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        out = []
        if "CartesianProduct" in plan:
            out.append(f"{key}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and key not in _BNLJ_ALLOWED:
            out.append(f"{key}: unexpected BroadcastNestedLoopJoin")
        return out

    with ThreadPoolExecutor(max_workers=8) as pool:
        problems = [p for ps in pool.map(check, registry.queries().items()) for p in ps]
    assert not problems, problems


def test_sql_and_dataframe_frontends_agree(spark, sf_dir):
    """spark.sql and the DataFrame API must produce identical results for
    the same logical query (Catalyst compiles both to one plan space)."""
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark import registry
    from maap_data_pipelines_spark.sources.catalog import read_table

    sql_rows = {
        r.nation: (r.n_buyers, r.revenue_cents)
        for r in registry.queries()["sql_revenue_by_nation"](spark, sf_dir).collect()
    }
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    df_rows = {
        r.nation: (r.n_buyers, r.revenue_cents)
        for r in (
            orders.join(customer, orders.o_custkey == customer.c_custkey)
            .join(nation, customer.c_nationkey == nation.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(
                F.countDistinct("o_custkey").alias("n_buyers"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                    "revenue_cents"
                ),
            )
            .collect()
        )
    }
    assert sql_rows == df_rows and sql_rows


def test_join_strategy_hints_agree(spark, sf_dir):
    """Strategy coverage: the same equi-join under broadcast / shuffle-hash /
    merge hints produces identical results, and each hint is honored —
    the knob used when AQE's default pick is wrong for a known workload."""
    from maap_data_pipelines_spark.sources.catalog import read_table

    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )

    def run(hint):
        r = lineitem.join(
            orders.hint(hint), lineitem.l_orderkey == orders.o_orderkey
        )
        plan = r._jdf.queryExecution().executedPlan().toString()
        return r.count(), plan

    n_b, p_b = run("broadcast")
    n_h, p_h = run("shuffle_hash")
    n_m, p_m = run("merge")
    assert n_b == n_h == n_m > 0
    assert "BroadcastHashJoin" in p_b
    assert "ShuffledHashJoin" in p_h
    assert "SortMergeJoin" in p_m


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """DPP pin: a partitioned fact joined to a filtered dim must prune
    fact partitions at RUNTIME via the dim's build side (the broadcast
    result reused as a partition filter). At 100 TB this is the difference
    between scanning one month and scanning the table — free with
    Catalyst, but only if the layout is partitioned and the join is
    broadcast-able, so the shape is pinned here."""
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark.sources.catalog import read_table

    fact_dir = str(tmp_path / "orders_by_prio")
    read_table(spark, sf_dir, "orders").write.partitionBy(
        "o_orderpriority"
    ).mode("overwrite").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    # DPP requires a SELECTIVE predicate on the dim side of a scan (a
    # bare LocalRelation does not qualify) — a filtered parquet dim is
    # the realistic shape anyway
    dim_dir = str(tmp_path / "prio_dim")
    spark.createDataFrame(
        [("1-URGENT", "urgent"), ("2-HIGH", "high"), ("5-LOW", "low")],
        "o_orderpriority string, label string",
    ).write.mode("overwrite").parquet(dim_dir)
    dim = spark.read.parquet(dim_dir).filter(F.col("label") == "urgent")
    joined = fact.join(F.broadcast(dim), "o_orderpriority").groupBy("label").count()
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert joined.collect()[0]["label"] == "urgent"


def test_batch_session_window_matches_lag_sessionize(spark, sf_dir):
    """Unified-API pin: Spark's built-in session_window (the streaming
    sessionizer) applied in BATCH must agree with the lag+running-sum
    formulation events_sessionize uses — same gap, same session counts."""
    from pyspark.sql import functions as F

    from maap_data_pipelines_spark import registry
    from maap_data_pipelines_spark.plans.events import read_events

    ev = read_events(spark, sf_dir).withColumn(
        "ts_batch", F.timestamp_micros(F.col("ts_us"))
    )
    sw = (
        ev.groupBy("user_id", F.session_window("ts_batch", "30 minutes"))
        .count()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    got = {r.user_id: r.n_sessions for r in sw.collect()}
    want = {
        r.user_id: r.n_sessions
        for r in registry.queries()["events_sessionize"](spark, sf_dir).collect()
    }
    assert got == want


def test_cuped_plan_is_two_aggregates_no_joins(spark, sf_dir):
    """events_cuped's 100TB contract: one corpus scan, the per-user
    partial/final aggregate, one single-row global aggregate — exactly
    two Exchanges, zero joins, zero windows."""
    plan = _physical(spark, "events_cuped", sf_dir)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") - plan.count("ReusedExchange") == 2
    assert plan.count("Scan parquet") == 1


def test_isotonic_lattice_runs_on_checkpointed_deciles(spark, sf_dir):
    """quality_isotonic_calibration's corpus-sized work is exactly the
    inherited classifier pass: the PAV lattice join consumes the
    localCheckpointed <=10-row decile frame (ExistingRDD scans), so the
    corpus parquet is scanned only by the (pre-checkpoint) scoring
    lineage — the registered plan itself reads NO parquet."""
    plan = _physical(spark, "quality_isotonic_calibration", sf_dir)
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan  # corpus paid once, at checkpoint time


def test_cuped_stratified_plan_shape(spark, sf_dir):
    """events_cuped_stratified's 100TB contract: one corpus scan, the
    per-user aggregate, the tiny per-stratum aggregate, the final sort —
    at most three Exchanges, zero joins, zero windows (events_cuped's
    pinned shape plus one stratum-grain shuffle of <= ~12 rows)."""
    plan = _physical(spark, "events_cuped_stratified", sf_dir)
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange") - plan.count("ReusedExchange") <= 3
    assert plan.count("Scan parquet") == 1


def test_platt_plan_runs_on_checkpointed_deciles(spark, sf_dir):
    """quality_platt_scaling's corpus-sized work is exactly the inherited
    classifier pass: both the platt OLS branch and the isotonic lattice
    consume the lazily checkpointed <=10-row decile frame (ExistingRDD
    scans), so the registered plan itself reads NO parquet, and both
    decile-grain joins broadcast."""
    plan = _physical(spark, "quality_platt_scaling", sf_dir)
    assert "Scan ExistingRDD" in plan
    assert "Scan parquet" not in plan  # corpus paid once, at checkpoint time
    assert "SortMergeJoin" not in plan
