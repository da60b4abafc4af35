"""Physical-plan assertions (SURVEY.md §5.2): the scale guarantees are only
real if the explain() shows them. These lock in:

* predicate pushdown reaching the parquet scan (PushedFilters)
* column pruning (ReadSchema limited to selected columns)
* broadcast joins for dimension tables
* TakeOrderedAndProject for global top-k (no full sort)
* whole-stage codegen on the hot relational path (no Python in the plan)
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE

_QUERIES = entrymod.queries()


def plan_of(spark, name: str) -> str:
    return _QUERIES[name](spark, SF_ORACLE)._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_scan_pushdown(spark):
    df = _QUERIES["scan_partition_prune"](spark, SF_ORACLE)
    s = formatted(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in s, s


def test_scan_column_pruning(spark):
    df = _QUERIES["scan_project"](spark, SF_ORACLE)
    s = formatted(df)
    read_schema = next(l for l in s.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in read_schema and "l_extendedprice" in read_schema
    assert "l_shipdate" not in read_schema  # untouched columns never read


def test_star_join_broadcasts_dims(spark):
    s = plan_of(spark, "join_multiway")
    assert "BroadcastHashJoin" in s
    # the only non-broadcast join may be lineitem⋈orders (AQE may still
    # demote it to broadcast at this sf) — no nested-loop anywhere
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_broadcast_hint_honored(spark):
    s = plan_of(spark, "join_broadcast")
    assert "BroadcastHashJoin" in s


def test_topk_is_take_ordered(spark):
    s = plan_of(spark, "topk_global")
    assert "TakeOrderedAndProject" in s


def test_semi_anti_join_shapes(spark):
    assert "LeftSemi" in plan_of(spark, "join_semi")
    assert "LeftAnti" in plan_of(spark, "join_anti")


def test_hot_path_has_no_python(spark):
    """P0 relational operators must stay JVM-side (no BatchEvalPython /
    ArrowEvalPython / FlatMapGroupsInPandas in the plan)."""
    for name in ["agg_scan_group", "join_multiway", "win_rownum_topk", "topk_global"]:
        s = plan_of(spark, name)
        for marker in ["BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas"]:
            assert marker not in s, f"{name} crosses the Python boundary: {marker}"


def test_wholestage_codegen_on_q1(spark):
    df = _QUERIES["agg_scan_group"](spark, SF_ORACLE)
    df.collect()  # AQE finalizes the plan (and codegen spans) on execution
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "*(1)" in s, s  # whole-stage-codegen span markers
    # partial (map-side) aggregation before the shuffle
    assert "partial_sum" in s


def test_interval_join_is_equi_not_cartesian(spark):
    s = plan_of(spark, "join_self_interval")
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_table_statistics_for_cbo(spark):
    """ANALYZE TABLE feeds the cost-based optimizer: row count and column
    stats must land in the catalog (what CBO join reordering reads)."""
    import shutil as _sh
    import os as _os

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS nation_stats")
    _sh.rmtree(_os.path.join(warehouse, "nation_stats"), ignore_errors=True)
    from highspeedrailwaybigdatasystem_spark.schemas import load

    load(spark, SF_ORACLE, "nation").write.saveAsTable("nation_stats")
    spark.sql("ANALYZE TABLE nation_stats COMPUTE STATISTICS FOR ALL COLUMNS")
    detail = spark.sql("DESCRIBE TABLE EXTENDED nation_stats").toPandas()
    stats_row = detail[detail.col_name == "Statistics"]
    assert not stats_row.empty and "25 rows" in stats_row.data_type.iloc[0]
    col_detail = spark.sql(
        "DESCRIBE TABLE EXTENDED nation_stats n_nationkey"
    ).toPandas()
    got = dict(zip(col_detail.info_name, col_detail.info_value))
    assert got.get("distinct_count") == "25"


def test_bucketed_join_has_no_shuffle(spark):
    """Co-located bucketed join: neither side may re-shuffle on the join
    key (broadcast disabled to force the sort-merge path the buckets
    exist for)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _QUERIES["sink_bucketed"](spark, SF_ORACLE)
        s = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in s, s
        # the only exchange allowed is the final groupBy, not the join:
        # no hashpartitioning on the join key below the join
        join_part = s.split("SortMergeJoin")[1]
        assert "Exchange hashpartitioning(l_orderkey" not in join_part, s
        assert "Exchange hashpartitioning(o_orderkey" not in join_part, s
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_full_surface_plan_hygiene(spark):
    """Every batch operator's physical plan is free of accidental
    cartesian products and row-at-a-time Python.

    Allowlists are the ops where the shape is intentional:
    * BNLJ — bounded broadcast cross joins (probe vectors, 1-row aggs,
      theta joins, the cross-pair dimension walk).
    * BatchEvalPython — the two ops whose very point is the Python row
      path (the explicit slow-path example and the UDTF).
    A CartesianProduct (non-broadcast full cartesian) is never acceptable.
    """
    from highspeedrailwaybigdatasystem_spark.registry import all_queries

    import re

    BNLJ_OK = {
        "join_cross", "join_theta_range", "llm_ivf_ann", "llm_sim_topk",
        "llm_ivf_index_persist",  # 1-row probe-vector broadcast over the
                                  # nprobe-pruned stored lists (same shape
                                  # as llm_ivf_ann's probe cross)
        # 1-row aggregate crossJoins:
        "ts_funnel", "etl_dq_audit", "llm_source_mixture", "llm_perplexity_proxy",
        "llm_perplexity_buckets",  # same 1-row unigram-total broadcast as proxy
        "llm_dsir_importance",     # 64-row feature table × 1-row totals broadcast
        "ml_pr_auc_trapezoid",     # 1-row positives-total broadcast (ROC pattern)
        "llm_doremi_reweight_step",  # 1-row unigram-total / min-NLL / weight-sum broadcasts
        "win_exponential_decay_score",  # 1-row max-ts anchor broadcast
        "agg_benjamini_hochberg",  # 1-row global-mean broadcast
        "agg_lift_gain_table",     # 1-row totals broadcast
        "llm_mixture_temperature", # 1-row corpus-total + weight-sum broadcasts
        "llm_curriculum_buckets",  # 1-row quartile-cutpoint broadcast
        "llm_ann_recall_eval",     # bounded eval-probe-set × corpus broadcast
        "llm_ann_lsh",             # 1-row probe-embedding broadcast (r13
                                   # recall audit; exact side of recall@10)
        "agg_hll_sketch",          # 1-row union-sketch × 1-row global-exact
                                   # crossJoin (r13 bounded-error audit form)
        "mm_embed_sim_stub",       # 1-row probe-vector broadcast
        "llm_oversample_minority", # 1-row majority-count broadcast
        "llm_kl_divergence_split", # 1-row distribution-total broadcast
        "etl_missing_partition_detect",  # |types|×|days| literal spine build
        "llm_vocab_coverage",      # 4-row K-marks theta join, broadcast
        "llm_bm25_retrieval",      # 1-row corpus-stats (N, avgdl) broadcast
        "ts_rfm_segmentation",     # 1-row median-cutpoint broadcast
        "llm_importance_resample", # 1-row min-lang-count broadcast
        "llm_semdedup_centroid",   # 16-row centroid broadcast (IVF pattern)
        "llm_knn_all",             # 16-row centroid broadcast (IVF-bucketed
                                   # within-cell k-NN, round 11)
        "ml_knn_classifier_eval",  # composes llm_knn_all's centroid BNLJ
        "llm_semdedup_sqrtn",      # sqrt(N_reps)-row centroid broadcast (IVF
                                   # assignment grain — bounded at k ~ sqrt(N))
        "ml_naive_bayes_langid",   # 5-row lang-totals + 1-row vocab broadcast
        "ml_decision_stump",       # 9-row threshold-grid broadcast
        "llm_epoch_repetition_plan",  # 1-row corpus-total broadcast
        "llm_mmr_diverse_topk",    # 1-row probe-vector broadcast (top-20 scan)
        "agg_benford_deviation",   # 1-row digit-total broadcast
        "agg_chi_square_independence",  # 1-row grand-total broadcast
        "ml_roc_auc",              # 1-row P/N-totals broadcast
        "ml_confusion_matrix_multiclass",  # 16-row centroid broadcast (IVF)
        "llm_hard_negative_mining",  # 1-row anchor broadcast (top-k scan)
        "llm_rag_context_pack",    # 1-row probe broadcast (top-20 scan)
        "llm_data_scaling_curve",  # 4-row cut grid + (cut x lang) model broadcasts
        "ml_silhouette_simplified",  # 16-row centroid broadcast (IVF pattern)
        "agg_poisson_bootstrap_ci",  # 32-row replicate-grid broadcast
        "agg_simpsons_paradox_audit",  # 1-row pooled-slope broadcast
        "ml_calibration_ece",      # 1-row bin-total broadcast
        "llm_curation_funnel",     # 1-row raw-count broadcast
        "agg_ks_test_two_sample",  # 1-row group-totals broadcast
        "llm_collocation_pmi",     # 1-row bigram-total broadcast
        "agg_anova_oneway",        # 1-row grand-mean/totals broadcast
        "agg_levene_test",         # 1-row grand-mean/totals broadcast (on |z|)
        "agg_js_divergence",       # 1-row distribution-totals broadcast
        "llm_idf_weighted_jaccard",  # 1-row corpus-N broadcast into idf
        "llm_lsh_tuning_curve",    # 6-row (b,r) literal grid broadcast
        "llm_packing_efficiency_curve",  # 4-row context-length grid broadcast
        "ml_ndcg_at_k",            # 5-row probe-vector broadcast (ANN-eval
                                   # pattern) + 10-row IDCG grid
        "ml_kfold_assignment",     # 1-row corpus-total broadcast
        "ml_fuzzy_cmeans_step",    # 1-row membership-mass-total broadcast
        "ts_cross_correlation",    # 4-row lag grid × day-grain (≤31-row) series
        "ml_boosted_stumps_2round",  # 9-row threshold-grid + 1-row stump broadcasts
        "agg_kendall_tau",         # day-grain (≤31-row) pair theta join + 1-row totals
        "llm_perplexity_filter",   # 1-row vocab-size + corpus-mean broadcasts
        "geo_grid_density",        # 1-row point-total broadcast
        "agg_cronbach_alpha",      # 5-row event-type spine + 1-row total-var broadcasts
        "ts_hurst_rs",             # 3-row block-size grid × ≤31-row day grain + 1-row slope
        "agg_hellinger_distance",  # 1-row corpus-total broadcast over ≤src×10 bucket cells
        "ts_permutation_entropy",  # 1-row total broadcast over ≤13 pattern rows
        "etl_k_anonymity_audit",   # 4-row k-grid × ≤125 QI classes + 1-row totals
        "agg_tukey_hsd",           # 1-row MSW broadcast over the 10 pair rows
        "agg_hill_tail_index",     # 1-row threshold broadcast over the 100-row tail
        "ts_changepoint_binseg",   # 1-row totals broadcast over ≤31 candidate rows
        "ts_dft_power_topk",       # 6-row period grid × ≤31-row day grain
        "ts_ljung_box",            # 7-row lag grid × ≤31-row day grain + 1-row totals
        "ts_variance_ratio",       # 3-row q grid × ≤31-row day grain + 1-row base
        "ml_two_proportion_ztest", # 1-row control × 1-row treatment algebra
        "ml_beta_binomial_shrinkage",  # 1-row MoM prior × 5 segment rows
        "ml_ridge_regression_grid",    # 4-row λ grid × 1-row sufficient stats
        "ml_elbow_k_sweep",        # 3-row k grid + 1-row extrema × level grain
        "ml_cohens_kappa",         # 1-row median broadcast into the rating scan
        "etl_bin_packing_plan",    # 1-row total/target broadcast over ≤31 day rows
        "etl_freshness_sla_audit", # 1-row watermark broadcast over |types| rows
        "llm_truncation_loss_curve",  # 4-row context-limit grid broadcast
        "agg_hash_uniformity_chisq",  # 1-row totals broadcast over 256 buckets
        "llm_simhash_fp_audit",    # 4-row band-index grid × doc-grain codes
        "llm_token_budget_allocator",  # 1-row budget/excess broadcasts over |sources|
        "ml_learning_curve_stump", # 4×9 literal grid broadcast over the fact scan
        "ml_pinball_quantile_eval", # 1-row quantile broadcast into the scoring scan
        "agg_kmv_distinct_estimate",  # 1-row kth-hash/truth broadcasts
        "agg_largest_remainder_allocation",  # 1-row total/shortfall broadcasts
        "ml_gini_auc_identity",    # 1-row totals × concordance broadcasts
    }
    ROWPY_OK = {"udf_python_scalar", "udtf_python", "udtf_analyze_polymorphic"}
    # Unpartitioned windows single-task the whole input at scale; only OK
    # when the window's input is already aggregated to a bounded grain:
    GLOBALWIN_OK = {
        "win_moving_avg",    # over daily rollup — |days| rows
        "ts_seasonal_ma",    # over daily rollup — |days| rows
        "tpch_q15",          # global max over per-supplier revenue (Q15 shape)
        "llm_hash_split",    # share-of-total over a 3-row split aggregate
        # win_pareto_abc / agg_gini_concentration left this list in round 4:
        # both now reconstruct exact global ranks/prefix sums via the
        # _range_prefix offsets pattern (windows partitioned by _pid only).
        "ml_roc_auc",        # over DISTINCT SCORE LEVELS — ≤49k rows by
                             # construction (two-decimal score domain)
        "agg_ks_test_two_sample",  # ECDF window over the same bounded level grain
        "agg_mann_whitney_u",  # midrank window over the two-decimal level grain
        "ml_pr_auc_trapezoid",  # PR curve over the two-decimal level grain
        "ts_changepoint_mean_shift",  # cumulative scan over the HOUR grain — |hours| rows
        "ts_peak_detection",  # lag/lead over the same bounded HOUR grain
        "agg_benjamini_hochberg",  # rank over the |event_type| test family
        "agg_lift_gain_table",  # cumulative window over the half-unit score levels
        "llm_rag_context_pack",  # rank + running sum over the LIMIT-20 set
        "win_rolling_corr",  # 7-day corr frame over the daily rollup — |days| rows
        "etl_ttl_retention_audit",  # cumulative window over the DAY grain — |days| rows
        "agg_cramers_v",     # marginals over the |r×c| contingency cells — ≤35 rows
        "ts_sprt_sequential",  # running LLR over the DAY grain — ≤31 rows
        "win_rsi",           # lag + 14-row frame over the DAY grain — ≤31 rows
        "win_stochastic_oscillator",  # 14-row extrema frames over the DAY grain — ≤31 rows
        "ts_permutation_entropy",  # two lags over the DAY grain — ≤31 rows
        "ml_dbscan_1d",      # gap-split windows over the dollar-level DOMAIN grain — ≤11k rows
        "ts_hurst_rs",       # row_number over the DAY grain — ≤31 rows
        "ts_ljung_box",      # row_number over the DAY grain — ≤31 rows
        "ts_dft_power_topk", # row_number over the DAY grain — ≤31 rows
        "ts_changepoint_binseg",  # prefix-sum windows over the DAY grain
        "ts_variance_ratio", # row_number over the DAY grain — ≤31 rows
        "etl_bin_packing_plan",  # prefix-sum window over the DAY grain — ≤31 rows
        "ts_stl_decompose_additive",  # centered-MA window over the DAY grain
        "ts_forecast_eval_naive",     # row_number over the DAY grain — ≤31 rows
        "ml_chi2_feature_ranking",    # rank over the 3-row feature family
        "agg_largest_remainder_allocation",  # rank over the 5-row segment grain
        "ml_gini_auc_identity",    # cumulative windows over the two-decimal
                                   # score-level grain (ml_roc_auc discipline)
        "llm_dup_partner_degree_dist",  # cumulative window over the
                                        # |degrees|-row histogram grain
        "agg_market_basket_lift",  # order total + brand map over the
                                   # <=1+B(B+1)/2-row brand-pair grain
    }
    # windowspecdefinition(...) whose first argument is already a sort order
    # (or the frame itself) has no partition columns => global window.
    _global_win = re.compile(
        r"windowspecdefinition\((?:[^(,]+ (?:ASC|DESC)|specifiedwindowframe)"
    )
    failures = []
    for name, fn in sorted(all_queries().items()):
        if name.startswith("stream_"):
            continue  # streaming plans are asserted in their own tests
        df = fn(spark, SF_ORACLE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_OK:
            failures.append(f"{name}: unexpected BNLJ")
        if "BatchEvalPython" in plan and name not in ROWPY_OK:
            failures.append(f"{name}: unexpected row-Python")
        if _global_win.search(plan) and name not in GLOBALWIN_OK:
            failures.append(f"{name}: unpartitioned window over unbounded input")
    assert not failures, failures


def test_market_basket_is_one_uncached_query(spark):
    """agg_market_basket_lift is a single spark.sql: building it runs no
    Spark job, and its plan reads no cache and has no nested-loop join
    (the n/s/pr joins became a window over the brand-grain aggregate).
    Its brand pairs come from two posexplode generators, not from
    interpreted higher-order-function lambdas."""
    from highspeedrailwaybigdatasystem_spark.schemas import ensure_views

    ensure_views(spark, SF_ORACLE)
    sc = spark.sparkContext
    group = "basket_build"
    sc.setJobGroup(group, group)
    try:
        df = _QUERIES["agg_market_basket_lift"](spark, SF_ORACLE)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    assert "lambdafunction" not in final, final
    assert final.count("Generate posexplode(") == 2, final


def test_dynamic_partition_pruning(spark):
    """scan_dpp joins a year-partitioned fact on its partition column
    against a filtered dim: the scan must carry a dynamicpruning
    subquery (runtime directory skipping), not a static-only filter."""
    s = plan_of(spark, "scan_dpp")
    assert "dynamicpruning" in s.lower(), s[:2000]


def test_tpch_q6_full_pushdown(spark):
    """Q6 is the canonical pushdown probe: every filter must reach the
    parquet scan, and the ReadSchema must shrink to the 4 used columns."""
    df = _QUERIES["tpch_q06"](spark, SF_ORACLE)
    s = formatted(df)
    pushed = next(l for l in s.splitlines() if "PushedFilters" in l)
    for col in ["l_shipdate", "l_discount", "l_quantity"]:
        assert col in pushed, pushed
    read_schema = next(l for l in s.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema  # untouched columns never read


def test_tpch_topk_frontiers_are_take_ordered(spark):
    """Q3/Q10/Q18's LIMIT must plan as TakeOrderedAndProject (streamed
    per-partition top-k + driver merge), never a global sort."""
    for name in ["tpch_q03", "tpch_q10", "tpch_q18"]:
        s = plan_of(spark, name)
        assert "TakeOrderedAndProject" in s, f"{name}: {s}"


def test_tpch_q8_star_broadcasts_every_dim(spark):
    """The 7-table Q8 star leaves exactly one shuffled fact join:
    part/customer/supplier/nation×2/region all broadcast."""
    s = plan_of(spark, "tpch_q08")
    assert s.count("BroadcastHashJoin") >= 6, s
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_tpch_q4_exists_is_semi_join(spark):
    s = plan_of(spark, "tpch_q04")
    assert "LeftSemi" in s, s


def test_parquet_aggregate_pushdown(spark):
    """scan_agg_pushdown's COUNT/MIN/MAX must be answered from parquet
    footer statistics: DSv2 BatchScan with a PushedAggregation entry."""
    from pyspark.sql import functions as F

    prev_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set("spark.sql.sources.useV1SourceList", "")
    try:
        df = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").agg(
            F.count(F.lit(1)), F.min("l_orderkey"), F.max("l_orderkey")
        )
        s = formatted(df)
        assert "PushedAggregation: [COUNT(*), MIN(l_orderkey), MAX(l_orderkey)]" in s, s
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev_agg)
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)


def test_bloom_filter_join_injection(spark):
    """join_bloom_filter's selective dim filter must inject a runtime
    bloom filter that prunes the fact scan: bloom_filter_agg on the
    creation side, might_contain on the application side."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").where(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 400000)
        )
        l = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        j = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:3000]
        assert "might_contain" in plan, plan[:3000]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_lateral_join_decorrelates_to_window(spark):
    """sql_lateral_join's correlated LATERAL LIMIT subquery must NOT
    execute as a per-row nested loop: Catalyst decorrelates it into a
    window (rank/row_number filter) over a single join-free pass or an
    equi-join — never a CartesianProduct/BNLJ."""
    from highspeedrailwaybigdatasystem_spark.registry import all_queries

    df = all_queries()["sql_lateral_join"](spark, SF_ORACLE)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in s, s[:2000]
    assert "BroadcastNestedLoopJoin" not in s, s[:2000]
    assert "Window" in s, s[:2000]


def test_bloom_dedup_probe_is_broadcast(spark):
    """llm_incremental_bloom_dedup's bitmap membership probe must be a
    BroadcastHashJoin against the tiny word table (corpus-size-independent
    traffic) — if the bitmap ever shuffles the batch side by word index
    the design premise is gone."""
    from highspeedrailwaybigdatasystem_spark.registry import all_queries

    df = all_queries()["llm_incremental_bloom_dedup"](spark, SF_ORACLE)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in s, s[:2000]
    assert "CartesianProduct" not in s, s[:2000]


def test_zorder_layout_is_two_aggs_no_sort(spark):
    """etl_zorder_layout measures layouts with bucket aggregations — the
    plan must contain no global Sort of the fact table (the audit never
    needs to physically re-order events).

    Physical plan toString prints sort nodes as ``Sort [keys], <global>, 0``
    (no ``Exec`` suffix), where the boolean is the global flag — a global
    sort-the-world shape is ``Sort [...], true, 0``; SortMergeJoin's local
    child sorts print ``false`` and are allowed."""
    import re

    from highspeedrailwaybigdatasystem_spark.operators._util import t
    from highspeedrailwaybigdatasystem_spark.registry import all_queries

    global_sort = re.compile(r"\bSort \[[^\]]*\], true,")

    # Control: prove the pattern CAN fire — a plan with an orderBy must match.
    sorted_plan = (
        t(spark, SF_ORACLE, "events")
        .orderBy("ts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert global_sort.search(sorted_plan), sorted_plan[:2000]

    df = all_queries()["etl_zorder_layout"](spark, SF_ORACLE)
    s = df._jdf.queryExecution().executedPlan().toString()
    assert not global_sort.search(s), s[:2000]
    assert "HashAggregate" in s, s[:2000]


def test_cached_stage_substitution_holds(spark):
    """Round-4 finding: WITH-CTE definitions are not rewritten by
    CacheManager's cached-plan substitution, so a CTE query over a cached
    temp view silently recomputes the staged subtree. The two staged
    operators must keep their final queries CTE-free — pinned by requiring
    InMemoryTableScan at every reference."""
    from highspeedrailwaybigdatasystem_spark.registry import all_queries

    expected = {
        "graph_common_neighbors": 5,   # undirected edges ×5
        "ml_naive_bayes_langid": 6,    # tokenized corpus ×6
    }
    qs = all_queries()
    for name, at_least in expected.items():
        plan = (
            qs[name](spark, SF_ORACLE)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        got = plan.count("InMemoryTableScan")
        assert got >= at_least, f"{name}: {got} InMemoryTableScan < {at_least}"


def test_minhash_banding_plan_reads_no_cache_and_keeps_shingles_up(spark):
    """llm_minhash_banding caches nothing (AQE's runtime statistics pick
    the verify joins' strategy), so its plan has no InMemoryTableScan. The
    shuffle(array(..)) pin on the shingle array keeps the size(shs) > 0
    filter inferred for explode(shs) above the shingle projection: a
    Filter whose condition contains transform( means the shingle lambda
    was pushed down to the documents scan, where it re-splits the text
    once per shingle (quadratic per document)."""
    fresh = _QUERIES["llm_minhash_banding"].__wrapped__
    df = fresh(spark, SF_ORACLE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan
    pushed = [
        line
        for line in plan.splitlines()
        if "Filter" in line and "transform(" in line
    ]
    assert pushed == [], "\n".join(pushed)


@pytest.mark.parametrize(
    "op",
    ["llm_minhash_banding", "llm_containment_banded", "llm_minhash_jaccard_estimate"],
)
def test_minhash_ops_stage_nothing(spark, op):
    """The three MinHash-LSH ops build on the same uncached frames
    (llm_dedup._minhash_frames), passed to spark.sql as DataFrame
    arguments whose temp views are dropped after analysis. Building one
    launches no Spark job and leaves no session-global view behind (they
    used to leave __mh_*, __cb_* and __mhe_* views), and its executed plan
    reads no cache."""
    from highspeedrailwaybigdatasystem_spark.schemas import ensure_views

    def temp_views():
        return {t.name for t in spark.catalog.listTables() if t.isTemporary}

    ensure_views(spark, SF_ORACLE)
    spark.catalog.clearCache()
    before = temp_views()
    fn = _QUERIES[op]
    sc = spark.sparkContext
    group = f"minhash_build_{op}"
    sc.setJobGroup(group, group)
    try:
        df = getattr(fn, "__wrapped__", fn)(spark, SF_ORACLE)
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [], f"{op}: {len(jobs)} Spark jobs at build"
    after = temp_views()
    assert after == before, sorted(after - before)
    assert not [v for v in after if v.startswith(("__mh_", "__cb_", "__mhe_"))]
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan


def test_simhash_audit_groups_representatives_once(spark):
    """llm_simhash_fp_audit reads its (source, text) representatives
    twice: for the SimHash codes and for the shingle sets. Both reads carry
    the same filters on the grouping keys, so they plan alike and AQE runs
    the representatives' exchange once and reuses it for the other read
    (each read used to push its own filter below the aggregate)."""
    import re

    fn = _QUERIES["llm_simhash_fp_audit"]
    df = getattr(fn, "__wrapped__", fn)(spark, SF_ORACLE)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Initial Plan ==")[0]
    reps = [
        line for line in final.splitlines()
        if re.search(r"Exchange hashpartitioning\(source#\d+, text#\d+, ", line)
    ]
    assert len(reps) == 2, "\n".join(reps)
    assert sum("ReusedExchange" in line for line in reps) == 1, "\n".join(reps)


def test_q21_single_fact_scan(spark):
    """tpch_q21 folds the EXISTS + NOT EXISTS double correlation into one
    per-order aggregate: exactly ONE lineitem scan (the semi/anti plan read
    it three times — measured 4.7x at 10x data; single-pass is 2.6x)."""
    s = plan_of(spark, "tpch_q21")
    assert s.count("lineitem.parquet") == 1, "q21 must scan lineitem once"
    assert "CartesianProduct" not in s
    # supplier attaches to the |orders|-grain aggregate via broadcast
    assert "BroadcastHashJoin" in s


def test_lpa_builds_edges_once(spark):
    """Round-6 finding: graph_label_propagation ran its shared oracle SQL
    through sql_q, and Spark re-executed the CTE edge build for every
    reference — 113 shuffle exchanges for one op. The rewrite builds the
    undirected edge multiset ONCE (localCheckpoint) and runs the two LPA
    rounds as DataFrame supersteps: the final plan must contain no
    events scan at all (the checkpointed RDD replaces it) and a bounded
    shuffle count (2 rounds x join+2 aggs + final agg)."""
    import re

    s = plan_of(spark, "graph_label_propagation")
    # the undirected edge multiset enters as the checkpointed RDD, never
    # as a live parquet re-scan; the only events.parquet occurrences are
    # the printed build plan under the cached users InMemoryRelation
    assert "Scan ExistingRDD" in s, "edge build must be localCheckpointed"
    assert "InMemoryTableScan" in s, "users must be cached (l0 seed)"
    assert s.count("events.parquet") <= 2, "live events re-scan appeared"
    n_shuffles = len(re.findall(r"Exchange (?:hash|range)partitioning", s))
    assert n_shuffles <= 8, f"LPA shuffle count regressed: {n_shuffles}"


def test_forced_broadcasts_are_fixed_cardinality_only():
    """Round-10 scale guard: a forced broadcast (SQL /*+ BROADCAST(x) */ or
    F.broadcast(x)) overrides both the planner's size statistics and AQE's
    runtime fallback, so it is only safe when x is bounded by CONSTRUCTION
    (25-row nation, 5-row region, probe rows, k centroids, fixed-width
    bitmaps, tiny derived aggregates) — never when x scales with SF or the
    corpus (customer/supplier/part/orders, shingle or pair sets: the 100x
    probe turned exactly those into broadcast OOMs — BASELINE.md round-10
    evidence). This test pins the allowlist so a new hint on a scaling
    table fails here with that context.

    join_broadcast (the broadcast-API exhibit) and join_theta_range (a
    non-equi join, which REQUIRES a broadcast side and pre-filters its
    probe sliver; join_range_binned is its scale twin) are the two
    deliberate per-op exceptions.

    Round 11 (advice items): the F.broadcast scan is an ast.walk over Call
    nodes — the old single-nesting regex silently skipped 9 real call
    sites (among them llm_ann_recall_eval's then-unbounded probe
    broadcast) — with a completeness assertion that every textual
    ``F.broadcast(`` occurrence was classified, and both allowlists are
    keyed by (file, target) so an alias blessed in one module can't bless
    a new hint elsewhere.
    """
    import ast
    import glob
    import io
    import os
    import re
    import tokenize

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "highspeedrailwaybigdatasystem_spark")
    allowed_sql_hints = {
        # llm family (split r16): 1-row probe vectors (sim_topk family),
        # 16 IVF centroids, 1-row min / lang-grain / centroid / total aliases
        ("llm_ann.py", "probe"),
        ("llm_ann.py", "knn_cents"),
        ("llm_ann.py", "cents"),
        ("llm_ann.py", "semc_cents"),  # 16 centroids (semdedup argmax, r16)
        ("llm_ann.py", "c"),
        ("llm_mix.py", "probe"),
        ("llm_mix.py", "m"),
        ("llm_mix.py", "w"),
        ("ml.py", "c"),  # 16 deterministic centroids (kmeans/fuzzy)
        # fixed dims (dim: sql_hints exhibit docstring)
        ("aggregates.py", "dim"),
        ("aggregates.py", "nation"),
        ("joins.py", "nation"),
        ("joins.py", "region"),
        ("tpch.py", "nation"),
        ("tpch.py", "region"),
    }
    allowed_dsl_names = {
        # fixed dims + aliases
        ("tpch.py", "nation"), ("tpch.py", "region"),
        ("tpch.py", "n1"), ("tpch.py", "n2"),
        ("streams.py", "nation"),
        # tiny derived aggregates / bounded-grain builds
        ("llm_mix.py", "tot"), ("llm_mix.py", "cuts"), ("llm_mix.py", "mx"),
        ("llm_mix.py", "factors"), ("llm_text.py", "marks"),
        ("llm_text.py", "freq"), ("llm_text.py", "tot"),
        ("llm_dedup.py", "words"), ("llm_text.py", "df_"),
        # llm_ann_lsh recall audit: 1-row probe embedding (vec_id = 0)
        ("llm_ann.py", "probe_arr"),
        ("timeseries.py", "cuts"), ("windows.py", "cuts"),
        ("windows.py", "off"), ("aggregates.py", "sketch"),
        ("tpch.py", "top"), ("tpch.py", "best"),
        # human-scale request lists
        ("streams.py", "block"), ("etl.py", "del_list"),
        # join_temporal_scd2: orders pinned to a FIXED 100-key range
        ("etl.py", "dim"),
    }
    allowed_dsl_exprs = {
        ("aggregates.py", "t(spark, sf_dir, 'nation')"),
        ("aggregates.py", "t(spark, sf_dir, 'region')"),
        ("tpch.py", "t(spark, sf_dir, 'nation')"),
        ("tpch.py", "t(spark, sf_dir, 'region')"),
        ("tpch.py", "t(spark, sf_dir, 'region').where(F.col('r_name') == 'EUROPE')"),
        # 30-row literal date spine (etl_missing_partition_detect)
        (
            "etl.py",
            "t(spark, sf_dir, 'events').sparkSession.range(1).select("
            "F.explode(F.expr(\"sequence(DATE '2024-01-01', DATE '2024-01-30',"
            " interval 1 day)\")).alias('day'))",
        ),
        # 16 fixed IVF centroids / 1-row probes / <=64 capped probe set
        # (llm_ivf_ann, llm_ann_recall_eval, mm_embed_sim_stub)
        (
            "llm_ann.py",
            "t(spark, sf_dir, 'embeddings').where((F.col('vec_id') < 16) & nn)"
            ".select(F.col('vec_id').alias('cent_id'), F.col('embedding').alias('cent'))",
        ),
        (
            "llm_ann.py",
            "t(spark, sf_dir, 'embeddings').where(F.col('vec_id') < 16)"
            ".select(F.col('vec_id').alias('cent_id'), F.col('embedding').alias('cent'))",
        ),
        (
            "llm_ann.py",
            "t(spark, sf_dir, 'embeddings').where(F.col('vec_id') == 0)"
            ".select(F.col('embedding').alias('p'))",
        ),
        (
            "llm_ann.py",
            "t(spark, sf_dir, 'embeddings').where((F.col('vec_id') % 200 == 0)"
            " & (F.col('vec_id') < 12800) & nn)"
            ".select(F.col('vec_id').alias('probe_id'), F.col('embedding').alias('p'))",
        ),
        (
            "llm_ann.py",
            "cents.crossJoin(probe).orderBy(F.round(_dot(F.col('cent'),"
            " F.col('p')), 6).desc(), 'cent_id').limit(4).select('cent_id')",
        ),
        (
            "llm_ann.py",
            "cents.crossJoin(probes).withColumn('rn',"
            " F.row_number().over(rn_plist)).where(F.col('rn') <= 4)"
            ".select('probe_id', 'cent_id')",
        ),
        ("llm_mm.py", "emb.where(F.col('doc_id') == 0).select(F.col('e').alias('p'))"),
    }
    exempt_ops = {"join_broadcast", "join_theta_range"}
    sql_bad, dsl_bad = [], []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        fname = os.path.basename(path)
        with open(path) as f:
            src = f.read()
        for m in re.finditer(r"BROADCAST\((\w+)\)", src):
            if (fname, m.group(1)) not in allowed_sql_hints:
                sql_bad.append((fname, m.group(1)))
        tree = ast.parse(src)
        # owner map: innermost enclosing function per line
        owners: list[tuple[int, int, str]] = []
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef):
                owners.append((node.lineno, node.end_lineno, node.name))
        matched = 0
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                continue
            matched += 1
            tgt = ast.unparse(node.args[0]) if node.args else ""
            if isinstance(node.args[0], ast.Name) and (
                (fname, node.args[0].id) in allowed_dsl_names
            ):
                continue
            if (fname, tgt) in allowed_dsl_exprs:
                continue
            # ALL enclosing function names count for the exemption — an
            # F.broadcast inside a nested helper/closure within an exempt
            # op must not escape via the closure's name (ADVICE r11);
            # report the innermost (smallest span) for readability.
            enclosing = [
                (hi - lo, nm) for lo, hi, nm in owners
                if lo <= node.lineno <= hi
            ]
            if exempt_ops & {nm for _, nm in enclosing}:
                continue
            owner = min(enclosing)[1] if enclosing else "?"
            dsl_bad.append((fname, node.lineno, owner, tgt[:80]))
        # completeness: the AST scan must have seen every CODE site — count
        # via the token stream (NAME 'F', OP '.', NAME 'broadcast', OP '('),
        # so neither a formatting trick can hide a forced broadcast NOR a
        # mention in a comment/docstring can spuriously fail the scan
        # (ADVICE r11: the old raw-text regex counted doc mentions).
        toks = [
            tk for tk in tokenize.generate_tokens(io.StringIO(src).readline)
            if tk.type in (tokenize.NAME, tokenize.OP)
        ]
        textual = sum(
            1 for i in range(len(toks) - 3)
            if (toks[i].string, toks[i + 1].string, toks[i + 2].string,
                toks[i + 3].string) == ("F", ".", "broadcast", "(")
        )
        assert matched == textual, (
            f"{fname}: AST matched {matched} F.broadcast calls but code"
            f" tokens contain {textual} — scanner gap"
        )
    assert not sql_bad, (
        f"unallowlisted SQL BROADCAST hints: {sql_bad} — a forced broadcast"
        " is only safe at fixed cardinality; the 100x probe OOMed on"
        " SF-scaled ones (BASELINE.md round 10)"
    )
    assert not dsl_bad, (
        f"unallowlisted F.broadcast targets: {dsl_bad} — a forced broadcast"
        " is only safe at fixed cardinality; the 100x probe OOMed on"
        " SF-scaled ones (BASELINE.md round 10)"
    )


def test_broadcast_sites_classified_and_policy_clean():
    """r14 verdict task #2 — the broadcast-boundedness rule as a standing
    gate, superseding the alias allowlist above with a per-SITE
    classification registry (tools/broadcast_lint.py). Every forced
    broadcast — F.broadcast, .hint("broadcast"), or a /*+ BROADCAST(x) */
    SQL hint — must carry a (class, justification) tag in SITE_TAGS with
    class in {domain, cutpoint, topk, selectivity}; adding an untagged
    site, leaving a stale tag, or tagging a site "corpus" fails here. The
    dynamic half (numOutputRows growth across a 10x SF step under
    autoBroadcastJoinThreshold=-1, selectivity fractions vs declared
    tables) runs per-round via `python tools/broadcast_lint.py --measure`
    -> BROADCASTS.md; `--demo-q02` proves the policy flags the
    pre-cf202d6 tpch_q02 shape (a |parts|-scaled forced broadcast)."""
    import importlib
    import os
    import sys

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    sys.path.insert(0, tools)
    try:
        bl = importlib.import_module("broadcast_lint")
        problems = bl.check_static()
    finally:
        sys.path.remove(tools)
    assert not problems, "\n".join(problems)


def test_ivf_persist_probe_plan(spark):
    """llm_ivf_index_persist's probe must SERVE from the stored inverted
    lists, not rebuild them (r15 verdict task #6): the plan reads the
    persisted index with partition pruning to exactly the nprobe cent_id
    lists, contains NO window/assignment stage and no full-corpus
    re-scan, and top-10 is a TakeOrderedAndProject."""
    df = _QUERIES["llm_ivf_index_persist"](spark, SF_ORACLE)
    s = formatted(df)
    part_line = next(l for l in s.splitlines() if "PartitionFilters" in l)
    assert "cent_id" in part_line and " IN " in part_line, part_line
    assert "ivf_index" in s  # the scan target is the persisted index
    assert "Window" not in s  # no in-query re-assignment
    assert "TakeOrderedAndProject" in s
    # the only corpus-table scan allowed is the 1-row probe-vector lookup
    corpus_scans = [
        l for l in s.splitlines()
        if "embeddings.parquet" in l and "Location" in l
    ]
    assert len(corpus_scans) == 1, corpus_scans


def _count_expr(s: str, needle: str) -> int:
    return s.count(needle)


@pytest.mark.parametrize(
    "op, expr, n",
    [
        # r16 verdict task #9: the element_at(shuffle(array(expr)), 1)
        # idiom pins ONE evaluation of an expensive expression by relying
        # on Catalyst treating shuffle() as non-deterministic (no CSE, no
        # pushdown duplication). That reliance is a Spark-version cost-model
        # detail — these asserts go red if an upgrade silently restores the
        # double evaluation the r16 rewrites removed.
        ("join_fuzzy_levenshtein", "levenshtein(", 1),
        ("llm_near_dedup_minhash", "array_intersect(", 1),
        ("llm_ngram_jaccard", "array_intersect(", 1),
        ("llm_curation_funnel", "array_intersect(", 1),
        # r17: the minhash verify moved to doc-grain shingle arrays with
        # the same pinned-intersect idiom
        ("llm_minhash_banding", "array_intersect(", 1),
        ("llm_containment_banded", "array_intersect(", 1),
        ("llm_minhash_jaccard_estimate", "array_intersect(", 1),
    ],
)
def test_nondeterminism_pin_single_evaluation(spark, op, expr, n):
    """Each pinned expensive expression appears EXACTLY ONCE in the
    physical plan — the single-evaluation property the r16 optimizations
    measured (e.g. fuzzy levenshtein 4.03 s -> 1.97 s came entirely from
    removing the re-inlined second DP)."""
    fn = _QUERIES[op]
    fresh = getattr(fn, "__wrapped__", fn)
    s = formatted(fresh(spark, SF_ORACLE))
    assert _count_expr(s, expr) == n, (
        f"{op}: expected exactly {n} x {expr!r} in the plan, "
        f"got {_count_expr(s, expr)}"
    )
