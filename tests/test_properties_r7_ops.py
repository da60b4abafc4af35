"""Property checks for the 50 round-7 operator additions: algebraic
identities (state merges, aggregate-pushdown equivalence, Tukey/ANOVA
degeneracy), estimator sanity (KMV, Gumbel, Hill), detector power on
planted signals (binseg shift, DFT period, variance-ratio regimes,
two-proportion uplift), monotone curves (truncation loss, elbow WSS,
ridge shrinkage, shingle sensitivity), closure/bounds invariants
(char-class shares, diversity indices, reciprocity, VAD run-lengths),
and determinism under row permutation (group sampling) — run through
the REGISTERED ops on the smoke corpus or synthetic sf_dirs."""

from __future__ import annotations

import math

import pandas as pd

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from tests.conftest import synthetic_sf

SF_SMOKE = "/root/testdata/sf0.001"

def _daily_events(cents_by_day, start="2024-01-02") -> pd.DataFrame:
    days = pd.date_range(start, periods=len(cents_by_day), freq="D")
    return pd.DataFrame(
        {
            "event_id": range(len(cents_by_day)),
            "ts": pd.Series(
                [d + pd.Timedelta(hours=12) for d in days],
                dtype="datetime64[us]",
            ),
            "user_id": [i % 7 for i in range(len(cents_by_day))],
            "event_type": ["purchase"] * len(cents_by_day),
            "value": [c / 100.0 for c in cents_by_day],
            "props": ["{}"] * len(cents_by_day),
        }
    )


# --- algebraic identities ----------------------------------------------------

def test_state_merges_consistent_on_smoke(spark):
    out = all_queries()["etl_incremental_state_merge_audit"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0 and out["merge_consistent"].all()
    out = all_queries()["agg_welford_merge_audit"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0 and out["merge_consistent"].all()


def test_agg_pushdown_equivalence_holds(spark):
    out = all_queries()["join_agg_pushdown_equivalence"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0 and out["plans_equivalent"].all()


def test_backfill_idempotency(spark):
    out = all_queries()["etl_backfill_idempotency_audit"](spark, SF_SMOKE).toPandas()
    assert len(out) >= 1  # only the duplicated day(s) appear
    assert out["idempotent"].all()
    assert (out["n_dup_rows"] == out["n_orig"]).all()  # exact double-ingest
    assert (out["n_dedup"] == out["n_orig"]).all()


def test_cascade_totals_add_up(spark):
    r = all_queries()["etl_cascade_delete_plan"](spark, SF_SMOKE).toPandas().iloc[0]
    assert r["total_rows"] == (
        r["customers_deleted"] + r["orders_cascaded"] + r["lineitems_cascaded"]
    )
    assert 0 <= r["lineitem_share_deleted"] <= 1


def test_pii_vault_roundtrip(spark):
    r = all_queries()["etl_pii_tokenization_vault"](spark, SF_SMOKE).toPandas().iloc[0]
    assert bool(r["roundtrip_complete"])
    assert r["n_collisions"] == r["n_users"] - r["n_tokens"]
    assert r["n_events_tokenized"] == r["n_events"]


def test_tukey_degenerates_on_equal_groups(spark):
    """All groups drawn identical (same constant value per type) ⇒ every
    pairwise q-statistic is 0 ... undefined MSW; instead plant one far
    group and check it is flagged against the others."""
    cents = [10_000] * 60
    ev = _daily_events(cents)
    ev.loc[ev.index % 3 == 0, "event_type"] = "click"
    ev.loc[ev.index % 3 == 0, "value"] = 900.0  # far group, tight spread
    ev["value"] = ev["value"] + (ev.index % 5) * 0.01  # nonzero within-var
    sf = synthetic_sf(events=ev)
    out = all_queries()["agg_tukey_hsd"](spark, sf).toPandas()
    flagged = out[(out["type_a"] == "click") | (out["type_b"] == "click")]
    assert flagged["significant_5pct"].all()


# --- estimator sanity --------------------------------------------------------

def test_kmv_estimate_close(spark):
    r = all_queries()["agg_kmv_distinct_estimate"](spark, SF_SMOKE).toPandas().iloc[0]
    assert r["k_used"] == 256 or r["k_used"] == r["true_distinct"]
    assert r["kmv_estimate"] > 0
    # k=256 KMV has ~1/sqrt(254) ≈ 6.3% std error; 25% is > 3.9 sigma
    assert r["rel_error"] < 0.25


def test_gumbel_return_level_dominates_mean(spark):
    r = all_queries()["agg_extreme_value_gumbel"](spark, SF_SMOKE).toPandas().iloc[0]
    assert r["return_level_99_dollars"] > r["mean_block_max_dollars"]
    assert r["gumbel_beta_dollars"] > 0


def test_hill_alpha_positive(spark):
    r = all_queries()["agg_hill_tail_index"](spark, SF_SMOKE).toPandas().iloc[0]
    assert r["hill_h"] > 0 and r["tail_alpha"] > 0
    assert r["m_order_stats"] == 100


# --- planted-signal detectors ------------------------------------------------

def test_binseg_finds_planted_level_shift(spark):
    cents = [100_000 + (i % 3) * 7 for i in range(14)] + [
        500_000 + (i % 3) * 7 for i in range(14)
    ]
    sf = synthetic_sf(events=_daily_events(cents))
    r = all_queries()["ts_changepoint_binseg"](spark, sf).toPandas().iloc[0]
    assert r["split_after_rn"] == 14
    assert bool(r["changepoint_detected"])
    assert abs(r["mean_before_dollars"] - 1000.0) < 1.0
    assert abs(r["mean_after_dollars"] - 5000.0) < 1.0


def test_dft_finds_planted_weekly_period(spark):
    cents = [100_000 + (50_000 if i % 7 == 0 else 0) for i in range(28)]
    sf = synthetic_sf(events=_daily_events(cents))
    out = all_queries()["ts_dft_power_topk"](spark, sf).toPandas().set_index("period_days")
    assert bool(out.loc[7, "dominant_period"])
    assert out.loc[7, "power_share"] > 0.5


def test_variance_ratio_regimes(spark):
    # persistent increments (tent: +5k for 15 days, then -5k) → q-day
    # changes compound → VR(q) > 1 (a deterministic LINEAR trend would
    # NOT do this: its increments are constant, so all diff variances
    # collapse — VR detects random-walk-like persistence, not drift)
    tent = [100_000 + 5_000 * min(i, 30 - i) for i in range(31)]
    sf = synthetic_sf(events=_daily_events(tent))
    out = all_queries()["ts_variance_ratio"](spark, sf).toPandas()
    assert (out["variance_ratio"] > 1).all()
    assert out["trending_regime"].all()
    # strict alternation (mean reversion) → VR < 1
    alt = [100_000 + (50_000 if i % 2 == 0 else 0) for i in range(30)]
    sf = synthetic_sf(events=_daily_events(alt))
    out = all_queries()["ts_variance_ratio"](spark, sf).toPandas()
    assert (out["variance_ratio"] < 1).all()


def test_ljung_box_rejects_on_trend(spark):
    cents = [100_000 + 2_000 * i for i in range(30)]
    sf = synthetic_sf(events=_daily_events(cents))
    r = all_queries()["ts_ljung_box"](spark, sf).toPandas().iloc[0]
    assert bool(r["reject_white_noise_5pct"])
    assert r["ljung_box_q"] > 14.067


def test_two_proportion_detects_planted_uplift(spark):
    rows = []
    for uid in range(200):
        # odd users convert (high-value purchase), even never do
        val = 500.0 if uid % 2 == 1 else 50.0
        rows.append((uid, pd.Timestamp("2024-01-05 10:00"), uid,
                     "purchase", val, "{}"))
    ev = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value",
                       "props"],
    )
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    sf = synthetic_sf(events=ev)
    r = all_queries()["ml_two_proportion_ztest"](spark, sf).toPandas().iloc[0]
    assert r["rate_control"] == 0.0 and r["rate_treatment"] == 1.0
    assert bool(r["significant_5pct"]) and r["z_stat"] > 10


# --- monotone curves ---------------------------------------------------------

def test_truncation_loss_monotone(spark):
    out = (
        all_queries()["llm_truncation_loss_curve"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("context_limit")
    )
    assert (out["doc_truncation_rate"].diff().dropna() <= 1e-9).all()
    assert (out["token_loss_share"].diff().dropna() <= 1e-9).all()
    assert (out["token_loss_share"] <= 1).all()


def test_elbow_wss_decreases(spark):
    out = all_queries()["ml_elbow_k_sweep"](spark, SF_SMOKE).toPandas().sort_values("k")
    wss = out["wss_millions"].tolist()
    assert all(b <= a + 1e-9 for a, b in zip(wss, wss[1:]))


def test_ridge_shrinks_monotonically(spark):
    out = (
        all_queries()["ml_ridge_regression_grid"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("lambda_per_row")
    )
    assert abs(out.iloc[0]["shrink_factor"] - 1.0) < 1e-9  # λ=0 is OLS
    sf_ = out["shrink_factor"].tolist()
    assert all(b < a for a, b in zip(sf_, sf_[1:]))
    assert (out["shrink_factor"] > 0).all()


def test_shingle_sensitivity_monotone(spark):
    out = (
        all_queries()["llm_shingle_size_sensitivity"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("shingle_n")
    )
    n = out["n_pairs"].tolist()
    assert all(b <= a for a, b in zip(n, n[1:]))


def test_learning_curve_shape(spark):
    out = (
        all_queries()["ml_learning_curve_stump"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("train_pct")
    )
    assert len(out) == 4
    assert (out["n_train"].diff().dropna() > 0).all()
    assert ((out["train_accuracy"] >= 0) & (out["train_accuracy"] <= 1)).all()
    assert ((out["test_accuracy"] >= 0) & (out["test_accuracy"] <= 1)).all()
    assert out["n_test"].nunique() == 1  # fixed holdout


# --- closure / bounds --------------------------------------------------------

def test_char_class_shares_close(spark):
    out = all_queries()["llm_char_class_mix"](spark, SF_SMOKE).toPandas()
    s = (
        out["letter_share"] + out["digit_share"] + out["space_share"]
        + out["symbol_share"]
    )
    assert ((s - 1).abs() < 1e-4).all()


def test_diversity_bounds(spark):
    out = all_queries()["agg_shannon_diversity"](spark, SF_SMOKE).toPandas()
    for _, r in out.iterrows():
        assert r["shannon_h"] >= -1e-9
        assert -1e-6 <= r["pielou_evenness"] <= 1 + 1e-6
        assert 0 <= r["gini_simpson"] < 1
        assert 1 - 1e-9 <= r["inverse_simpson"] <= r["n_langs"] + 1e-6


def test_reciprocity_bounds(spark):
    r = all_queries()["graph_reciprocity"](spark, SF_SMOKE).toPandas().iloc[0]
    assert 0 <= r["reciprocity"] <= 1
    assert r["n_edges_distinct"] <= r["n_edges_raw"]
    assert r["n_reciprocal_directed"] % 2 == 0  # mutual pairs count twice


def test_two_hop_reach_bounds(spark):
    out = all_queries()["graph_two_hop_reach"](spark, SF_SMOKE).toPandas()
    assert (out["degree"] <= 4).all()
    assert (out["two_hop_reach"] <= out["degree"] ** 2).all()


def test_bipartite_projection_bounds(spark):
    out = all_queries()["graph_bipartite_projection"](spark, SF_SMOKE).toPandas()
    assert (out["overlap_coef"] >= out["cosine_sim"] - 1e-9).all()
    assert (out["overlap_coef"] <= 1 + 1e-9).all()
    assert (out["shared_users"] <= out[["n_users_a", "n_users_b"]].min(axis=1)).all()


def test_vad_run_length_algebra(spark):
    out = all_queries()["mm_audio_vad_stub"](spark, SF_SMOKE).toPandas()
    assert (out["n_voiced"] <= out["n_frames"]).all()
    assert (out["longest_segment"] <= out["n_voiced"]).all()
    assert ((out["n_segments"] == 0) == (out["n_voiced"] == 0)).all()
    assert (out["n_segments"] <= out["n_voiced"]).all()


def test_patch_embed_consistent_with_length(spark):
    out = all_queries()["mm_patch_embed_stub"](spark, SF_SMOKE).toPandas()
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")[
        ["doc_id", "n_chars"]
    ]
    j = out.merge(docs, on="doc_id")
    rows = (j["n_chars"] + 31) // 32
    expect = 2 * ((rows + 15) // 16)
    # the tail raster row may not reach the second patch column
    assert ((j["n_patches"] == expect) | (j["n_patches"] == expect - 1)).all()
    assert (j["max_patch_feat"] < 997).all()


def test_simhash_fp_rates_bounded(spark):
    out = all_queries()["llm_simhash_fp_audit"](spark, SF_SMOKE).toPandas()
    assert (out["hamming"] <= 3).all()
    assert ((out["false_positive_rate"] >= 0)
            & (out["false_positive_rate"] <= 1)).all()
    assert (out["n_true_dups"] <= out["n_candidates"]).all()


def test_budget_allocator_caps(spark):
    out = all_queries()["llm_token_budget_allocator"](spark, SF_SMOKE).toPandas()
    assert (out["allocated_tokens"] <= out["available_tokens"]).all()
    assert ((out["utilization"] >= 0) & (out["utilization"] <= 1 + 1e-9)).all()
    budget = out["available_tokens"].sum() // 2
    assert out["allocated_tokens"].sum() <= budget + len(out)  # rounding slack


def test_cardinality_audit_products(spark):
    out = all_queries()["join_cardinality_estimate_audit"](spark, SF_SMOKE).toPandas()
    assert (out["predicted_pairs"] == out["n_left"] * out["n_right"]).all()
    assert (out["predicted_pairs"].diff().dropna() <= 0).all()


def test_pinball_matching_quantile_wins(spark):
    r = all_queries()["ml_pinball_quantile_eval"](spark, SF_SMOKE).toPandas().iloc[0]
    assert bool(r["p90_predictor_wins_tau90"])
    assert r["pinball90_at_p90"] <= r["pinball90_at_median"]


def test_stl_components_sum_to_actual(spark):
    out = all_queries()["ts_stl_decompose_additive"](spark, SF_SMOKE).toPandas()
    resid = (
        out["actual_dollars"]
        - out["trend_dollars"] - out["seasonal_dollars"]
        - out["residual_dollars"]
    )
    assert resid.abs().max() < 0.05  # display-grain rounding only


def test_forecast_eval_identities(spark):
    r = all_queries()["ts_forecast_eval_naive"](spark, SF_SMOKE).toPandas().iloc[0]
    assert r["wape_lastweek"] >= 0 and r["wape_naive1"] >= 0
    expected_mase = r["wape_lastweek"] / r["wape_naive1"]
    assert abs(r["mase_vs_naive1"] - expected_mase) < 1e-3
    assert bool(r["lastweek_beats_naive"]) == (r["mase_vs_naive1"] < 1)


def test_chi2_ranking_complete(spark):
    out = all_queries()["ml_chi2_feature_ranking"](spark, SF_SMOKE).toPandas()
    assert sorted(out["rank"]) == [1, 2, 3]
    assert (out["chi2"] >= -1e-9).all()
    assert (out["dof"] == out["n_levels"] - 1).all()


def test_try_cast_rates(spark):
    out = all_queries()["sql_try_cast_audit"](spark, SF_SMOKE).toPandas()
    assert ((out["parse_rate"] >= 0) & (out["parse_rate"] <= 1)).all()
    assert (
        out["n_unparseable"]
        == (out["n_rows"] * (1 - out["parse_rate"])).round()
    ).all()


def test_freshness_watermark_stream_has_zero_lag(spark):
    out = all_queries()["etl_freshness_sla_audit"](spark, SF_SMOKE).toPandas()
    assert out["lag_hours"].min() == 0.0  # some stream holds the watermark
    assert (out["lag_hours"] >= 0).all()


def test_bin_packing_conserves_rows(spark):
    out = all_queries()["etl_bin_packing_plan"](spark, SF_SMOKE).toPandas()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    assert out["n_rows"].sum() == len(ev)
    assert (out["fill_ratio"] > 0).all()
    assert sorted(out["file_id"]) == list(out["file_id"])


def test_group_sample_invariant_under_permutation(spark):
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    shuffled = orders.sample(frac=1.0, random_state=7).reset_index(drop=True)
    sf = synthetic_sf(orders=shuffled)
    q = all_queries()["agg_deterministic_group_sample"]
    base = q(spark, SF_SMOKE).toPandas()
    perm = q(spark, sf).toPandas()
    pd.testing.assert_frame_equal(base, perm)


def test_uniformity_chisq_sane(spark):
    r = all_queries()["agg_hash_uniformity_chisq"](spark, SF_SMOKE).toPandas().iloc[0]
    assert r["chi_square"] >= 0
    assert r["n_buckets_hit"] <= 256
    assert r["max_bucket_load_ratio"] >= 1.0


def test_fertility_positive(spark):
    out = all_queries()["llm_tokenizer_fertility"](spark, SF_SMOKE).toPandas()
    assert (out["fertility"] > 0).all()
    assert (out["chars_per_token"] > 0).all()
    assert (out["bpe_tokens"] >= out["ws_tokens"]).all()  # splits only add


def test_boilerplate_share_bounds(spark):
    out = all_queries()["llm_template_boilerplate_detect"](spark, SF_SMOKE).toPandas()
    assert ((out["boilerplate_share"] >= 0)
            & (out["boilerplate_share"] <= 1)).all()
    assert (out["boilerplate_occurrences"]
            >= out["n_boilerplate_shingles"]).all()


def test_m4_matches_pandas(spark):
    out = all_queries()["ts_downsample_m4"](spark, SF_SMOKE).toPandas().set_index("bucket")
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev["bucket"] = ev["event_id"] % 16
    ev["cents"] = (ev["value"] * 100).round().astype("int64")
    g = ev.sort_values("event_id").groupby("bucket")
    assert (out["min_cents"] == g["cents"].min()).all()
    assert (out["max_cents"] == g["cents"].max()).all()
    assert (out["first_cents"] == g["cents"].first()).all()
    assert (out["last_cents"] == g["cents"].last()).all()


# --- batches K/L -------------------------------------------------------------

def test_symmetric_diff_identity(spark):
    r = all_queries()["set_symmetric_diff"](spark, SF_SMOKE).toPandas().iloc[0]
    assert r["n_symmetric_diff"] + 2 * r["n_both"] == (
        r["n_first_half"] + r["n_second_half"]
    )
    assert r["n_symmetric_diff"] == r["n_only_first"] + r["n_only_second"]


def test_trigram_similarity_bounds(spark):
    out = all_queries()["str_trigram_similarity"](spark, SF_SMOKE).toPandas()
    assert 0 < len(out) <= 15
    assert ((out["trigram_sim"] > 0) & (out["trigram_sim"] <= 1)).all()
    assert (out["id_a"] < out["id_b"]).all()


def test_distinct_merge_inequality_holds(spark):
    out = all_queries()["agg_distinct_merge_inequality"](spark, SF_SMOKE).toPandas()
    assert out["inequality_holds"].all()
    assert (
        out["overlap_double_counted"]
        == out["naive_summed_distinct"] - out["true_distinct"]
    ).all()


def test_delta_ci_brackets_point_estimate(spark):
    out = all_queries()["ml_ratio_metric_delta_ci"](spark, SF_SMOKE).toPandas()
    assert len(out) == 2
    assert (out["ci95_lo_dollars"] <= out["revenue_per_event_dollars"]).all()
    assert (out["ci95_hi_dollars"] >= out["revenue_per_event_dollars"]).all()
    assert (out["delta_method_se_dollars"] >= 0).all()


def test_pk_fanout_clean_on_smoke(spark):
    r = all_queries()["join_pk_fanout_audit"](spark, SF_SMOKE).toPandas().iloc[0]
    assert bool(r["all_dims_pk_clean"])
    assert (
        r["n_lineitem"] == r["n_after_orders"]
        == r["n_after_part"] == r["n_after_supplier"]
    )


def test_predicate_correlation_consistency(spark):
    out = all_queries()["scan_predicate_correlation_audit"](spark, SF_SMOKE).toPandas()
    assert len(out) == 3
    assert (out["actual_and_selectivity"] >= -1e-9).all()
    assert (out["actual_and_selectivity"] <= 1 + 1e-9).all()
    for _, r in out.iterrows():
        expect = abs(r["correlation_factor"]
                     - r["actual_and_selectivity"]
                     / r["independence_estimate"])
        assert expect < 1e-2


def test_fiscal_rollup_conserves_revenue(spark):
    out = all_queries()["dt_fiscal_quarter_rollup"](spark, SF_SMOKE).toPandas()
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    assert out["n_orders"].sum() == len(orders)
    total = (orders["o_totalprice"] * 100).round().sum() / 100
    assert abs(out["revenue"].sum() - total) < 0.05
    assert set(out["fiscal_quarter"]) <= {1, 2, 3, 4}


def test_gini_auc_identity_certified(spark):
    r = all_queries()["ml_gini_auc_identity"](spark, SF_SMOKE).toPandas().iloc[0]
    assert bool(r["identity_holds"])
    assert abs(r["somers_d"] - r["gini_from_auc"]) < 1e-5
    assert 0 <= r["auc"] <= 1


def test_largest_remainder_sums_to_100(spark):
    out = all_queries()["agg_largest_remainder_allocation"](spark, SF_SMOKE).toPandas()
    assert out["allocated_pct"].sum() == 100
    assert (out["allocated_pct"] - out["floor_pct"]).isin([0, 1]).all()
    assert abs(out["exact_share_pct"].sum() - 100) < 1e-3


def test_dup_degree_histogram_consistent(spark):
    out = (
        all_queries()["llm_dup_partner_degree_dist"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("n_partners")
    )
    assert (out["n_partners"] >= 1).all()
    assert (out["cum_docs"] == out["n_docs"].cumsum()).all()
