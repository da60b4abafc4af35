"""Independent-recompute checks for the round-10 planned gate window's
previously-untested ops — same discipline as
tests/test_properties_r9_window.py: the oracle mirror proves Spark ≡ DuckDB,
these recompute each statistic a third way in pandas/numpy (different
formulation where possible, e.g. centered moments vs the ops' raw power
sums) so a shared cross-engine mistake cannot hide."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from highspeedrailwaybigdatasystem_spark.registry import all_queries

SF_SMOKE = "/root/testdata/sf0.001"

def _events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/events.parquet")


def _lineitem() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")


# --- quantile-family ops ------------------------------------------------------

def test_approx_percentile_exact_regime_is_discrete_and_ordered(spark):
    out = all_queries()["agg_approx_percentile_exact_regime"](spark, SF_SMOKE).toPandas()
    ev = _events()
    for _, r in out.iterrows():
        v = ev.loc[ev["event_type"] == r["event_type"], "value"]
        members = set(v.round(2))
        assert {r["p25"], r["p50"], r["p90"]} <= members  # actual data values
        assert r["p25"] <= r["p50"] <= r["p90"]
        # rank sanity: the reported p50 splits the group ~in half (discrete
        # definitions differ by at most one element between engines)
        assert (v <= r["p50"] + 0.005).sum() >= 0.5 * len(v) - 1
        assert (v >= r["p50"] - 0.005).sum() >= 0.5 * len(v) - 1
        assert int(r["n"]) == len(v)


def test_percentile_disc_returns_member_values_and_true_mode(spark):
    out = all_queries()["agg_percentile_disc"](spark, SF_SMOKE).toPandas()
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    j = orders.merge(cust, left_on="o_custkey", right_on="c_custkey")
    for _, r in out.iterrows():
        g = j[j["c_mktsegment"] == r["c_mktsegment"]]
        vals = set(g["o_totalprice"])
        assert r["median_disc"] in vals and r["p90_disc"] in vals
        assert r["median_disc"] <= r["p90_disc"]
        counts = g["o_orderpriority"].value_counts()
        assert counts[r["priority_mode"]] == counts.max()


def test_iqr_fences_match_pandas(spark):
    out = all_queries()["agg_iqr_outlier_fences"](spark, SF_SMOKE).toPandas()
    li = _lineitem()
    for _, r in out.iterrows():
        v = li.loc[li["l_returnflag"] == r["l_returnflag"], "l_extendedprice"]
        q1, q3 = v.quantile(0.25), v.quantile(0.75)  # linear interpolation
        assert abs(r["q1"] - q1) < 0.011 and abs(r["q3"] - q3) < 0.011
        lo, hi = q1 - 1.5 * (q3 - q1), q3 + 1.5 * (q3 - q1)
        assert int(r["n_outliers"]) == int(((v < lo) | (v > hi)).sum())
        assert int(r["n"]) == len(v)


def test_winsorized_trimmed_means_match_pandas(spark):
    out = all_queries()["agg_winsorized_trimmed_mean"](spark, SF_SMOKE).toPandas()
    li = _lineitem()
    for _, r in out.iterrows():
        v = li.loc[li["l_returnflag"] == r["l_returnflag"], "l_extendedprice"]
        lo, hi = v.quantile(0.05), v.quantile(0.95)
        assert abs(r["mean_raw"] - v.mean()) < 0.011
        assert abs(r["mean_trimmed"] - v[(v >= lo) & (v <= hi)].mean()) < 0.011
        assert abs(r["mean_winsorized"] - v.clip(lo, hi).mean()) < 0.011


def test_bowley_skew_identity_and_bounds(spark):
    out = all_queries()["agg_bowley_quartile_skew"](spark, SF_SMOKE).toPandas()
    for _, r in out.iterrows():
        assert r["q1"] <= r["q2"] <= r["q3"]
        bow = (r["q3"] + r["q1"] - 2 * r["q2"]) / (r["q3"] - r["q1"])
        assert abs(r["bowley_skew"] - bow) < 1e-4
        assert -1 - 1e-9 <= r["bowley_skew"] <= 1 + 1e-9
        qcd = (r["q3"] - r["q1"]) / (r["q3"] + r["q1"])
        assert abs(r["quartile_coeff_dispersion"] - qcd) < 1e-4


# --- moment / correlation / test statistics -----------------------------------

def test_skew_kurtosis_matches_centered_moments(spark):
    out = all_queries()["agg_skew_kurtosis"](spark, SF_SMOKE).toPandas()
    ev = _events()
    for _, r in out.iterrows():
        v = ev.loc[ev["event_type"] == r["event_type"], "value"].to_numpy()
        mu = v.mean()
        m2 = ((v - mu) ** 2).mean()  # centered, vs the op's raw power sums
        m3 = ((v - mu) ** 3).mean()
        m4 = ((v - mu) ** 4).mean()
        assert abs(r["mean_v"] - mu) < 1e-6
        assert abs(r["var_pop"] - m2) < 1e-4
        assert abs(r["skewness"] - m3 / m2**1.5) < 1e-4
        assert abs(r["excess_kurtosis"] - (m4 / m2**2 - 3)) < 1e-4


def test_spearman_rho_matches_pandas(spark):
    out = all_queries()["agg_spearman_rho"](spark, SF_SMOKE).toPandas()
    ev = _events()
    for _, r in out.iterrows():
        g = ev[ev["event_type"] == r["event_type"]]
        # midranks by hand (scipy absent), then Pearson on the ranks
        rx = g["value"].rank(method="average")
        ry = g["ts"].astype("int64").rank(method="average")
        rho = rx.corr(ry)
        assert abs(r["spearman_rho"] - rho) < 1e-6
        assert int(r["n"]) == len(g)


def test_welch_t_matches_pandas(spark):
    r = all_queries()["agg_welch_t_test"](spark, SF_SMOKE).toPandas().iloc[0]
    ev = _events()
    a = ev.loc[ev["user_id"] % 2 == 0, "value"]
    b = ev.loc[ev["user_id"] % 2 == 1, "value"]
    se2 = a.var(ddof=1) / len(a) + b.var(ddof=1) / len(b)
    t = (a.mean() - b.mean()) / math.sqrt(se2)
    dof = se2**2 / (
        (a.var(ddof=1) / len(a)) ** 2 / (len(a) - 1)
        + (b.var(ddof=1) / len(b)) ** 2 / (len(b) - 1)
    )
    assert int(r["n_treat"]) == len(a) and int(r["n_control"]) == len(b)
    assert abs(r["mean_diff"] - (a.mean() - b.mean())) < 1e-6
    assert abs(r["t_stat"] - t) < 1e-5
    assert abs(r["welch_dof"] - dof) < 0.011


def test_cohens_d_matches_pandas(spark):
    r = all_queries()["agg_cohens_d_effect_size"](spark, SF_SMOKE).toPandas().iloc[0]
    ev = _events()
    a = ev.loc[ev["user_id"] % 2 == 0, "value"]
    b = ev.loc[ev["user_id"] % 2 == 1, "value"]
    n1, n2 = len(a), len(b)
    pooled = math.sqrt(
        ((n1 - 1) * a.var(ddof=1) + (n2 - 1) * b.var(ddof=1)) / (n1 + n2 - 2)
    )
    d = (a.mean() - b.mean()) / pooled
    assert abs(r["cohens_d"] - d) < 1e-5
    assert abs(r["hedges_g"] - d * (1 - 3 / (4 * (n1 + n2) - 9))) < 1e-5
    # the small-sample correction always shrinks |d|
    assert abs(r["hedges_g"]) <= abs(r["cohens_d"]) + 1e-9


def test_paired_t_matches_pandas(spark):
    r = all_queries()["agg_paired_t_test"](spark, SF_SMOKE).toPandas().iloc[0]
    ev = _events()
    piv = ev.pivot_table(
        index="user_id", columns="event_type", values="value", aggfunc="mean"
    )
    d = (piv["click"] - piv["view"]).dropna()
    assert int(r["n_pairs"]) == len(d)
    assert abs(r["mean_diff"] - d.mean()) < 1e-6
    assert abs(r["sd_diff"] - d.std(ddof=1)) < 1e-6
    t = d.mean() / (d.std(ddof=1) / math.sqrt(len(d)))
    assert abs(r["t_stat"] - t) < 1e-5


# --- distribution diagnostics --------------------------------------------------

def test_entropy_impurity_matches_pandas(spark):
    out = all_queries()["agg_entropy_impurity"](spark, SF_SMOKE).toPandas()
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    for _, r in out.iterrows():
        p = (
            docs.loc[docs["source"] == r["source"], "lang"]
            .value_counts(normalize=True)
            .to_numpy()
        )
        assert int(r["n_langs"]) == len(p)
        assert abs(r["shannon_entropy"] - float(-(p * np.log2(p)).sum())) < 1e-6
        assert abs(r["gini_impurity"] - float(1 - (p**2).sum())) < 1e-6
        assert r["shannon_entropy"] <= math.log2(len(p)) + 1e-9
        assert 0 <= r["gini_impurity"] < 1


def test_geo_harmonic_mean_inequality_and_values(spark):
    out = all_queries()["agg_geo_harmonic_mean"](spark, SF_SMOKE).toPandas()
    li = _lineitem()
    for _, r in out.iterrows():
        v = li.loc[
            (li["l_returnflag"] == r["l_returnflag"])
            & (li["l_extendedprice"] > 0),
            "l_extendedprice",
        ]
        assert abs(r["geo_mean"] - math.exp(np.log(v).mean())) < 0.011
        assert abs(r["harmonic_mean"] - len(v) / (1.0 / v).sum()) < 0.011
        assert abs(r["arith_mean"] - v.mean()) < 0.011
        assert r["harmonic_mean"] <= r["geo_mean"] + 0.011
        assert r["geo_mean"] <= r["arith_mean"] + 0.011


def test_histogram_2d_matches_pandas(spark):
    out = all_queries()["agg_histogram_2d"](spark, SF_SMOKE).toPandas()
    ev = _events()
    vb = np.minimum(np.floor(ev["value"] / 50), 9).astype(int)
    hb = ev["ts"].dt.hour
    truth = ev.groupby([vb, hb])["value"].agg(["size", "sum"])
    assert out["n"].sum() == len(ev)
    for _, r in out.iterrows():
        n, s = truth.loc[(int(r["value_bin"]), int(r["hour_bin"]))]
        assert int(r["n"]) == int(n)
        assert abs(r["bin_value_sum"] - s) < 0.011


def test_mad_robust_z_agg_matches_pandas(spark):
    out = all_queries()["agg_mad_robust_z"](spark, SF_SMOKE).toPandas()
    ev = _events()
    for _, r in out.iterrows():
        v = ev.loc[ev["event_type"] == r["event_type"], "value"]
        med = v.median()
        mad = (v - med).abs().median()
        assert abs(r["median_value"] - med) < 1e-6
        assert abs(r["mad"] - mad) < 1e-6
        n_out = (
            int((0.6745 * (v - med).abs() / mad > 3.5).sum()) if mad else 0
        )
        assert int(r["n_outliers"]) == n_out
        assert abs(r["outlier_share"] - n_out / len(v)) < 1e-6


# --- sampling / sketch audits ---------------------------------------------------

def test_hash_sample_audit_matches_pandas_md5(spark):
    out = all_queries()["agg_hash_sample_error_audit"](spark, SF_SMOKE).toPandas()
    ev = _events()
    in_sample = ev["event_id"].map(
        lambda i: hashlib.md5(str(i).encode()).hexdigest()[:2] < "1a"
    )
    for _, r in out.iterrows():
        mask = ev["event_type"] == r["event_type"]
        assert int(r["n_exact"]) == int(mask.sum())
        assert int(r["n_sampled"]) == int((mask & in_sample).sum())
        est = ev.loc[mask & in_sample, "value"].sum() * 256 / 26
        assert abs(r["sum_estimated"] - est) < 0.011
        exact = ev.loc[mask, "value"].sum()
        assert abs(r["rel_error"] - abs(est - exact) / exact) < 1e-5


def test_bloom_fpr_audit_internally_consistent(spark):
    # sf0.001 has zero probe customers (everyone has orders) -> degenerate
    # NaN rate; use the gate-tier corpus where the probe set is non-empty
    r = all_queries()["agg_bloom_fpr_audit"](spark, "/root/testdata/sf0.01").toPandas().iloc[0]
    k, m = 3, 16384
    expected = (1 - math.exp(-k * int(r["n_members"]) / m)) ** k
    assert abs(r["fpr_expected"] - expected) < 1e-5
    assert int(r["n_probes"]) > 0
    assert abs(
        r["fpr_measured"] - int(r["n_false_pos"]) / int(r["n_probes"])
    ) < 1e-5
    assert 0 <= int(r["n_bits_set"]) <= min(m, k * int(r["n_members"]))


# --- api / scalar battery --------------------------------------------------------

def test_observe_metrics_result_matches_pandas(spark):
    out = all_queries()["api_observe_metrics"](spark, SF_SMOKE).toPandas()
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    truth = orders.groupby("o_orderstatus")["o_totalprice"].agg(["size", "sum"])
    for _, r in out.iterrows():
        n, s = truth.loc[r["o_orderstatus"]]
        assert int(r["n_orders"]) == int(n)
        assert abs(r["total_value"] - s) < 0.011


def test_posexplode_outer_row_algebra(spark):
    r = all_queries()["arr_posexplode_outer"](spark, SF_SMOKE).toPandas().iloc[0]
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    null_docs = int((docs["doc_id"] % 10 == 0).sum())
    arr_docs = docs[docs["doc_id"] % 10 != 0]
    exploded = int(
        arr_docs["text"].str.split(" ").str.len().clip(upper=3).sum()
    )
    assert int(r["n_null_rows"]) == null_docs
    assert int(r["n_rows"]) == null_docs + exploded
    assert int(r["n_positions"]) == exploded


def test_dt_constructors_roundtrip_and_clamp(spark):
    r = all_queries()["dt_constructors"](spark, SF_SMOKE).toPandas().iloc[0]
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    od = pd.to_datetime(orders["o_orderdate"]).dt.normalize()
    assert int(r["n_roundtrip"]) == int(r["n_rows"]) == len(od)
    assert int(r["n_month_end"]) == int((od == od + pd.offsets.MonthEnd(0)).sum())
    nxt = od + pd.DateOffset(months=1)  # pandas clamps end-of-month like SQL
    assert pd.Timestamp(r["min_next_month"]) == nxt.min()
    assert pd.Timestamp(r["max_next_month"]) == nxt.max()
