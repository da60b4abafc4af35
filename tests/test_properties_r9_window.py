"""Independent-recompute and planted-signal checks for the round-9 gate
window ops that had no property coverage yet (the mirror already proves
Spark ≡ DuckDB oracle for each; these tests guard the OTHER failure mode —
both engines wrong the same way — by recomputing the statistic a third way
in pandas, or by planting a signal with a known closed-form answer)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from tests.conftest import SF_ORACLE, synthetic_sf

SF_SMOKE = "/root/testdata/sf0.001"

def _events_df(rows: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(rows)
    df["ts"] = pd.Series(pd.to_datetime(df["ts"]), dtype="datetime64[us]")
    df["event_id"] = df.get("event_id", pd.Series(range(len(df))))
    df["props"] = df.get("props", "{}")
    df["value"] = df["value"].astype(float)
    df["user_id"] = df["user_id"].astype("int64")
    df["event_id"] = df["event_id"].astype("int64")
    return df[["event_id", "ts", "user_id", "event_type", "value", "props"]]


def _docs(texts: list[str], source: str = "synthetic") -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": [source] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )


def _smoke_events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/events.parquet")


# --- ts family: pandas recomputes on the smoke corpus ------------------------

def test_attribution_touch_replay(spark):
    out = all_queries()["ts_attribution_touch"](spark, SF_SMOKE).toPandas()
    ev = _smoke_events().sort_values(["user_id", "ts", "event_id"])
    counts = {"last_click": 0, "unattributed": 0}
    for _, g in ev.groupby("user_id"):
        last_click = None
        for r in g.itertuples():
            if r.event_type == "purchase":
                ok = (
                    last_click is not None
                    and (r.ts - last_click).total_seconds() * 1e6
                    <= 604_800_000_000
                )
                counts["last_click" if ok else "unattributed"] += 1
            if r.event_type == "click":
                last_click = r.ts
    got = dict(zip(out["model_bucket"], out["n_purchases"]))
    assert {k: v for k, v in counts.items() if v} == {
        k: v for k, v in got.items() if v
    }
    n_purch = (ev["event_type"] == "purchase").sum()
    assert out["n_purchases"].sum() == n_purch
    true_val = ev.loc[ev["event_type"] == "purchase", "value"].sum()
    assert abs(out["attributed_value"].sum() - true_val) < 0.02


def test_theil_sen_recovers_planted_linear_slope(spark):
    rows = [
        {
            "ts": f"2024-01-{2 + i:02d} 12:00:00",
            "user_id": 0,
            "event_type": "click",
            "value": 2.0 + 0.25 * i,
        }
        for i in range(10)
    ]
    out = all_queries()["ts_theil_sen"](
        spark, synthetic_sf(events=_events_df(rows))
    ).toPandas()
    assert len(out) == 1
    assert int(out["n_pairs"].iloc[0]) == 45  # C(10,2)
    assert abs(out["theil_sen_slope"].iloc[0] - 0.25) < 1e-9


def test_mad_robust_z_matches_pandas(spark):
    out = all_queries()["ts_mad_robust_z"](spark, SF_SMOKE).toPandas()
    ev = _smoke_events()
    for _, r in out.iterrows():
        v = ev.loc[ev["event_type"] == r["event_type"], "value"]
        med = v.median()
        mad = (v - med).abs().median()
        assert abs(r["med"] - med) < 1e-6
        assert abs(r["mad"] - mad) < 1e-6
        n_out = int((0.6745 * (v - med).abs() / mad > 3.5).sum())
        assert int(r["n_outliers"]) == n_out
        assert int(r["n"]) == len(v)


def test_gap_distribution_counts_and_monotone_tail(spark):
    out = all_queries()["ts_gap_distribution"](spark, SF_SMOKE).toPandas()
    ev = _smoke_events()
    per = ev.groupby(["user_id", "event_type"]).size() - 1
    true_gaps = per.clip(lower=0).groupby(level="event_type").sum()
    for _, r in out.iterrows():
        assert int(r["n_gaps"]) == int(true_gaps[r["event_type"]])
        assert r["p50_us"] <= r["p90_us"] <= r["p99_us"] <= r["max_us"]


def test_seasonality_strength_is_a_variance_share(spark):
    out = all_queries()["ts_seasonality_strength"](spark, SF_SMOKE).toPandas()
    assert (out["seasonal_strength"] >= -1e-9).all()
    assert (out["seasonal_strength"] <= 1 + 1e-9).all()
    assert (out["n_buckets"] <= 24).all()


def test_forecast_naive_eval_zero_error_on_constant_series(spark):
    rows = [
        {
            "ts": f"2024-01-{2 + i:02d} 12:00:00",
            "user_id": i % 3,
            "event_type": "click",
            "value": 5.0,
        }
        for i in range(20)
    ]
    out = all_queries()["ts_forecast_naive_eval"](
        spark, synthetic_sf(events=_events_df(rows))
    ).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    # days 8..20 have both a d-1 and a d-7 predecessor
    assert int(r["n_days"]) == 13
    assert r["mae_naive"] == 0 and r["mae_seasonal_naive"] == 0
    assert r["mape_naive"] == 0 and r["mape_seasonal_naive"] == 0


def test_diff_in_diff_cells_match_pandas(spark):
    r = all_queries()["ts_diff_in_diff"](spark, SF_SMOKE).toPandas().iloc[0]
    ev = _smoke_events()
    grp = np.where(ev["user_id"] % 2 == 0, "treat", "control")
    period = np.where(
        ev["ts"].dt.normalize() >= pd.Timestamp("2024-01-16"), "post", "pre"
    )
    cells = ev.groupby([grp, period])["value"].mean()
    assert abs(r["treat_pre"] - cells[("treat", "pre")]) < 1e-6
    assert abs(r["treat_post"] - cells[("treat", "post")]) < 1e-6
    assert abs(r["control_pre"] - cells[("control", "pre")]) < 1e-6
    assert abs(r["control_post"] - cells[("control", "post")]) < 1e-6
    did = (cells[("treat", "post")] - cells[("treat", "pre")]) - (
        cells[("control", "post")] - cells[("control", "pre")]
    )
    assert abs(r["did_estimate"] - did) < 2e-6
    assert int(r["n_obs"]) == len(ev)


def test_seasonal_decompose_variance_ladder(spark):
    out = all_queries()["ts_seasonal_decompose"](spark, SF_SMOKE).toPandas()
    assert (out["var_total"] >= 0).all()
    assert (out["var_detrended"] >= 0).all()
    assert (out["var_residual"] >= 0).all()
    # removing trend + weekly rhythm must not CREATE variance
    assert (out["var_residual"] <= out["var_total"] + 1e-6).all()


def test_burstiness_fano_matches_pandas(spark):
    out = all_queries()["ts_burstiness_fano"](spark, SF_SMOKE).toPandas()
    ev = _smoke_events()
    hourly = ev.groupby(
        ["event_type", ev["ts"].dt.floor("h")]
    ).size()
    for _, r in out.iterrows():
        n = hourly[r["event_type"]].astype(float)
        fano = n.var(ddof=1) / n.mean()
        assert abs(r["fano_factor"] - fano) < 1e-6
        assert -1 - 1e-9 <= r["burstiness"] <= 1 + 1e-9
    # burstiness recompute (gaps partitioned by user+type, grouped by type)
    ev2 = ev.sort_values(["user_id", "event_type", "ts", "event_id"])
    us = ev2["ts"].astype("int64")
    gaps = us.groupby(
        [ev2["user_id"], ev2["event_type"]]
    ).diff().dropna()
    for _, r in out.iterrows():
        g = gaps[ev2.loc[gaps.index, "event_type"] == r["event_type"]]
        b = (g.std(ddof=1) - g.mean()) / (g.std(ddof=1) + g.mean())
        assert abs(r["burstiness"] - b) < 1e-6


def test_out_of_order_audit_matches_pandas(spark):
    r = all_queries()["ts_out_of_order_audit"](spark, SF_SMOKE).toPandas().iloc[0]
    ev = _smoke_events().sort_values(["user_id", "event_id"])
    us = ev["ts"].astype("int64")
    prev_max = us.groupby(ev["user_id"]).apply(
        lambda s: s.cummax().shift(1)
    ).reset_index(level=0, drop=True)
    late = us < prev_max
    assert int(r["n_events"]) == len(ev)
    assert int(r["n_out_of_order"]) == int(late.sum())
    if late.any():
        assert int(r["worst_skew_us"]) == int((us - prev_max)[late].min())


def test_runs_test_matches_pandas(spark):
    out = all_queries()["ts_runs_test"](spark, SF_SMOKE).toPandas()
    ev = _smoke_events()
    cents = (ev["value"] * 100).round().astype("int64")
    daily = cents.groupby(
        [ev["event_type"], ev["ts"].dt.normalize()]
    ).sum()
    for _, r in out.iterrows():
        s = daily[r["event_type"]].sort_index()
        moves = [
            1 if b > a else 0
            for a, b in zip(s, s[1:])
            if b != a
        ]
        n_up, n_down = sum(moves), len(moves) - sum(moves)
        n_runs = 1 + sum(1 for a, b in zip(moves, moves[1:]) if a != b)
        assert int(r["n_up"]) == n_up and int(r["n_down"]) == n_down
        assert int(r["n_runs"]) == n_runs
        exp = 1 + 2.0 * n_up * n_down / (n_up + n_down)
        assert abs(r["expected_runs"] - exp) < 1e-4


# --- llm family: planted signals + brute-force verification ------------------

def test_simhash_identical_docs_share_fingerprint(spark):
    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon zeta",
        "one two three four five six seven",
    ]
    out = (
        all_queries()["llm_simhash"](spark, synthetic_sf(documents=_docs(texts)))
        .toPandas()
        .set_index("doc_id")["simhash"]
    )
    assert out[0] == out[1]
    assert out[2] != out[0]
    assert ((out >= 0) & (out < 2**16)).all()


def test_minhash_jaccard_estimate_internally_consistent(spark):
    out = all_queries()["llm_minhash_jaccard_estimate"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert ((out["est_jaccard"] >= 0) & (out["est_jaccard"] <= 1)).all()
    assert ((out["exact_jaccard"] >= 0) & (out["exact_jaccard"] <= 1)).all()
    err = (out["est_jaccard"] - out["exact_jaccard"]).abs()
    assert (abs(err - out["abs_err"]) < 1e-6).all()
    # 20-lane estimator: per-pair sd <= sqrt(.25/20) ~ 0.112; 4-sigma cap
    assert out["abs_err"].max() <= 0.45
    assert out["abs_err"].mean() <= 0.15


def test_minhash_estimate_verifies_banding_pairs(spark):
    """The estimate audits the deployed signature: both ops verify the
    same candidate pairs of the same frames, so the estimate's
    (doc_a, doc_b, exact_jaccard) rows are exactly banding's
    (doc_a, doc_b, jaccard) rows."""
    qs = all_queries()
    band = qs["llm_minhash_banding"].__wrapped__(spark, SF_ORACLE).collect()
    est = qs["llm_minhash_jaccard_estimate"](spark, SF_ORACLE).collect()
    expected = {(r.doc_a, r.doc_b, r.jaccard) for r in band}
    assert expected
    assert {(r.doc_a, r.doc_b, r.exact_jaccard) for r in est} == expected
    assert len(est) == len(expected)


def test_tfidf_cosine_pairs_bounds(spark):
    out = all_queries()["llm_tfidf_cosine_pairs"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["doc_a"] < out["doc_b"]).all()
    assert ((out["tfidf_cosine"] >= -1e-9)
            & (out["tfidf_cosine"] <= 1 + 1e-9)).all()


def test_sim_blocked_matches_brute_force(spark):
    out = all_queries()["llm_sim_blocked"](spark, SF_SMOKE).toPandas()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    m = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    ids = emb["vec_id"].to_numpy()
    sims = m @ m.T
    iu = np.triu_indices(len(ids), k=1)
    truth = {
        (int(ids[i]), int(ids[j])): float(sims[i, j])
        for i, j in zip(*iu)
        if round(sims[i, j], 6) >= 0.35 - 1e-4
    }
    got = {
        (int(r.vec_a), int(r.vec_b)): float(r.sim) for r in out.itertuples()
    }
    # every reported pair is a true >= threshold pair with the right sim
    for pair, sim in got.items():
        assert pair in truth and abs(truth[pair] - sim) < 1e-5
    # every clearly-above-threshold true pair is reported
    for pair, sim in truth.items():
        if round(sim, 6) >= 0.35 + 1e-4:
            assert pair in got


def test_sim_pairs_label_covers_all_pairs(spark):
    out = all_queries()["llm_sim_pairs_label"](spark, SF_SMOKE).toPandas()
    assert ((out["avg_sim"] >= -1 - 1e-9) & (out["avg_sim"] <= 1 + 1e-9)).all()
    assert (out["pair_cnt"] > 0).all()


def test_decontamination_finds_planted_leak(spark):
    eval_text = " ".join(f"ev{i}" for i in range(20))  # doc 0: 0 % 17 == 0
    leaked = eval_text + " tail1 tail2"                # shares 13-grams
    clean = [
        " ".join(f"w{d}x{i}" for i in range(15)) for d in range(15)
    ]  # disjoint vocab, long enough to shingle
    texts = [eval_text, leaked] + clean  # doc_ids 0..16
    out = all_queries()["llm_decontamination"](
        spark, synthetic_sf(documents=_docs(texts))
    ).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert int(r["n_train_docs"]) == 16
    assert int(r["n_contaminated_docs"]) == 1
    assert abs(r["contamination_rate"] - round(1 / 16, 6)) < 1e-9
    # the leaked doc has 22 tokens -> 10 distinct 13-grams, 8 of which
    # (those fully inside the copied 20-token prefix) hit the eval set
    assert int(r["n_gram_hits"]) == 8


# --- graph family: handshake + bounds on the seeded functional graph ---------

def test_degree_stats_histogram_matches_pandas(spark):
    out = all_queries()["graph_degree_stats"](spark, SF_SMOKE).toPandas()
    users = np.sort(_smoke_events()["user_id"].unique())
    n = len(users)
    edges = set()
    for u in users:
        for d in ((u * 7 + 13) % n, (u * 11 + 5) % n):
            if d != u:
                edges.add((min(u, d), max(u, d)))
    deg: dict[int, int] = {}
    for a, b in edges:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    truth = pd.Series(deg).value_counts()
    got = dict(zip(out["degree"], out["n_nodes"]))
    assert got == {int(k): int(v) for k, v in truth.items()}
    # handshake lemma over the histogram
    assert (out["degree"] * out["n_nodes"]).sum() == 2 * len(edges)


def test_jaccard_link_prediction_bounds(spark):
    out = all_queries()["graph_jaccard_link_prediction"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["user_a"] < out["user_b"]).all()
    assert (out["common_neighbors"] >= 1).all()
    assert ((out["jaccard"] > 0) & (out["jaccard"] <= 1 + 1e-9)).all()


def test_k_core_is_a_subgraph(spark):
    r = all_queries()["graph_k_core"](spark, SF_SMOKE).toPandas().iloc[0]
    users = np.sort(_smoke_events()["user_id"].unique())
    n = len(users)
    edges = set()
    for u in users:
        for d in ((u * 7 + 13) % n, (u * 11 + 5) % n):
            if d != u:
                edges.add((min(u, d), max(u, d)))
    assert 0 <= int(r["n_vertices"]) <= n
    assert 0 <= int(r["n_edges"]) <= len(edges)
