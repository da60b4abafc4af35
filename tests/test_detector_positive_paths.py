"""Planted-signal tests for every detector/audit op whose alarm NEVER fires
on the clean corpus (found by a round-9 degeneracy sweep over all signal
columns at both test tiers — the same failure class as the bloom-FPR-audit
empty probe set, where an op can hash-match a degenerate oracle forever
while its detection logic is dead code).

Each test plants a fault/signal in a synthetic table and asserts the alarm
fires; each also asserts the alarm stays QUIET on the clean corpus, so the
pair pins both sides of the decision boundary. Three flagged ops are not
here because their positive path is already exercised elsewhere
(ts_ljung_box: planted trend, ml_two_proportion_ztest: planted uplift) or
the quiet outcome IS the correct one by construction
(agg_hash_uniformity_chisq: md5 is uniform; the alarm firing would mean
the hash is broken)."""

from __future__ import annotations

import pandas as pd

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from tests.conftest import synthetic_sf

SF_SMOKE = "/root/testdata/sf0.001"

def test_out_of_order_audit_detects_planted_disorder(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    # quiet on the clean corpus
    quiet = all_queries()["ts_out_of_order_audit"](spark, SF_SMOKE).toPandas().iloc[0]
    assert int(quiet["n_out_of_order"]) == 0
    # swap one user's first two timestamps so the later event_id runs behind
    g = ev[ev["user_id"] == ev["user_id"].iloc[0]].sort_values("event_id")
    i0, i1 = g.index[0], g.index[1]
    ev.loc[[i0, i1], "ts"] = ev.loc[[i1, i0], "ts"].to_numpy()
    if ev.loc[i0, "ts"] <= ev.loc[i1, "ts"]:  # ties can't disorder; force it
        ev.loc[i1, "ts"] = ev.loc[i0, "ts"] - pd.Timedelta(hours=1)
    r = all_queries()["ts_out_of_order_audit"](
        spark, synthetic_sf(events=ev)
    ).toPandas().iloc[0]
    assert int(r["n_out_of_order"]) >= 1
    assert int(r["worst_skew_us"]) < 0  # skew is how far BEHIND the max


def test_iqr_fences_detect_planted_outlier(spark):
    quiet = all_queries()["agg_iqr_outlier_fences"](spark, SF_SMOKE).toPandas()
    assert (quiet["n_outliers"] == 0).all()
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    li.loc[li.index[0], "l_extendedprice"] = 10_000_000.0  # a whale line
    out = all_queries()["agg_iqr_outlier_fences"](
        spark, synthetic_sf(lineitem=li)
    ).toPandas()
    flag = li.loc[li.index[0], "l_returnflag"]
    assert int(out.loc[out["l_returnflag"] == flag, "n_outliers"].iloc[0]) >= 1


def test_benjamini_hochberg_detects_planted_shift(spark):
    quiet = all_queries()["agg_benjamini_hochberg"](spark, SF_SMOKE).toPandas()
    assert (quiet["significant_fdr05"] == 0).all()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev.loc[ev["event_type"] == "error", "value"] += 500.0
    out = all_queries()["agg_benjamini_hochberg"](
        spark, synthetic_sf(events=ev)
    ).toPandas()
    # the shift moves the GLOBAL mean, so every group's z vs the pooled
    # mean becomes extreme — the planted group must fire and carry by far
    # the largest |z| (positive: it sits above the mean it dragged up)
    sig = out.set_index("event_type")["significant_fdr05"]
    assert int(sig["error"]) == 1
    z = out.set_index("event_type")["z_stat"]
    assert z["error"] > 0 and z["error"] == z.abs().max()


def test_tukey_hsd_detects_planted_group_difference(spark):
    quiet = all_queries()["agg_tukey_hsd"](spark, SF_SMOKE).toPandas()
    assert not quiet["significant_5pct"].any()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev.loc[ev["event_type"] == "error", "value"] += 500.0
    out = all_queries()["agg_tukey_hsd"](spark, synthetic_sf(events=ev)).toPandas()
    hits = out[out["significant_5pct"]]
    assert len(hits) >= 4  # 'error' vs each of the other 4 types
    assert (
        (hits["type_a"] == "error") | (hits["type_b"] == "error")
    ).all()


def test_fk_orphan_audit_detects_planted_orphans(spark):
    quiet = all_queries()["etl_fk_orphan_audit"](spark, SF_SMOKE).toPandas()
    assert (quiet["n_orphans"] == 0).all()
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    o.loc[o.index[:3], "o_custkey"] = 999_999_999  # no such customer
    out = all_queries()["etl_fk_orphan_audit"](spark, synthetic_sf(orders=o)).toPandas()
    edge = out[out["fk_edge"].str.contains("cust", case=False)]
    assert int(edge["n_orphans"].sum()) == 3


def test_null_rate_drift_detects_planted_field_drop(spark):
    quiet = all_queries()["etl_null_rate_drift"](spark, SF_SMOKE).toPandas()
    assert not quiet["drift_alert"].any()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    # a producer "silently drops" props for one stream in the second half
    mask = (ev["event_type"] == "click") & (ev["ts"].dt.day > 15)
    ev.loc[mask, "props"] = "{}"
    out = all_queries()["etl_null_rate_drift"](spark, synthetic_sf(events=ev)).toPandas()
    r = out[out["event_type"] == "click"].iloc[0]
    assert bool(r["drift_alert"])
    assert r["empty_props_drift"] > 0.05


def test_cross_snapshot_dedup_detects_planted_duplicate(spark):
    quiet = all_queries()["llm_cross_snapshot_dedup"](spark, SF_SMOKE).toPandas()
    assert (quiet["n_dup_vs_hist"] == 0).all()
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    # copy an even (historical) doc's text into an odd (new-batch) doc
    even_text = docs.loc[docs["doc_id"] % 2 == 0, "text"].iloc[0]
    odd_idx = docs.index[docs["doc_id"] % 2 == 1][0]
    docs.loc[odd_idx, "text"] = even_text
    out = all_queries()["llm_cross_snapshot_dedup"](
        spark, synthetic_sf(documents=docs)
    ).toPandas()
    assert int(out["n_dup_vs_hist"].sum()) == 1
    src = docs.loc[odd_idx, "source"]
    r = out[out["source"] == src].iloc[0]
    assert int(r["n_batch"]) == int(r["n_dup_vs_hist"]) + int(r["n_new"])


def test_cardinality_audit_detects_planted_fanout(spark):
    quiet = all_queries()["join_cardinality_estimate_audit"](spark, SF_SMOKE).toPandas()
    assert not quiet["explosion_risk"].any()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    # one hot user with 40 clicks and 30 purchases -> 1200 predicted pairs
    hot = pd.DataFrame(
        {
            "event_id": range(10_000_000, 10_000_070),
            "ts": pd.Series(
                pd.date_range("2024-01-05", periods=70, freq="min"),
                dtype="datetime64[us]",
            ),
            "user_id": 7,
            "event_type": ["click"] * 40 + ["purchase"] * 30,
            "value": 1.0,
            "props": "{}",
        }
    )
    out = all_queries()["join_cardinality_estimate_audit"](
        spark, synthetic_sf(events=pd.concat([ev, hot], ignore_index=True))
    ).toPandas()
    r = out[out["user_id"] == 7].iloc[0]
    assert bool(r["explosion_risk"])
    assert int(r["predicted_pairs"]) == int(r["n_left"]) * int(r["n_right"])
    assert int(r["predicted_pairs"]) > 1000


def test_psi_drift_detects_planted_distribution_shift(spark):
    # clean-corpus quiet is asserted (at both tiers) in
    # tests/test_properties_r11_window.py::test_psi_drift_matches_pandas
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    mask = (ev["event_type"] == "click") & (ev["ts"].dt.day > 15)
    ev.loc[mask, "value"] = ev.loc[mask, "value"] + 200.0  # band shift
    out = all_queries()["etl_psi_drift"](spark, synthetic_sf(events=ev)).toPandas()
    r = out[out["event_type"] == "click"].iloc[0]
    assert r["drift_band"] == "major"
    assert r["psi"] > 0.25


def test_predicate_correlation_detects_planted_coupling(spark):
    quiet = all_queries()["scan_predicate_correlation_audit"](spark, SF_SMOKE).toPandas()
    assert not quiet["correlated"].any()
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    # couple qty>25 exactly to price>30000: P(A&B)/(P(A)P(B)) = 1/P(A) >> 1.2
    li["l_quantity"] = (li["l_extendedprice"] > 30000).map({True: 50.0, False: 1.0})
    out = all_queries()["scan_predicate_correlation_audit"](
        spark, synthetic_sf(lineitem=li)
    ).toPandas()
    r = out[out["pred_pair"] == "qty_x_price"].iloc[0]
    assert bool(r["correlated"])
    assert r["correlation_factor"] > 1.2


def test_hill_index_detects_planted_heavy_tail(spark):
    quiet = all_queries()["agg_hill_tail_index"](spark, SF_SMOKE).toPandas().iloc[0]
    assert not bool(quiet["infinite_variance_regime"])
    o = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    # plant a Pareto(alpha=1.2) upper tail: v_k = C * k^(-1/1.2), k=1..300,
    # with C large enough that the whole top-101 order-statistic window is
    # planted (C=1e7 left the smallest planted value below the corpus's own
    # big orders, diluting the estimator). alpha < 2 = infinite variance.
    k = pd.Series(range(1, 301), dtype=float)
    o.loc[o.index[:300], "o_totalprice"] = (1e9 * k.pow(-1 / 1.2)).to_numpy()
    r = all_queries()["agg_hill_tail_index"](
        spark, synthetic_sf(orders=o)
    ).toPandas().iloc[0]
    assert bool(r["infinite_variance_regime"])
    assert 0.9 < r["tail_alpha"] < 1.6  # recovers the planted alpha=1.2


def test_freshness_sla_detects_planted_stale_stream(spark):
    quiet = all_queries()["etl_freshness_sla_audit"](spark, SF_SMOKE).toPandas()
    assert not quiet["breach_24h"].any() and not quiet["breach_72h"].any()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    # the click producer goes dark after Jan 3; the rest keep flowing
    ev = ev[(ev["event_type"] != "click") | (ev["ts"].dt.day <= 3)]
    out = all_queries()["etl_freshness_sla_audit"](
        spark, synthetic_sf(events=ev.reset_index(drop=True))
    ).toPandas()
    r = out[out["event_type"] == "click"].iloc[0]
    assert bool(r["breach_24h"]) and bool(r["breach_72h"])
    assert r["lag_hours"] > 72
    others = out[out["event_type"] != "click"]
    assert not others["breach_24h"].any()


def test_char_class_mix_detects_planted_symbol_spam(spark):
    quiet = all_queries()["llm_char_class_mix"](spark, SF_SMOKE).toPandas()
    assert not quiet["symbol_heavy"].any()
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    spam_src = docs["source"].iloc[0]
    docs.loc[docs["source"] == spam_src, "text"] = "@@@@ #### $$$$ %%%% !!!!"
    out = all_queries()["llm_char_class_mix"](
        spark, synthetic_sf(documents=docs)
    ).toPandas()
    r = out[out["source"] == spam_src].iloc[0]
    assert bool(r["symbol_heavy"])
    assert r["symbol_share"] > 0.10
    assert not out.loc[out["source"] != spam_src, "symbol_heavy"].any()


def test_quarantine_routing_detects_planted_bad_rows(spark):
    quiet = all_queries()["etl_quarantine_routing"](spark, SF_SMOKE).toPandas()
    assert set(quiet["route"]) == {"pass"}
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    i = ev.index
    ev.loc[i[0], "value"] = -5.0                      # rule 1
    ev.loc[i[1], "event_type"] = "mystery"            # rule 2
    ev.loc[i[2], "ts"] = pd.Timestamp("2023-12-25")   # rule 4
    ev.loc[i[3], "props"] = "not-json"                # rule 8
    ev.loc[i[4], "value"] = -1.0                      # rules 1+8 together
    ev.loc[i[4], "props"] = "also-bad"
    out = all_queries()["etl_quarantine_routing"](
        spark, synthetic_sf(events=ev)
    ).toPandas().set_index("rule_bitmap")
    for bm in (1, 2, 4, 8, 9):
        assert out.loc[bm, "route"] == "quarantine"
        assert int(out.loc[bm, "n_rows"]) == 1
    assert int(out.loc[0, "n_rows"]) == len(ev) - 5


def test_format_detect_fires_on_planted_structures(spark):
    # genuinely zero on the clean corpus (the synthetic text carries no
    # punctuation at all) — asserted as the quiet side
    quiet = all_queries()["llm_format_detect"](spark, SF_SMOKE).toPandas()
    rate_cols = [
        "table_markup_rate", "question_rate", "keyvalue_rate",
        "parenthetical_rate", "sentence_rate",
    ]
    assert (quiet[rate_cols].to_numpy() == 0).all()
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    src = docs["source"].iloc[0]
    docs.loc[docs["source"] == src, "text"] = (
        "col_a | col_b | col_c ? really : yes (see table). done."
    )
    out = all_queries()["llm_format_detect"](
        spark, synthetic_sf(documents=docs)
    ).toPandas().set_index("source")
    for col in rate_cols:
        assert out.loc[src, col] == 1.0
        assert (out.loc[out.index != src, col] == 0).all()


def test_boilerplate_detect_fires_on_planted_template(spark):
    quiet = all_queries()["llm_template_boilerplate_detect"](spark, SF_SMOKE).toPandas()
    assert (quiet["boilerplate_share"] == 0).all()
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    src = docs["source"].iloc[0]
    idx = docs.index[docs["source"] == src]
    # prepend the same legal footer to MORE than half the source's docs
    # (boilerplate rule: shingle doc-frequency * 2 >= source doc count)
    n_hit = len(idx) // 2 + 1
    docs.loc[idx[:n_hit], "text"] = (
        "copyright acme corp all rights reserved " + docs.loc[idx[:n_hit], "text"]
    )
    out = all_queries()["llm_template_boilerplate_detect"](
        spark, synthetic_sf(documents=docs)
    ).toPandas().set_index("source")
    # the 7-token footer yields exactly 4 internal shared 3-grams (the
    # gram bridging into each doc's own text differs per doc)
    assert int(out.loc[src, "n_boilerplate_shingles"]) == 4
    assert out.loc[src, "boilerplate_share"] > 0
    assert (out.loc[out.index != src, "boilerplate_share"] == 0).all()


# --- empty-output sweep follow-ups (ops that returned 0 rows at BOTH tiers) --

def test_tpch_q11_returns_important_parts(spark):
    """The original hard-coded 1% HAVING (and supplier-less NATION_7 at
    smoke) made Q11 a driver-green EMPTY SET at every tier; the
    self-scaling 2x-mean-share threshold must keep it populated."""
    out = all_queries()["tpch_q11"](spark, SF_SMOKE).toPandas()
    assert len(out) == 15  # ~10% of NATION_3's 195 smoke parts
    assert (out["part_value"] > 0).all()


def test_dedup_survivorship_on_planted_duplicates(spark):
    # the base corpus has no exact-duplicate texts -> empty is correct
    assert len(all_queries()["llm_dedup_survivorship"](spark, SF_SMOKE).toPandas()) == 0
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    # plant a 3-member dup group; survivorship = longest text wins,
    # doc_id breaks ties
    i = docs.index[:3]
    docs.loc[i, "text"] = "identical payload text for survivorship"
    docs.loc[i, "n_chars"] = [40, 99, 40]  # middle doc is "best"
    out = all_queries()["llm_dedup_survivorship"](
        spark, synthetic_sf(documents=docs)
    ).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert int(r["survivor_doc"]) == int(docs.loc[i[1], "doc_id"])
    assert int(r["n_members"]) == 3 and int(r["n_discarded"]) == 2


def test_missing_partition_detect_on_planted_gap(spark):
    assert len(all_queries()["etl_missing_partition_detect"](spark, SF_SMOKE).toPandas()) == 0
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    gap = ev[ev["ts"].dt.day != 17]  # day 17 goes missing
    out = all_queries()["etl_missing_partition_detect"](
        spark, synthetic_sf(events=gap.reset_index(drop=True))
    ).toPandas()
    assert len(out) >= 1
    days = pd.to_datetime(out["day"]).dt.day
    assert (days == 17).all()  # exactly the planted gap, for every stream
    assert set(out["event_type"]) == set(ev["event_type"].unique())
