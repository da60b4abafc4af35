"""Property checks for the 13 late round-6 additions (r6 verdict task #5):
inequality-index identities (Theil = 0 iff uniform, HHI bounds and the
effective-N inverse), distance bounds (Hellinger in [0,1], coef = 1 on
identical distributions), oscillator bounds (%K/%D and RSI in [0,100] with
the avg-loss-0 pin), VWAP between the running day-price extrema,
permutation-entropy <= ln 6 with the monotone-series zero pin, basket-lift
algebra on planted co-occurrence, 1-D DBSCAN gap/minPts semantics, Hurst
trend detection, survivorship determinism under row-order permutation, and
grid-density closure — all through the REGISTERED ops on synthetic corpora
in throwaway sf_dirs (same loader path the driver uses)."""

from __future__ import annotations

import math

import pandas as pd
from hypothesis import given, settings, strategies as st

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from tests.conftest import synthetic_sf

SF_SMOKE = "/root/testdata/sf0.001"

_SETTINGS = dict(max_examples=5, deadline=None)


def _customer(balances, segments=None) -> pd.DataFrame:
    n = len(balances)
    return pd.DataFrame(
        {
            "c_custkey": range(1, n + 1),
            "c_name": [f"Customer#{i}" for i in range(1, n + 1)],
            "c_nationkey": pd.array([i % 5 for i in range(n)], dtype="int32"),
            "c_acctbal": [float(b) for b in balances],
            "c_mktsegment": segments or ["BUILDING"] * n,
        }
    )


def _daily_events(cents_by_day, start="2024-01-02") -> pd.DataFrame:
    days = pd.date_range(start, periods=len(cents_by_day), freq="D")
    return pd.DataFrame(
        {
            "event_id": range(len(cents_by_day)),
            "ts": pd.Series(
                [d + pd.Timedelta(hours=12) for d in days], dtype="datetime64[us]"
            ),
            "user_id": [i % 7 for i in range(len(cents_by_day))],
            "event_type": ["purchase"] * len(cents_by_day),
            "value": [c / 100.0 for c in cents_by_day],
            "props": ["{}"] * len(cents_by_day),
        }
    )


# --- agg_theil_index ---------------------------------------------------------

@given(bal=st.floats(min_value=10.0, max_value=9000.0, allow_nan=False,
                     width=64))
@settings(**_SETTINGS)
def test_theil_zero_iff_uniform(spark, bal):
    """Every customer holding the SAME positive balance gives Theil-T = 0
    and Atkinson = 0 exactly; mean_balance is that balance."""
    bal = round(bal, 2)
    sf = synthetic_sf(customer=_customer([bal] * 40))
    out = all_queries()["agg_theil_index"](spark, sf).toPandas()
    assert len(out) == 1
    assert abs(out.loc[0, "theil_t"]) <= 1e-6
    assert abs(out.loc[0, "atkinson_equiv"]) <= 1e-6
    assert abs(out.loc[0, "mean_balance"] - bal) <= 0.01


def test_theil_nonnegative_on_smoke(spark):
    out = all_queries()["agg_theil_index"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["theil_t"] >= -1e-6).all()
    # unequal real balances: strictly positive, and Atkinson = 1 - e^{-T}
    for _, r in out.iterrows():
        assert abs(r["atkinson_equiv"] - (1 - math.exp(-r["theil_t"]))) < 1e-4


# --- agg_hellinger_distance --------------------------------------------------

def test_hellinger_zero_on_identical_distributions(spark):
    """Two sources with the SAME n_chars multiset each match the corpus
    distribution exactly: coefficient 1, Hellinger 0, Bhattacharyya 0."""
    lens = [100, 100, 300, 600, 600, 900, 1200, 2600]
    rows = []
    for s in ("web", "wiki"):
        for i, ln in enumerate(lens):
            rows.append((len(rows), "x" * 5, "en", s, ln))
    docs = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    sf = synthetic_sf(documents=docs)
    out = all_queries()["agg_hellinger_distance"](spark, sf).toPandas()
    assert len(out) == 2
    assert (abs(out["bhattacharyya_coef"] - 1.0) <= 1e-6).all()
    assert (abs(out["hellinger_dist"]) <= 1e-3).all()
    assert (abs(out["bhattacharyya_dist"]) <= 1e-4).all()


def test_hellinger_bounds_on_smoke(spark):
    out = all_queries()["agg_hellinger_distance"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["hellinger_dist"] >= -1e-9).all()
    assert (out["hellinger_dist"] <= 1.0 + 1e-9).all()
    assert (out["bhattacharyya_coef"] <= 1.0 + 1e-6).all()
    assert (out["bhattacharyya_coef"] > 0).all()


# --- agg_herfindahl_index ----------------------------------------------------

def test_hhi_bounds_and_effective_n_inverse(spark):
    out = all_queries()["agg_herfindahl_index"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    for _, r in out.iterrows():
        assert 1.0 / r["n_brands"] - 1e-4 <= r["hhi"] <= 1.0 + 1e-9
        assert abs(r["effective_n_brands"] - 1.0 / r["hhi"]) <= 1e-2
        assert r["effective_n_brands"] <= r["n_brands"] + 1e-6
        band = (
            "concentrated" if r["hhi"] > 0.2501 else
            "moderate" if 0.1501 < r["hhi"] <= 0.2499 else None
        )
        if band is not None:
            assert r["hhi_band"] == band


def test_hhi_single_brand_is_one(spark):
    """One brand per manufacturer ⇒ HHI = 1, effective N = 1."""
    part = pd.DataFrame(
        {
            "p_partkey": [1, 2],
            "p_name": ["pa", "pb"],
            "p_brand": ["Brand#11", "Brand#21"],
            "p_type": ["t"] * 2,
            "p_size": pd.array([1, 1], dtype="int32"),
            "p_retailprice": [10.0, 20.0],
        }
    )
    li = pd.DataFrame(
        {
            "l_orderkey": [1, 1, 2, 2],
            "l_partkey": [1, 2, 1, 2],
            "l_suppkey": [1] * 4,
            "l_linenumber": pd.array([1, 2, 1, 2], dtype="int32"),
            "l_quantity": [1.0] * 4,
            "l_extendedprice": [100.0, 250.0, 140.0, 90.0],
            "l_discount": [0.0] * 4,
            "l_tax": [0.0] * 4,
            "l_returnflag": ["N"] * 4,
            "l_linestatus": ["O"] * 4,
            "l_shipdate": pd.Series(
                [pd.Timestamp("2024-03-05")] * 4, dtype="datetime64[us]"
            ),
        }
    )
    sf = synthetic_sf(part=part, lineitem=li)
    out = all_queries()["agg_herfindahl_index"](spark, sf).toPandas()
    assert len(out) == 2
    assert (abs(out["hhi"] - 1.0) <= 1e-9).all()
    assert (abs(out["effective_n_brands"] - 1.0) <= 1e-9).all()
    assert (out["hhi_band"] == "concentrated").all()
    assert (out["n_brands"] == 1).all()


# --- agg_jarque_bera ---------------------------------------------------------

def test_jarque_bera_nonneg_and_flag_consistency(spark):
    out = all_queries()["agg_jarque_bera"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["jb_stat"] >= -1e-9).all()
    for _, r in out.iterrows():
        if r["jb_stat"] > 6.0:
            assert bool(r["reject_normality_5pct"])
        if r["jb_stat"] < 5.98:
            assert not bool(r["reject_normality_5pct"])


def test_jarque_bera_symmetric_two_point(spark):
    """A symmetric two-point distribution has skewness 0 and excess
    kurtosis exactly -2, so JB = n/6 * (0 + 4/4) = n/6."""
    n = 120
    vals = [10.0, 30.0] * (n // 2)
    ev = _daily_events([int(v * 100) for v in vals])
    sf = synthetic_sf(events=ev)
    out = all_queries()["agg_jarque_bera"](spark, sf).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert abs(r["skewness"]) <= 1e-6
    assert abs(r["excess_kurtosis"] + 2.0) <= 1e-6
    assert abs(r["jb_stat"] - n / 6.0) <= 1e-3
    assert bool(r["reject_normality_5pct"]) == (n / 6.0 > 5.991464547107979)


# --- agg_market_basket_lift --------------------------------------------------

@given(k=st.integers(min_value=2, max_value=8),
       extra=st.integers(min_value=2, max_value=10))
@settings(**_SETTINGS)
def test_basket_lift_on_planted_cooccurrence(spark, k, extra):
    """Brands A and B co-occur in exactly k of N = k + extra orders (the
    others hold only brand C): lift(A,B) = N/k, confidence = 1,
    support = k/N — the textbook association algebra."""
    n_orders = k + extra
    part = pd.DataFrame(
        {
            "p_partkey": [1, 2, 3],
            "p_name": ["pa", "pb", "pc"],
            "p_brand": ["Brand#11", "Brand#22", "Brand#33"],
            "p_type": ["t"] * 3,
            "p_size": pd.array([1] * 3, dtype="int32"),
            "p_retailprice": [1.0] * 3,
        }
    )
    rows = []
    for ok in range(1, k + 1):
        rows += [(ok, 1), (ok, 2)]
    for ok in range(k + 1, n_orders + 1):
        rows.append((ok, 3))
    li = pd.DataFrame(
        {
            "l_orderkey": [r[0] for r in rows],
            "l_partkey": [r[1] for r in rows],
            "l_suppkey": [1] * len(rows),
            "l_linenumber": pd.array(range(1, len(rows) + 1), dtype="int32"),
            "l_quantity": [1.0] * len(rows),
            "l_extendedprice": [10.0] * len(rows),
            "l_discount": [0.0] * len(rows),
            "l_tax": [0.0] * len(rows),
            "l_returnflag": ["N"] * len(rows),
            "l_linestatus": ["O"] * len(rows),
            "l_shipdate": pd.Series(
                [pd.Timestamp("2024-03-05")] * len(rows), dtype="datetime64[us]"
            ),
        }
    )
    sf = synthetic_sf(part=part, lineitem=li)
    out = all_queries()["agg_market_basket_lift"](spark, sf).toPandas()
    assert len(out) == 1  # only the (A, B) pair ever co-occurs
    r = out.iloc[0]
    assert (r["brand_a"], r["brand_b"]) == ("Brand#11", "Brand#22")
    assert r["n_co"] == k
    assert abs(r["support"] - k / n_orders) <= 1e-6
    assert abs(r["confidence_a_to_b"] - 1.0) <= 1e-6
    assert abs(r["lift"] - n_orders / k) <= 1e-4


def test_basket_lift_matches_oracle_on_planted_edges(spark):
    """The generator-paired basket against its DuckDB oracle on a corpus
    planted with its edges: NULL brands beside real ones, an order whose
    parts all have a NULL brand (it still counts in n_orders), lineitems
    with no matching part (an order of only those vanishes), one-brand
    orders, a brand repeated inside an order, and Brand#44 in one order."""
    import duckdb

    from highspeedrailwaybigdatasystem_spark.registry import all_oracles
    from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES
    from tools.mirror import compare

    brands = ["Brand#11", "Brand#22", "Brand#33", None, None, "Brand#44",
              "Brand#11"]
    part = pd.DataFrame(
        {
            "p_partkey": range(1, len(brands) + 1),
            "p_name": [f"p{i}" for i in range(1, len(brands) + 1)],
            "p_brand": brands,
            "p_type": ["t"] * len(brands),
            "p_size": pd.array([1] * len(brands), dtype="int32"),
            "p_retailprice": [1.0] * len(brands),
        }
    )
    orders = {
        1: [1, 2, 3, 4],  # a NULL brand beside three real ones
        2: [1, 2, 7],     # Brand#11 twice, through parts 1 and 7
        3: [4, 5],        # every part's brand is NULL
        4: [99],          # no matching part: the order vanishes
        5: [2, 99],       # one matching, one unmatched lineitem
        6: [3],           # one-brand orders
        7: [6, 1, 3],     # Brand#44's only order
        8: [2],
        9: [1, 2],
    }
    rows = [(ok, pk) for ok, pks in orders.items() for pk in pks]
    li = pd.DataFrame(
        {
            "l_orderkey": [r[0] for r in rows],
            "l_partkey": [r[1] for r in rows],
            "l_suppkey": [1] * len(rows),
            "l_linenumber": pd.array(range(1, len(rows) + 1), dtype="int32"),
            "l_quantity": [1.0] * len(rows),
            "l_extendedprice": [10.0] * len(rows),
            "l_discount": [0.0] * len(rows),
            "l_tax": [0.0] * len(rows),
            "l_returnflag": ["N"] * len(rows),
            "l_linestatus": ["O"] * len(rows),
            "l_shipdate": pd.Series(
                [pd.Timestamp("2024-03-05")] * len(rows), dtype="datetime64[us]"
            ),
        }
    )
    sf = synthetic_sf(part=part, lineitem=li)
    out = all_queries()["agg_market_basket_lift"](spark, sf).toPandas()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    duck = con.execute(all_oracles()["agg_market_basket_lift"]).fetchdf()
    con.close()
    assert len(out) == 5  # the five brand pairs that share an order
    assert not compare("agg_market_basket_lift", out, duck)
    # n_orders = 8 (order 4 vanished, order 3 counts): support of the
    # (11, 22) pair, which orders 1, 2 and 9 hold.
    r = out[(out.brand_a == "Brand#11") & (out.brand_b == "Brand#22")].iloc[0]
    assert r["n_co"] == 3 and abs(r["support"] - 3 / 8) <= 1e-6


def test_basket_invariants_on_smoke(spark):
    out = all_queries()["agg_market_basket_lift"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["brand_a"] < out["brand_b"]).all()
    assert (out["n_co"] >= 1).all()
    assert (out["confidence_a_to_b"] <= 1.0 + 1e-9).all()
    # P(AB) <= P(A): support <= confidence since nb_a <= n_orders
    assert (out["support"] <= out["confidence_a_to_b"] + 1e-9).all()
    assert (out["lift"] > 0).all()


# --- ml_dbscan_1d ------------------------------------------------------------

def test_dbscan_two_groups_split_by_gap(spark):
    """60 customers on adjacent dollar levels around 1000 and 30 around
    2000 (gap 997 > eps 300): exactly two segments — a 'cluster' (>= 50
    points) and a 'noise' run (< 50)."""
    balances = [1000 + (i % 3) for i in range(60)] + [
        2000 + (i % 2) for i in range(30)
    ]
    sf = synthetic_sf(customer=_customer([float(b) for b in balances]))
    out = (
        all_queries()["ml_dbscan_1d"](spark, sf)
        .toPandas()
        .sort_values("cluster_start")
        .reset_index(drop=True)
    )
    assert len(out) == 2
    assert out.loc[0, "cluster_start"] == 1000
    assert out.loc[0, "cluster_end"] == 1002
    assert out.loc[0, "n_points"] == 60
    assert out.loc[0, "status"] == "cluster"
    assert out.loc[1, "cluster_start"] == 2000
    assert out.loc[1, "n_points"] == 30
    assert out.loc[1, "status"] == "noise"


def test_dbscan_segments_disjoint_on_smoke(spark):
    out = (
        all_queries()["ml_dbscan_1d"](spark, SF_SMOKE)
        .toPandas()
        .sort_values("cluster_start")
        .reset_index(drop=True)
    )
    assert len(out) > 0
    assert (out["cluster_end"] >= out["cluster_start"]).all()
    assert (out["n_points"] >= 1).all()
    assert set(out["status"]) <= {"cluster", "noise"}
    # consecutive segments separated by more than eps (the split rule)
    gaps = out["cluster_start"].iloc[1:].values - out["cluster_end"].iloc[:-1].values
    assert (gaps > 300).all()
    assert ((out["status"] == "cluster") == (out["n_points"] >= 50)).all()


# --- ts_hurst_rs -------------------------------------------------------------

@given(slope=st.integers(min_value=50, max_value=500))
@settings(**_SETTINGS)
def test_hurst_detects_trend(spark, slope):
    """A strictly linear daily revenue trend is maximally persistent:
    R/S grows ~linearly with window size, so the log-log slope (Hurst)
    must be far above the 0.5 random-walk line."""
    cents = [100_000 + slope * i for i in range(34)]
    sf = synthetic_sf(events=_daily_events(cents))
    out = all_queries()["ts_hurst_rs"](spark, sf).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["n_days"] == 34
    assert r["rs_w4"] > 0 and r["rs_w8"] > 0 and r["rs_w16"] > 0
    assert r["rs_w4"] < r["rs_w8"] < r["rs_w16"]
    assert r["hurst_exponent"] > 0.8


# --- win_rsi -----------------------------------------------------------------

def test_rsi_pins_at_extremes(spark):
    """Strictly increasing daily revenue ⇒ avg_loss = 0 ⇒ RSI = 100;
    strictly decreasing ⇒ avg_gain = 0 ⇒ RSI = 0."""
    up = [100_000 + 137 * i for i in range(20)]
    sf = synthetic_sf(events=_daily_events(up))
    out = all_queries()["win_rsi"](spark, sf).toPandas()
    assert len(out) > 0
    assert (out["avg_loss_cents"] == 0).all()
    assert (out["rsi_14"] == 100.0).all()

    down = [100_000 - 137 * i for i in range(20)]
    sf = synthetic_sf(events=_daily_events(down))
    out = all_queries()["win_rsi"](spark, sf).toPandas()
    assert len(out) > 0
    assert (out["avg_gain_cents"] == 0).all()
    assert (out["rsi_14"] == 0.0).all()


def test_rsi_bounds_on_smoke(spark):
    out = all_queries()["win_rsi"](spark, SF_SMOKE).toPandas()
    if len(out):
        assert (out["rsi_14"] >= -1e-9).all()
        assert (out["rsi_14"] <= 100.0 + 1e-9).all()


# --- win_stochastic_oscillator -------------------------------------------------

def test_stochastic_bounds_and_signal(spark):
    out = all_queries()["win_stochastic_oscillator"](spark, SF_SMOKE).toPandas()
    if not len(out):  # 31-day smoke window always yields rows, but guard
        return
    assert (out["pct_k"] >= -1e-9).all() and (out["pct_k"] <= 100 + 1e-9).all()
    assert (out["pct_d"] >= -1e-9).all() and (out["pct_d"] <= 100 + 1e-9).all()
    for _, r in out.iterrows():
        expect = (
            "overbought" if r["pct_k"] > 80 else
            "oversold" if r["pct_k"] < 20 else "neutral"
        )
        assert r["signal"] == expect


# --- win_vwap_anchored ---------------------------------------------------------

def test_vwap_between_running_price_extrema(spark):
    """The anchored VWAP is a volume-weighted mean of the month's day
    prices so far, so it must lie between their running min and max;
    above_vwap mirrors day price vs VWAP (away from the rounding edge)."""
    out = (
        all_queries()["win_vwap_anchored"](spark, SF_SMOKE)
        .toPandas()
        .sort_values(["month", "day"])
    )
    assert len(out) > 0
    for _, g in out.groupby("month"):
        lo = g["day_avg_price"].cummin()
        hi = g["day_avg_price"].cummax()
        assert (g["vwap_anchored"] >= lo - 1e-4).all()
        assert (g["vwap_anchored"] <= hi + 1e-4).all()
    clear = out[(out["day_avg_price"] - out["vwap_anchored"]).abs() > 1e-4]
    assert (
        clear["above_vwap"] == (clear["day_avg_price"] > clear["vwap_anchored"])
    ).all()


# --- ts_permutation_entropy ----------------------------------------------------

def test_perm_entropy_zero_on_monotone(spark):
    """A strictly increasing daily series has exactly one ordinal pattern
    ('<<<'), so permutation entropy is 0 and the structured flag fires."""
    cents = [50_000 + 777 * i for i in range(25)]
    sf = synthetic_sf(events=_daily_events(cents))
    out = all_queries()["ts_permutation_entropy"](spark, sf).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["n_patterns"] == 1
    assert r["n_windows"] == 23
    assert abs(r["perm_entropy"]) <= 1e-9
    assert abs(r["normalized_pe"]) <= 1e-9
    assert bool(r["structured_signal"])


def test_perm_entropy_bounds_on_smoke(spark):
    out = all_queries()["ts_permutation_entropy"](spark, SF_SMOKE).toPandas()
    r = out.iloc[0]
    assert 1 <= r["n_patterns"] <= 13
    assert -1e-9 <= r["normalized_pe"] <= 1.0 + 1e-6
    assert r["perm_entropy"] <= math.log(6) + 1e-6


# --- etl_survivorship_golden_record ---------------------------------------------

def test_survivorship_invariant_under_row_permutation(spark):
    """Shuffling the physical row order of events must not change any
    golden record (every rule carries a deterministic tiebreak)."""
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    shuffled = ev.sample(frac=1.0, random_state=20260814).reset_index(drop=True)
    sf = synthetic_sf(events=shuffled)
    q = all_queries()["etl_survivorship_golden_record"]
    base = q(spark, SF_SMOKE).toPandas()
    perm = q(spark, sf).toPandas()
    pd.testing.assert_frame_equal(base, perm)


def test_survivorship_tiebreaks(spark):
    """Same-timestamp tie → higher event_id wins recency; zero value is
    demoted below any positive value; modal tie → lexicographically
    smallest type."""
    t0 = pd.Timestamp("2024-01-05 10:00:00")
    ev = pd.DataFrame(
        {
            "event_id": [1, 2],
            "ts": pd.Series([t0, t0], dtype="datetime64[us]"),
            "user_id": [1, 1],
            "event_type": ["view", "click"],
            "value": [5.0, 0.0],
            "props": ["{}"] * 2,
        }
    )
    sf = synthetic_sf(events=ev)
    out = all_queries()["etl_survivorship_golden_record"](spark, sf).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["n_events"] == 2
    assert r["latest_type"] == "click"          # event_id 2 wins the ts tie
    assert r["latest_positive_value"] == 5.0    # positive beats newer zero
    assert r["modal_type"] == "click"           # count tie → lexicographic
    assert r["modal_count"] == 1


# --- geo_grid_density ------------------------------------------------------------

def test_geo_density_closure_and_centroid_in_cell(spark):
    out = all_queries()["geo_grid_density"](spark, SF_SMOKE).toPandas()
    assert 0 < len(out) <= 15
    assert (out["density_share"] > 0).all()
    assert out["density_share"].sum() <= 1.0 + 1e-6
    assert (out["n_points"].diff().dropna() <= 0).all()  # ordered desc
    for _, r in out.iterrows():
        assert r["cy"] <= r["centroid_lat"] + 1e-6
        assert r["centroid_lat"] < r["cy"] + 1 + 1e-6
        assert r["cx"] <= r["centroid_lon"] + 1e-6
        assert r["centroid_lon"] < r["cx"] + 1 + 1e-6


# --- agg_cronbach_alpha ------------------------------------------------------------

def test_cronbach_alpha_identity_on_smoke(spark):
    """alpha reported must satisfy its own defining identity from the
    reported variance components, and never exceed 1."""
    out = all_queries()["agg_cronbach_alpha"](spark, SF_SMOKE).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    k = r["k_items"]
    assert k >= 2
    recomputed = (k / (k - 1)) * (1 - r["sum_item_var"] / r["total_var"])
    assert abs(r["cronbach_alpha"] - recomputed) <= 1e-4
    assert r["cronbach_alpha"] <= 1.0 + 1e-9
