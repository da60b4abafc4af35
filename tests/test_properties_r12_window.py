"""Independent-recompute checks for the round-12 planned gate window's
previously-untested ops — the final installment of the r9 third-way
verification sweep: every op in every remaining planned gate window now has
either a pandas recompute, a planted signal, or a conservation/bounds
invariant on top of its oracle-mirror row."""

from __future__ import annotations

import math
import re

import numpy as np
import pandas as pd

from highspeedrailwaybigdatasystem_spark.registry import all_queries

SF_SMOKE = "/root/testdata/sf0.001"

def _events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/events.parquet")


def _orders() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/orders.parquet")


def _lineitem() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")


def _daily_cents(ev: pd.DataFrame) -> pd.Series:
    cents = (ev["value"] * 100).round().astype("int64")
    return cents.groupby([ev["event_type"], ev["ts"].dt.normalize()]).sum()


# --- SQL-surface battery: recompute the inlined semantics ----------------------

def test_sql_cache_table_matches_pandas(spark):
    out = all_queries()["sql_cache_table"](spark, SF_SMOKE).toPandas()
    o = _orders()
    sel = o[pd.to_datetime(o["o_orderdate"]) >= "1998-01-01"]
    truth = sel.groupby("o_orderstatus")["o_totalprice"].agg(["size", "sum"])
    assert set(out["o_orderstatus"]) == set(truth.index)
    for _, r in out.iterrows():
        n, s = truth.loc[r["o_orderstatus"]]
        assert int(r["n_orders"]) == int(n)
        assert abs(r["total_value"] - s) < 0.011


def test_sql_pipe_syntax_matches_pandas(spark):
    out = all_queries()["sql_pipe_syntax"](spark, SF_SMOKE).toPandas()
    li = _lineitem()
    sel = li[pd.to_datetime(li["l_shipdate"]) >= "1997-01-01"]
    rev = sel["l_extendedprice"] * (1 - sel["l_discount"])
    truth = rev.groupby(sel["l_returnflag"]).agg(["size", "sum"])
    for _, r in out.iterrows():
        n, s = truth.loc[r["l_returnflag"]]
        assert int(r["n_lines"]) == int(n)
        assert abs(r["revenue"] - s) < 0.011


def test_sql_session_variables_matches_pandas(spark):
    out = all_queries()["sql_session_variables"](spark, SF_SMOKE).toPandas()
    o = _orders()
    sel = o[
        (pd.to_datetime(o["o_orderdate"]) >= "1997-01-01")
        & (o["o_totalprice"] > 250000.0)
    ]
    truth = sel.groupby("o_orderpriority")["o_totalprice"].agg(["size", "sum"])
    assert set(out["o_orderpriority"]) == set(truth.index)
    for _, r in out.iterrows():
        n, s = truth.loc[r["o_orderpriority"]]
        assert int(r["n_orders"]) == int(n)
        assert abs(r["total_value"] - s) < 0.011


def test_sql_execute_immediate_matches_pandas(spark):
    out = all_queries()["sql_execute_immediate"](spark, SF_SMOKE).toPandas()
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    truth = cust[cust["c_acctbal"] > 5000.0].groupby("c_mktsegment").size()
    assert set(out["c_mktsegment"]) == set(truth.index)
    for _, r in out.iterrows():
        assert int(r["n_customers"]) == int(truth[r["c_mktsegment"]])


def test_sql_scripting_matches_pandas(spark):
    r = all_queries()["sql_scripting"](spark, SF_SMOKE).toPandas().iloc[0]
    o = _orders()
    yr = pd.to_datetime(o["o_orderdate"]).dt.year
    sel = o[yr.between(1995, 1999)]
    cents = (
        (sel["o_totalprice"].groupby(yr[yr.between(1995, 1999)]).sum() * 100)
        .round()
        .astype("int64")
    )
    assert int(r["n_years"]) == len(cents)
    assert abs(r["total_value"] - cents.sum() / 100) < 0.011
    assert int(r["best_year_cents"]) == int(cents.max())


def test_sql_order_by_all_matches_pandas(spark):
    out = all_queries()["sql_order_by_all"](spark, SF_SMOKE).toPandas()
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    truth = (
        docs.groupby(["lang", "source"])["n_chars"]
        .agg(["size", "sum"])
        .reset_index()
        .sort_values(["lang", "source"])
        .head(40)
        .reset_index(drop=True)
    )
    assert len(out) == len(truth)
    for i in range(len(out)):  # ORDER BY ALL: row order is part of semantics
        assert out.loc[i, "lang"] == truth.loc[i, "lang"]
        assert out.loc[i, "source"] == truth.loc[i, "source"]
        assert int(out.loc[i, "n_docs"]) == int(truth.loc[i, "size"])
        assert int(out.loc[i, "total_chars"]) == int(truth.loc[i, "sum"])


def test_scalar_try_funcs_match_pandas(spark):
    r = all_queries()["scalar_try_funcs"](spark, SF_SMOKE).toPandas().iloc[0]
    li = _lineitem()
    odd = (li["l_quantity"] % 2) != 0
    assert int(r["n_rows"]) == len(li)
    assert int(r["n_div_ok"]) == int(odd.sum())  # even qty -> divide by zero
    assert abs(
        r["odd_qty_price_sum"]
        - (li.loc[odd, "l_extendedprice"] / (li.loc[odd, "l_quantity"] % 2)).sum()
    ) < 0.011
    assert int(r["n_cast_ok"]) == 0  # return flags are letters
    assert int(r["n_elem_ok"]) == 0  # 1-element array has no index 3


def test_stat_crosstab_matches_pandas(spark):
    out = all_queries()["stat_crosstab"](spark, SF_SMOKE).toPandas()
    li = _lineitem()
    truth = pd.crosstab(li["l_returnflag"], li["l_linestatus"])
    for _, r in out.iterrows():
        flag = r["l_returnflag_l_linestatus"]
        for status in ("F", "O"):
            want = truth.loc[flag, status] if status in truth.columns else 0
            assert int(r[status]) == int(want)
    assert out[["F", "O"]].to_numpy().sum() == len(li)


def test_pandas_api_bridge_matches_pandas(spark):
    out = all_queries()["pandas_api_bridge"](spark, SF_SMOKE).toPandas()
    truth = _orders().groupby("o_orderstatus")["o_totalprice"].agg(["sum", "size"])
    for _, r in out.iterrows():
        s, n = truth.loc[r["o_orderstatus"]]
        assert abs(r["total"] - s) < 0.011
        assert int(r["cnt"]) == int(n)


def test_udaf_custom_geo_mean_matches_numpy(spark):
    out = all_queries()["udaf_custom"](spark, SF_SMOKE).toPandas()
    o = _orders()
    for _, r in out.iterrows():
        v = o.loc[o["o_orderpriority"] == r["o_orderpriority"], "o_totalprice"]
        gm = math.exp(np.log(v.to_numpy()).mean())
        assert abs(r["geo_mean_price"] - gm) < 0.011
        assert r["geo_mean_price"] <= v.mean() + 0.011  # GM <= AM


def test_csv_permissive_corrupt_shape(spark):
    out = all_queries()["src_csv_permissive_corrupt"](spark, SF_SMOKE).toPandas()
    assert len(out) >= 1
    assert (out["cnt"] > 0).all()
    assert set(out["is_corrupt"]) <= {True, False}


# --- risk / trading-style windows ----------------------------------------------

def test_value_at_risk_tail_algebra(spark):
    out = all_queries()["ts_value_at_risk"](spark, SF_SMOKE).toPandas()
    daily = _daily_cents(_events())
    for _, r in out.iterrows():
        s = daily[r["event_type"]].sort_index()
        deltas = s.diff().dropna()
        assert int(r["n_days"]) == len(deltas)
        var_c = round(r["var95"] * 100)
        assert var_c in set(deltas)  # discrete quantile is a member value
        # ~5% of days at or below the VaR cut (discrete defs differ by <=1)
        assert (deltas <= var_c).sum() <= max(1, 0.05 * len(deltas)) + 1
        es = deltas[deltas <= var_c].mean() / 100
        assert abs(r["expected_shortfall"] - es) < 0.011
        assert r["expected_shortfall"] <= r["var95"] + 0.011


def test_velocity_acceleration_matches_pandas(spark):
    out = all_queries()["ts_velocity_acceleration"](spark, SF_SMOKE).toPandas()
    daily = _daily_cents(_events())
    for _, r in out.iterrows():
        s = daily[r["event_type"]].sort_index()
        v1 = s.diff().dropna()
        v2 = v1.diff().dropna()
        assert abs(r["max_abs_velocity"] - v1.abs().max() / 100) < 0.011
        assert abs(r["max_abs_acceleration"] - v2.abs().max() / 100) < 0.011
        assert abs(r["avg_velocity"] - v1.mean() / 100) < 1e-3
        assert int(r["n_accel_points"]) == len(v2)


def test_weekday_weekend_lift_matches_pandas(spark):
    out = all_queries()["ts_weekday_weekend_lift"](spark, SF_SMOKE).toPandas()
    ev = _events()
    weekend = ev["ts"].dt.dayofweek >= 5  # pandas: Monday=0, like the ops
    for _, r in out.iterrows():
        mask = ev["event_type"] == r["event_type"]
        wd, we = ev.loc[mask & ~weekend, "value"], ev.loc[mask & weekend, "value"]
        assert int(r["n_weekday"]) == len(wd) and int(r["n_weekend"]) == len(we)
        assert abs(r["mean_weekday"] - wd.mean()) < 1e-3
        assert abs(r["mean_weekend"] - we.mean()) < 1e-3
        assert abs(r["weekend_lift"] - we.mean() / wd.mean()) < 1e-4


def test_max_drawdown_matches_pandas(spark):
    out = all_queries()["win_max_drawdown"](spark, SF_SMOKE).toPandas()
    daily = _daily_cents(_events())
    for _, r in out.iterrows():
        s = daily[r["event_type"]].sort_index()
        equity = s.cumsum()
        peak = equity.cummax()
        dd = peak - equity
        assert abs(r["max_drawdown"] - dd.max() / 100) < 0.011
        assert abs(r["final_peak"] - equity.max() / 100) < 0.011
        assert pd.Timestamp(r["worst_day"]) == dd[dd == dd.max()].index.min()
        assert r["max_drawdown"] >= 0


def test_bollinger_bands_match_pandas(spark):
    out = all_queries()["win_bollinger_bands"](spark, SF_SMOKE).toPandas()
    ev = _events()
    v4 = (
        ev.groupby([ev["event_type"], ev["ts"].dt.normalize()])["value"]
        .mean()
        .mul(10000)
        .round()
        .astype("int64")
    )
    assert len(out) > 0
    for _, r in out.iterrows():
        s = v4[r["event_type"]].sort_index()
        d = pd.Timestamp(r["d"])
        idx = s.index.get_loc(d)
        assert idx >= 6  # full 7-day frames only
        win = s.iloc[idx - 6 : idx + 1]
        s1, s2 = int(win.sum()), int((win.astype(object) ** 2).sum())
        ma = s1 / 7 / 10000
        sd = math.sqrt((7 * s2 - s1 * s1) / 42) / 10000
        # pandas' avg can round a daily 4-dp fixed-point half-unit the other
        # way vs the engines (summation order); allow a one-unit wobble
        assert abs(r["ma"] - ma) < 2e-4
        assert abs(r["upper_band"] - (ma + 2 * sd)) < 1e-3
        assert abs(r["lower_band"] - (ma - 2 * sd)) < 1e-3
        # breakout must agree with the op's OWN reported bands (skip rows
        # sitting within rounding distance of a band edge)
        if r["v"] > r["upper_band"] + 1e-3:
            assert int(r["breakout"]) == 1
        elif r["v"] < r["lower_band"] - 1e-3:
            assert int(r["breakout"]) == -1
        elif (
            r["lower_band"] + 1e-3 < r["v"] < r["upper_band"] - 1e-3
        ):
            assert int(r["breakout"]) == 0


def test_ntile_cutpoint_buckets_partition_segments(spark):
    out = (
        all_queries()["win_ntile_cutpoint"](spark, SF_SMOKE)
        .toPandas()
        .sort_values(["c_mktsegment", "quartile"])
    )
    cust = pd.read_parquet(f"{SF_SMOKE}/customer.parquet")
    seg_sizes = cust.groupby("c_mktsegment").size()
    for seg, g in out.groupby("c_mktsegment"):
        assert g["n_customers"].sum() == seg_sizes[seg]
        assert set(g["quartile"]) <= {1, 2, 3, 4}
        assert (g["min_bal"] <= g["avg_bal"]).all()
        assert (g["avg_bal"] <= g["max_bal"]).all()
        # value buckets: ranges never overlap across consecutive quartiles
        mx, mn = g["max_bal"].to_numpy(), g["min_bal"].to_numpy()
        assert (mx[:-1] <= mn[1:] + 1e-9).all()


def test_rolling_slope_matches_pandas(spark):
    out = all_queries()["win_rolling_slope"](spark, SF_SMOKE).toPandas()
    ev = _events()
    daily = ev.groupby([ev["event_type"], ev["ts"].dt.day])["value"].sum()
    for _, r in out.iterrows():
        s = daily[r["event_type"]].sort_index()
        d = int(r["day"])
        pos = s.index.get_loc(d)
        win = s.iloc[max(0, pos - 6) : pos + 1]
        assert int(r["n_window"]) == len(win)
        assert abs(r["daily_value"] - s.loc[d]) < 0.011
        x = win.index.to_numpy(dtype=float)
        y = win.to_numpy(dtype=float)
        n = len(win)
        den = n * (x * x).sum() - x.sum() ** 2
        slope = 0.0 if den == 0 else (n * (x * y).sum() - x.sum() * y.sum()) / den
        assert abs(r["slope_7d"] - slope) < 1e-4


def test_dot64_vec_bit_identical_to_fold():
    """The Arrow-vectorized dot kernel must reproduce the left-to-right
    float64 fold of ``aggregate(zip_with(...))`` (and the DuckDB oracle's
    list_aggregate 'sum') BIT-FOR-BIT, not merely to ~1e-16 — round-to-1e-6
    cut boundaries in llm_ann_recall_eval/llm_ivf_ann sit one ulp from
    flipping otherwise (ADVICE r11 medium: the old np.einsum kernel was
    only empirically identical). cumsum(axis=1) accumulates strictly
    sequentially, and 0.0 + x0 == x0 exactly, so identity is structural."""
    from highspeedrailwaybigdatasystem_spark.functions.llm_ann import _dot64_vec

    rng = np.random.default_rng(12)
    n, dim = 5000, 64
    a = [rng.standard_normal(dim).astype(np.float32) for _ in range(n)]
    b = [rng.standard_normal(dim).astype(np.float32) for _ in range(n)]
    # a handful of adversarial rows: huge magnitude spread + cancellation,
    # where accumulation order visibly changes the float64 result
    a[0] = np.array([1e8, 1.0, -1e8, 1e-8] * 16, dtype=np.float32)
    b[0] = np.ones(dim, dtype=np.float32)
    a[1] = np.array([1e-4, 1e4] * 32, dtype=np.float32)
    b[1] = np.array([1e4, 1e-4] * 32, dtype=np.float32)
    # documented signed-zero exception (ADVICE r12): all products -0.0 →
    # fold's 0.0 + (-0.0) seeds +0.0, cumsum keeps -0.0. Numerically equal
    # (-0.0 == 0.0), not bit-identical; excluded from the bitwise check
    # below and asserted == 0.0 separately.
    a[2] = np.full(dim, -0.0, dtype=np.float32)
    b[2] = np.full(dim, +0.0, dtype=np.float32)

    out = _dot64_vec.func(pd.Series(a), pd.Series(b)).to_numpy()

    def left_fold(x, y):
        acc = 0.0
        for u, v in zip(x, y):
            acc = acc + float(u) * float(v)
        return acc

    ref = np.array([left_fold(x, y) for x, y in zip(a, b)])
    assert out[2] == 0.0 and ref[2] == 0.0  # equal, possibly -0.0 vs +0.0
    mask = np.ones(n, dtype=bool)
    mask[2] = False
    mism = int((out[mask] != ref[mask]).sum())
    assert mism == 0, f"{mism}/{n} rows diverge from the left fold"
