"""Round-14 window additions to the third-way verification layer.

Two jobs:

1. ``geo_grid_topk`` (new this round — the output-bounded sibling of
   geo_grid_join, r13 verdict task #6) gets an independent numpy
   brute-force recompute BEFORE its window gates, per the
   new-op-lands-with-a-test discipline enforced by
   test_every_gate_window_op_has_test_coverage.

2. sf0.1 pins for the three bounded-error estimator gates (r13 verdict
   task #8): HLL++ / DataSketches-HLL-union / LSH-recall verdicts are
   exercised at sf0.01 by the driver, but sf0.01 is SPARSE mode for the
   sketches (estimates are exact there, so the bound is never actually
   stressed). sf0.1 is where the estimators leave sparse mode — these
   tests prove the bounds hold there too (measured round 6: worst HLL
   group error 1.33% at sf0.1 vs the 5% bound; LSH recall 10/10).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from highspeedrailwaybigdatasystem_spark.registry import all_queries

SF_SMOKE = "/root/testdata/sf0.001"
SF_DENSE = "/root/testdata/sf0.1"

# --- geo_grid_topk: numpy brute-force k-NN-within-radius recompute ----------

def _points(sf_dir: str) -> pd.DataFrame:
    """Recompute the md5-derived synthetic coordinates independently of
    BOTH engines (hashlib, not Spark md5 / DuckDB md5)."""
    cust = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey"])
    ids = cust["c_custkey"].to_numpy()
    lat = np.empty(len(ids))
    lon = np.empty(len(ids))
    for i, k in enumerate(ids):
        h = hashlib.md5(str(k).encode()).hexdigest()
        lat[i] = (int(h[0:4], 16) % 2000) / 100.0 - 10
        lon[i] = (int(h[4:8], 16) % 36000) / 100.0 - 180
    return pd.DataFrame({"id": ids, "lat": lat, "lon": lon})


def _haversine_matrix(p: pd.DataFrame) -> np.ndarray:
    lat = np.radians(p["lat"].to_numpy())
    lon = np.radians(p["lon"].to_numpy())
    dlat = (lat[None, :] - lat[:, None]) / 2
    dlon = (lon[None, :] - lon[:, None]) / 2
    a = np.sin(dlat) ** 2 + np.cos(lat[:, None]) * np.cos(lat[None, :]) * np.sin(dlon) ** 2
    return 2 * 6371.0 * np.arcsin(np.sqrt(a))


def test_geo_grid_topk_matches_numpy_bruteforce(spark):
    out = all_queries()["geo_grid_topk"](spark, SF_SMOKE).toPandas()
    p = _points(SF_SMOKE)
    d = _haversine_matrix(p)
    ids = p["id"].to_numpy()
    truth = {}
    for i in range(len(ids)):
        neigh = [
            (d[i, j], ids[j])
            for j in range(len(ids))
            if j != i and d[i, j] < 50
        ]
        neigh.sort()
        truth[ids[i]] = neigh[:3]

    got = {
        gid: sorted(zip(g["rk"], g["neighbor_id"], g["dist_km"]))
        for gid, g in out.groupby("id")
    }
    expected_ids = {k for k, v in truth.items() if v}
    assert set(got) == expected_ids, "points with/without neighbors differ"
    for k, neigh in truth.items():
        if not neigh:
            continue
        rows = got[k]
        assert len(rows) == len(neigh), f"id {k}: k-list length"
        for (rk, nid, dist_km), (td, tid) in zip(rows, neigh):
            assert nid == tid, f"id {k} rank {rk}: neighbor {nid} != {tid}"
            assert abs(dist_km - round(td, 3)) <= 0.001, f"id {k} rank {rk}: dist"


def test_geo_grid_topk_output_is_k_bounded(spark):
    """The op's entire point: per-point output is capped at k=3 rows, so
    total output is <= 3n regardless of point density (geo_grid_join's
    pair dump grows with density^2)."""
    out = all_queries()["geo_grid_topk"](spark, SF_SMOKE).toPandas()
    n_points = len(pd.read_parquet(f"{SF_SMOKE}/customer.parquet", columns=["c_custkey"]))
    per_point = out.groupby("id").size()
    assert per_point.max() <= 3
    assert len(out) <= 3 * n_points
    assert (out.groupby("id")["rk"].apply(lambda s: sorted(s) == list(range(1, len(s) + 1)))).all(), (
        "ranks must be contiguous 1..k per point"
    )


# --- sf0.1 estimator-bound pins (r13 verdict task #8) -----------------------

def test_hllpp_bound_holds_at_sf01(spark):
    """agg_approx_distinct's verdict column must hold where HLL++ leaves
    sparse mode: every group's estimate within 3x rsd of exact."""
    out = all_queries()["agg_approx_distinct"](spark, SF_DENSE).toPandas()
    assert len(out) > 0
    assert out["hll_within_bound"].all(), out.to_string()
    ev = pd.read_parquet(f"{SF_DENSE}/events.parquet", columns=["event_type", "user_id"])
    truth = ev.groupby("event_type")["user_id"].nunique()
    got = out.set_index("event_type")["exact_users"]
    for etype, exact in truth.items():
        assert int(got[etype]) == int(exact), f"{etype}: exact side drifted"


def test_datasketches_hll_union_bound_holds_at_sf01(spark):
    """agg_hll_sketch at sf0.1: every per-type sketch within 5% of exact,
    AND the merged union sketch within 5% of the GLOBAL exact distinct —
    the mergeability property that makes cross-partition re-aggregation
    sound at 100 TB."""
    out = all_queries()["agg_hll_sketch"](spark, SF_DENSE).toPandas()
    assert out["sketch_within_bound"].all(), out.to_string()
    union = out[out["event_type"] == "__all__"]
    assert len(union) == 1, "union row missing"
    ev = pd.read_parquet(f"{SF_DENSE}/events.parquet", columns=["user_id"])
    assert int(union["exact_users"].iloc[0]) == int(ev["user_id"].nunique())


def test_lsh_recall_floor_holds_at_sf01(spark):
    """llm_ann_lsh's recall@10 >= 0.8 verdict at sf0.1 (measured 10/10 in
    round 6 — the floor has slack where bucket density is highest)."""
    out = all_queries()["llm_ann_lsh"](spark, SF_DENSE).toPandas()
    assert len(out) == 1
    assert bool(out["recall_ok"].iloc[0])
