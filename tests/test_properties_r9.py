"""Round-9 property checks — the r8 verdict's remaining done-criteria:

* the two carried latent-divergence items, closed on BOTH engines:
  - ``mm_video_scene_cut_stub`` drops zero-length docs on the Spark side
    AND via the oracle's explicit ``WHERE length(text) > 0`` guard
    (empty-doc property test, verdict task #4);
  - ``graph_connected_components`` fails LOUDLY (assertion, not a silent
    hash mismatch) when the user-id domain goes sparse, and its histogram
    conserves the vertex count on the dense corpus (sparse-id property
    test, verdict task #4);
* the sharpened r7-tail properties from verdict task #8 that
  tests/test_properties_r7_ops.py did not yet pin:
  - Gini = 2·AUC − 1 certified against an INDEPENDENT rank-based
    Mann-Whitney AUC computed in pandas from the same (score, label)
    data — not against the op's own second column;
  - largest-remainder allocation invariant under input-row permutation
    (and still summing to exactly 100);
  - dup-partner degree histogram mass = 2 × verified pair count
    (handshake lemma against the banding op's own output);
  - stream union rollup ≡ the batch union aggregate computed
    independently in pandas;
  - stream-static anti join invariant under arrival-order permutation.
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from highspeedrailwaybigdatasystem_spark.registry import all_oracles, all_queries
from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES
from tests.conftest import synthetic_sf

SF_SMOKE = "/root/testdata/sf0.001"

def _oracle_on(sf_dir: str, sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(
                f"CREATE VIEW {t} AS"
                f" SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return con.sql(sql).df()
    finally:
        con.close()


def _docs(texts: list[str]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["synthetic"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )


def _events(user_ids: list[int]) -> pd.DataFrame:
    n = len(user_ids)
    days = pd.date_range("2024-01-02", periods=n, freq="h")
    return pd.DataFrame(
        {
            "event_id": range(n),
            "ts": pd.Series(days, dtype="datetime64[us]"),
            "user_id": user_ids,
            "event_type": ["click"] * n,
            "value": [1.0] * n,
            "props": ["{}"] * n,
        }
    )


# --- latent-divergence closures (verdict task #4) ---------------------------

def test_scene_cut_drops_empty_docs_both_engines(spark):
    texts = ["", "a" * 40, "b" * 7, ""]
    sf = synthetic_sf(documents=_docs(texts))
    out = all_queries()["mm_video_scene_cut_stub"](spark, sf).toPandas()
    # the two empty docs vanish on BOTH engines; the rest keep exact frames
    assert sorted(out["doc_id"]) == [1, 2]
    assert dict(zip(out["doc_id"], out["n_frames"])) == {1: 3, 2: 1}
    oracle = _oracle_on(sf, all_oracles()["mm_video_scene_cut_stub"])
    assert sorted(oracle["doc_id"]) == [1, 2]
    merged = out.merge(oracle, on="doc_id", suffixes=("_s", "_o"))
    assert (merged["n_frames_s"] == merged["n_frames_o"]).all()
    assert (merged["n_cuts_s"] == merged["n_cuts_o"]).all()


def test_connected_components_rejects_sparse_ids_loudly(spark):
    # a gap in the user-id line must trip the dense-domain assertion, not
    # silently hash-mismatch the closed-form oracle
    sparse = _events([0, 1, 2, 3, 4, 10, 11, 12, 13, 14])
    with pytest.raises(AssertionError, match="not dense"):
        all_queries()["graph_connected_components"](spark, synthetic_sf(events=sparse))


def test_connected_components_conserves_vertices_on_dense(spark):
    out = all_queries()["graph_connected_components"](spark, SF_SMOKE).toPandas()
    n_users = pd.read_parquet(f"{SF_SMOKE}/events.parquet")["user_id"].nunique()
    assert (out["component_size"] * out["n_components"]).sum() == n_users


# --- sharpened r7-tail properties (verdict task #8) --------------------------

def test_gini_auc_identity_vs_independent_rank_auc(spark):
    r = all_queries()["ml_gini_auc_identity"](spark, SF_SMOKE).toPandas().iloc[0]
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    score = (orders["o_totalprice"] * 100).round()
    y = (orders["o_orderstatus"] == "F").astype(int)
    npos, nneg = int(y.sum()), int((1 - y).sum())
    # tie-corrected Mann-Whitney AUC from average ranks — a formulation the
    # op never uses (it counts concordant/discordant pairs over cum sums)
    ranks = score.rank(method="average")
    auc_rank = (ranks[y == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg)
    assert int(r["npos"]) == npos and int(r["nneg"]) == nneg
    assert abs(r["auc"] - auc_rank) < 1e-6
    assert abs(r["somers_d"] - (2 * auc_rank - 1)) < 1e-6
    assert bool(r["identity_holds"])


def test_largest_remainder_invariant_under_row_permutation(spark):
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    base = synthetic_sf(orders=orders)
    perm = synthetic_sf(
        orders=orders.sample(frac=1.0, random_state=7).reset_index(drop=True)
    )
    a = all_queries()["agg_largest_remainder_allocation"](spark, base).toPandas()
    b = all_queries()["agg_largest_remainder_allocation"](spark, perm).toPandas()
    key = a.columns[0]
    pd.testing.assert_frame_equal(
        a.sort_values(key).reset_index(drop=True),
        b.sort_values(key).reset_index(drop=True),
    )
    assert a["allocated_pct"].sum() == 100


def test_dup_degree_histogram_mass_is_twice_pairs(spark):
    # handshake lemma: Σ degree·count = 2·|pairs| of the SAME pair graph
    hist = all_queries()["llm_dup_partner_degree_dist"](spark, SF_SMOKE).toPandas()
    n_pairs = all_queries()["llm_minhash_banding"](spark, SF_SMOKE).count()
    assert (hist["n_partners"] * hist["n_docs"]).sum() == 2 * n_pairs


def test_stream_union_rollup_equals_batch_union(spark):
    out = (
        all_queries()["stream_union_two_sources"](spark, SF_SMOKE)
        .toPandas()
        .sort_values(["topic", "event_type"])
        .reset_index(drop=True)
    )
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    ev = ev.assign(
        topic=(ev["event_id"] % 2).map({0: "topic_a", 1: "topic_b"})
    )
    batch = (
        ev.groupby(["topic", "event_type"], as_index=False)
        .agg(cnt=("value", "size"), value_sum=("value", "sum"))
        .sort_values(["topic", "event_type"])
        .reset_index(drop=True)
    )
    assert list(out["cnt"]) == list(batch["cnt"])
    assert (out["value_sum"] - batch["value_sum"].round(2)).abs().max() < 0.01


def test_stream_anti_join_arrival_order_independent(spark):
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    a = all_queries()["stream_static_anti_join"](
        spark, synthetic_sf(events=ev)
    ).toPandas()
    b = all_queries()["stream_static_anti_join"](
        spark,
        synthetic_sf(
            events=ev.sample(frac=1.0, random_state=11).reset_index(drop=True)
        ),
    ).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values("event_type").reset_index(drop=True),
        b.sort_values("event_type").reset_index(drop=True),
    )
    # nothing blocklisted survives
    blocked = set(ev.loc[ev["user_id"] % 13 == 0, "user_id"])
    allowed = ev[~ev["user_id"].isin(blocked)]
    assert a["cnt_allowed"].sum() == len(allowed)


# --- estimator bounds for the former rows-only ops --------------------------
# These three were rows-only r1–r12 (engine-specific estimates). Round 13
# converted each to a bounded-error AUDIT form (exact yardstick + boolean
# bound both engines agree on), so they now hash-gate. These tests keep the
# deeper estimator CLAIMS pinned: raw error bounds vs exact truth computed
# independently in pandas, and genuine-neighbor guarantees for LSH — the
# evidence behind the audit booleans, not just the booleans themselves.

def test_approx_distinct_within_rsd_bound(spark):
    out = all_queries()["agg_approx_distinct"](spark, SF_SMOKE).toPandas()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    exact = ev.groupby("event_type")["user_id"].nunique()
    assert set(out["event_type"]) == set(exact.index)
    assert out["hll_within_bound"].all()
    for _, r in out.iterrows():
        assert r["exact_users"] == exact[r["event_type"]]
    # pin the underlying estimator, independent of the audit boolean:
    # rsd=0.02; HLL++ is exact at smoke cardinality (15 per group, below
    # sparse-mode resolution) — allow 5% headroom regardless
    from pyspark.sql import functions as F
    raw = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx"))
        .toPandas()
        .set_index("event_type")["approx"]
    )
    for etype, true in exact.items():
        assert abs(raw[etype] - true) <= max(1, 0.05 * true)


def test_hll_sketch_estimates_and_union_consistent(spark):
    out = all_queries()["agg_hll_sketch"](spark, SF_SMOKE).toPandas()
    ev = pd.read_parquet(f"{SF_SMOKE}/events.parquet")
    exact = ev.groupby("event_type")["user_id"].nunique()
    per_type = out[out["event_type"] != "__all__"]
    union = out[out["event_type"] == "__all__"]
    assert len(union) == 1
    assert out["sketch_within_bound"].all()
    for _, r in per_type.iterrows():
        assert r["exact_users"] == exact[r["event_type"]]
    assert union["exact_users"].iloc[0] == ev["user_id"].nunique()
    # pin the raw estimates + union consistency independent of the boolean:
    from pyspark.sql import functions as F
    e = spark.read.parquet(f"{SF_SMOKE}/events.parquet")
    pt = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    ests = pt.select(
        "event_type", F.hll_sketch_estimate("sk").cast("long").alias("est")
    ).toPandas().set_index("event_type")["est"]
    u = pt.agg(F.hll_union_agg("sk").alias("u")).select(
        F.hll_sketch_estimate("u").cast("long").alias("est")
    ).toPandas()["est"].iloc[0]
    for etype, true in exact.items():
        assert abs(ests[etype] - true) <= max(1, 0.05 * true)
    true_all = ev["user_id"].nunique()
    # the union sketch estimates the GLOBAL distinct count, not the sum
    assert abs(u - true_all) <= max(1, 0.05 * true_all)
    assert u <= ests.sum()


def test_ann_lsh_neighbors_are_genuine(spark):
    import numpy as np
    from highspeedrailwaybigdatasystem_spark.functions.llm_ann import (
        _lsh_approx_neighbors,
    )

    out = _lsh_approx_neighbors(spark, SF_SMOKE, k=10).toPandas()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=float)
            for r in emb.itertuples()}
    probe = vecs[0]
    true_d = {
        vid: float(np.linalg.norm(v - probe))
        for vid, v in vecs.items() if vid != 0
    }
    # reported distances are TRUE euclidean distances (LSH prunes the
    # candidate set; it must never fabricate distances)
    assert len(out) == 10
    for _, r in out.iterrows():
        assert abs(r["euclid_dist"] - true_d[r["vec_id"]]) < 1e-5
    # distances come back sorted ascending
    assert (out["euclid_dist"].diff().dropna() >= -1e-12).all()
    # recall@10 vs exact brute force (docstring claims 10/10 at sf0.001;
    # pin >= 8/10 so a legitimate rebucketing can't flake the suite)
    exact_top = set(sorted(true_d, key=true_d.get)[:10])
    assert len(exact_top & set(out["vec_id"])) >= 8
    # and the registered audit op agrees
    audit = all_queries()["llm_ann_lsh"](spark, SF_SMOKE).toPandas()
    assert len(audit) == 1 and bool(audit["recall_ok"].iloc[0])
