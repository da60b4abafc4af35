"""Independent-recompute checks for the round-11 planned gate window's
previously-untested ops — the third installment of the r9 discipline:
pandas/python recomputes or planted invariants so a shared cross-engine
mistake cannot hide behind a green mirror row. (This discipline found the
empty bloom-probe-set bug in the r10 sweep — see agg_bloom_fpr_audit.)"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
import pandas as pd

from highspeedrailwaybigdatasystem_spark.registry import all_queries

SF_SMOKE = "/root/testdata/sf0.001"

def _events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/events.parquet")


def _docs() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/documents.parquet")


# --- text analysis -------------------------------------------------------------

def test_text_stats_matches_pandas(spark):
    out = all_queries()["llm_text_stats"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    toks = docs.assign(tok=docs["text"].str.split(" ")).explode("tok")
    for _, r in out.iterrows():
        d = docs[docs["lang"] == r["lang"]]
        t = toks[toks["lang"] == r["lang"]]
        assert int(r["doc_cnt"]) == len(d)
        assert abs(r["avg_chars"] - d["n_chars"].mean()) < 1e-5
        assert int(r["total_tokens"]) == len(t)
        assert int(r["distinct_tokens"]) == t["tok"].nunique()
        assert abs(r["type_token_ratio"] - t["tok"].nunique() / len(t)) < 1e-6


def test_tfidf_keywords_scores_verify(spark):
    out = all_queries()["llm_tfidf_keywords"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    toks = docs.assign(tok=docs["text"].str.split(" ")).explode("tok")
    n_docs = len(docs)
    df_ = toks.groupby("tok")["doc_id"].nunique()
    tf = toks.groupby(["lang", "tok"]).size()
    assert (out.groupby("lang").size() == 5).all()
    for _, r in out.iterrows():
        expect = tf[(r["lang"], r["token"])] * math.log(n_docs / df_[r["token"]])
        assert abs(r["tfidf"] - expect) < 1e-5


def test_quality_filter_matches_pandas(spark):
    out = all_queries()["llm_quality_filter"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    n_tok = docs["text"].str.split(" ").str.len()
    keep = docs[
        docs["n_chars"].between(100, 520)
        & (n_tok >= 20)
        & docs["lang"].isin(["en", "fr", "es"])
    ]
    assert set(out["doc_id"]) == set(keep["doc_id"])
    got = out.set_index("doc_id")["n_tokens"]
    for did in keep["doc_id"]:
        assert int(got[did]) == int(n_tok[docs["doc_id"] == did].iloc[0])


def test_quality_score_matches_pandas(spark):
    out = all_queries()["llm_quality_score"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    stop = set("the a an and of to in is for on".split())

    def score(text: str) -> float:
        toks = text.strip().split()
        ltoks = text.strip().lower().split()
        stop_cnt = sum(tk in stop for tk in ltoks)
        punct = sum(c in ".,!?;:" for c in text)
        nonws = len(re.sub(r"\s", "", text))
        return round(
            0.4 * (1 - stop_cnt / len(toks))
            + 0.3 * (1 - punct / len(text))
            + 0.3 * min(nonws / len(toks) / 10, 1.0),
            6,
        )

    scores = docs["text"].map(score)
    for _, r in out.iterrows():
        s = scores[docs["source"] == r["source"]]
        assert int(r["n_docs"]) == len(s)
        assert abs(r["avg_score"] - s.mean()) < 1e-5
        assert int(r["high_q"]) == int((s >= 0.8).sum())


def test_token_bpe_internally_consistent(spark):
    out = all_queries()["llm_token_bpe"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    ws = docs["text"].str.strip().str.split(r"\s+").str.len()
    for _, r in out.iterrows():
        mask = docs["lang"] == r["lang"]
        assert int(r["n_docs"]) == int(mask.sum())
        assert int(r["sum_ws"]) == int(ws[mask].sum())
        assert abs(r["avg_bpe"] - r["sum_bpe"] / r["n_docs"]) < 1e-4
        assert abs(r["fertility"] - r["sum_bpe"] / r["sum_ws"]) < 1e-4
        assert r["sum_bpe"] >= r["sum_ws"]  # BPE-ish splits never merge words


def test_zipf_fit_matches_pandas_ols(spark):
    r = all_queries()["llm_zipf_fit"](spark, SF_SMOKE).toPandas().iloc[0]
    docs = _docs()
    freq = (
        docs["text"].str.split(" ").explode().value_counts()
    )  # value_counts sorts desc; break count ties by token asc like the op
    fr = freq.reset_index()
    fr.columns = ["w", "f"]
    fr = fr.sort_values(["f", "w"], ascending=[False, True]).reset_index(drop=True)
    lx = np.log10(np.arange(1, len(fr) + 1, dtype=float))
    ly = np.log10(fr["f"].to_numpy(dtype=float))
    slope = ((lx * ly).mean() - lx.mean() * ly.mean()) / (
        (lx * lx).mean() - lx.mean() ** 2
    )
    assert int(r["vocab_size"]) == len(fr)
    assert abs(r["zipf_slope"] - slope) < 1e-4
    assert r["zipf_slope"] < 0  # frequency falls with rank


# --- curation / packing / sampling ----------------------------------------------

def test_seq_packing_matches_pandas(spark):
    out = (
        all_queries()["llm_seq_packing"](spark, SF_SMOKE)
        .toPandas()
        .sort_values(["source", "bin_id"])
        .reset_index(drop=True)
    )
    docs = _docs().sort_values("doc_id")
    docs = docs.assign(n_tok=docs["text"].str.strip().str.split(r"\s+").str.len())
    truth = []
    for src, g in docs.groupby("source"):
        cum = g["n_tok"].cumsum()
        bins = ((cum - g["n_tok"]) // 512).astype(int)
        t = g.assign(bin_id=bins).groupby("bin_id")["n_tok"].agg(["size", "sum"])
        for b, row in t.iterrows():
            truth.append((src, b, int(row["size"]), int(row["sum"])))
    truth.sort()
    got = [
        (r["source"], int(r["bin_id"]), int(r["n_docs"]), int(r["bin_tokens"]))
        for _, r in out.iterrows()
    ]
    assert got == truth


def test_stratified_sample_matches_pandas_md5(spark):
    out = all_queries()["llm_stratified_sample"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    h = docs["doc_id"].map(
        lambda i: hashlib.md5(str(i).encode()).hexdigest()[:2]
    )
    cuts = {"en": "80", "de": "c0", "fr": "c0", "es": "40"}
    for _, r in out.iterrows():
        mask = docs["lang"] == r["lang"]
        cut = cuts.get(r["lang"], "ff")
        kept = int((mask & (h < cut)).sum())
        assert int(r["n_total"]) == int(mask.sum())
        assert int(r["n_kept"]) == kept
        assert abs(r["kept_frac"] - kept / mask.sum()) < 1e-6


def test_pii_scrub_matches_pandas(spark):
    out = all_queries()["llm_pii_scrub"](spark, SF_SMOKE).toPandas()
    ev = _events()
    pat = re.compile(r"[0-9]+\.?[0-9]*")
    n_red = ev["props"].map(lambda p: len(pat.findall(p)))
    red_len = ev["props"].map(lambda p: len(pat.sub("<NUM>", p)))
    for _, r in out.iterrows():
        mask = ev["event_type"] == r["event_type"]
        assert int(r["n_events"]) == int(mask.sum())
        assert int(r["n_redactions"]) == int(n_red[mask].sum())
        assert int(r["redacted_len_sum"]) == int(red_len[mask].sum())


def test_cdc_chunking_rate_identity(spark):
    out = all_queries()["llm_cdc_chunking"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    assert out["n_docs"].sum() == len(docs)  # every doc yields >= 1 chunk
    for _, r in out.iterrows():
        assert 0 < r["distinct_chunks"] <= r["total_chunks"]
        assert abs(
            r["dup_chunk_rate"] - (1 - r["distinct_chunks"] / r["total_chunks"])
        ) < 1e-6
        assert r["avg_chunk_tokens"] > 0


# --- ETL audits ------------------------------------------------------------------

def test_quarantine_routing_matches_pandas(spark):
    out = all_queries()["etl_quarantine_routing"](spark, SF_SMOKE).toPandas()
    ev = _events()
    bitmap = (
        ((ev["value"].isna() | (ev["value"] < 0)).astype(int))
        + (~ev["event_type"].isin(
            ["view", "click", "purchase", "signup", "error"]
        )).astype(int) * 2
        + (
            (ev["ts"] < pd.Timestamp("2024-01-01"))
            | (ev["ts"] >= pd.Timestamp("2024-02-01"))
        ).astype(int) * 4
        + (ev["props"].isna() | ~ev["props"].str.startswith("{")).astype(int) * 8
    )
    truth = ev.groupby(bitmap)["event_id"].agg(["size", "min"])
    assert out["n_rows"].sum() == len(ev)
    for _, r in out.iterrows():
        n, first = truth.loc[int(r["rule_bitmap"])]
        assert int(r["n_rows"]) == int(n)
        assert int(r["first_example"]) == int(first)
        assert r["route"] == ("pass" if r["rule_bitmap"] == 0 else "quarantine")


def test_partition_skew_audit_matches_pandas_md5(spark):
    r = all_queries()["etl_partition_skew_audit"](spark, SF_SMOKE).toPandas().iloc[0]
    orders = pd.read_parquet(f"{SF_SMOKE}/orders.parquet")
    bucket = orders["o_custkey"].map(
        lambda k: int(hashlib.md5(str(k).encode()).hexdigest()[:2], 16) % 32
    )
    counts = bucket.value_counts()
    assert int(r["n_buckets"]) == len(counts)
    assert int(r["n_rows"]) == len(orders)
    assert int(r["max_bucket"]) == int(counts.max())
    assert int(r["min_bucket"]) == int(counts.min())
    skew = counts.max() / counts.mean()
    assert abs(r["skew_factor"] - skew) < 1e-5
    assert int(r["skew_alarm"]) == int(skew > 2.0)


def test_psi_drift_matches_pandas(spark):
    out = all_queries()["etl_psi_drift"](spark, SF_SMOKE).toPandas()
    ev = _events()
    b = np.minimum(np.floor(ev["value"] / 50), 9).astype(int)
    half1 = ev["ts"].dt.day <= 15
    for _, r in out.iterrows():
        mask = ev["event_type"] == r["event_type"]
        cells = pd.DataFrame(
            {"b": b[mask], "h1": half1[mask].astype(int)}
        ).groupby("b")["h1"].agg(["sum", "size"])
        c1 = cells["sum"].to_numpy(dtype=float)
        c2 = (cells["size"] - cells["sum"]).to_numpy(dtype=float)
        dom = len(cells)
        p1 = (c1 + 1) / (c1.sum() + dom)
        p2 = (c2 + 1) / (c2.sum() + dom)
        psi = float(((p2 - p1) * np.log(p2 / p1)).sum())
        assert int(r["n_buckets"]) == dom
        assert abs(r["psi"] - psi) < 1e-5
        band = "stable" if psi < 0.1 else "moderate" if psi < 0.25 else "major"
        assert r["drift_band"] == band
    # identically-distributed halves must NOT trip the monitor (the
    # original half-unit bins read 'major' on the clean corpus — a drift
    # gate stuck crying wolf; round-9 degeneracy-sweep fix). The ~280
    # rows/half/type smoke tier legitimately wobbles into 'moderate';
    # the gate tier must read fully stable.
    assert (out["drift_band"] != "major").all()
    gate = all_queries()["etl_psi_drift"](spark, "/root/testdata/sf0.01").toPandas()
    assert (gate["drift_band"] == "stable").all()
    assert (gate["psi"] < 0.05).all()


def test_null_rate_drift_matches_pandas(spark):
    out = all_queries()["etl_null_rate_drift"](spark, SF_SMOKE).toPandas()
    ev = _events()
    half = np.where(ev["ts"].dt.day <= 15, 1, 2)
    is_zero = (ev["value"] == 0).astype(int)
    is_empty = (
        ev["props"].isna() | (ev["props"] == "{}") | (ev["props"] == "")
    ).astype(int)
    for _, r in out.iterrows():
        m1 = (ev["event_type"] == r["event_type"]) & (half == 1)
        m2 = (ev["event_type"] == r["event_type"]) & (half == 2)
        assert int(r["n_first_half"]) == int(m1.sum())
        assert int(r["n_second_half"]) == int(m2.sum())
        z1, z2 = is_zero[m1].mean(), is_zero[m2].mean()
        e1, e2 = is_empty[m1].mean(), is_empty[m2].mean()
        assert abs(r["zero_rate_h1"] - z1) < 1e-6
        assert abs(r["zero_rate_h2"] - z2) < 1e-6
        assert abs(r["zero_rate_drift"] - abs(z2 - z1)) < 1e-6
        assert abs(r["empty_props_drift"] - abs(e2 - e1)) < 1e-6
        assert bool(r["drift_alert"]) == (
            abs(z2 - z1) > 0.05 or abs(e2 - e1) > 0.05
        )


# --- joins -----------------------------------------------------------------------

def test_asof_tolerance_replay(spark):
    out = all_queries()["join_asof_tolerance"](spark, SF_SMOKE).toPandas()
    ev = _events().sort_values(["user_id", "ts", "event_id"])
    truth: dict[int, int | None] = {}
    for _, g in ev.groupby("user_id"):
        last_signup = None
        for r in g.itertuples():
            if r.event_type == "purchase":
                gap = (
                    (r.ts - last_signup).total_seconds() * 1e6
                    if last_signup is not None
                    else None
                )
                truth[r.event_id] = (
                    int(gap) if gap is not None and gap <= 86_400_000_000 else None
                )
            if r.event_type == "signup":
                last_signup = r.ts
    assert set(out["event_id"]) == set(truth)
    for _, r in out.iterrows():
        want = truth[r["event_id"]]
        got = None if pd.isna(r["gap_us"]) else int(r["gap_us"])
        assert got == want
        assert pd.isna(r["signup_within_1d"]) == (want is None)


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_fuzzy_levenshtein_pairs_verify(spark):
    out = all_queries()["join_fuzzy_levenshtein"](spark, SF_SMOKE).toPandas()
    for _, r in out.iterrows():
        assert r["name_a"] < r["name_b"]
        assert r["name_a"][9:16] == r["name_b"][9:16]  # blocking key holds
        assert int(r["edit_dist"]) == _lev(r["name_a"], r["name_b"])
        assert int(r["edit_dist"]) <= 1


# --- embeddings / detectors: bounds + conservation --------------------------------

def test_centroid_drift_bounds_and_counts(spark):
    out = all_queries()["llm_embedding_centroid_drift"](spark, SF_SMOKE).toPandas()
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    counts = emb.groupby("label")["vec_id"].agg(
        even=lambda s: (s % 2 == 0).sum(), odd=lambda s: (s % 2 == 1).sum()
    )
    for _, r in out.iterrows():
        assert int(r["n_even"]) == int(counts.loc[r["label"], "even"])
        assert int(r["n_odd"]) == int(counts.loc[r["label"], "odd"])
        assert r["l2_drift"] >= 0
        assert -1 - 1e-9 <= r["cos_sim"] <= 1 + 1e-9


def test_pq_codebook_bounds(spark):
    out = all_queries()["llm_embedding_pq_codebook"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["n_assigned"] > 0).all()
    assert (out["avg_sq_err"] >= -1e-9).all()
    assert (out["avg_sq_err"] <= out["max_sq_err"] + 1e-9).all()
    # each subspace partitions the full corpus across its codes
    emb = pd.read_parquet(f"{SF_SMOKE}/embeddings.parquet")
    per_sub = out.groupby("subspace")["n_assigned"].sum()
    assert (per_sub == len(emb)).all()


def test_format_detect_rates_bounded(spark):
    out = all_queries()["llm_format_detect"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    assert out["n_docs"].sum() == len(docs)
    for col in [
        "table_markup_rate", "question_rate", "keyvalue_rate",
        "parenthetical_rate", "sentence_rate",
    ]:
        assert ((out[col] >= -1e-9) & (out[col] <= 1 + 1e-9)).all()


def test_preference_pairs_margins(spark):
    out = all_queries()["llm_preference_pairs"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["chosen_doc"] != out["rejected_doc"]).all()
    assert (out["score_margin"] >= -1e-9).all()
    assert (out["n_candidates"] >= 2).all()


def test_quality_classifier_keep_rate_identity(spark):
    out = all_queries()["llm_quality_classifier_linear"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    for _, r in out.iterrows():
        assert 0 <= int(r["n_keep"]) <= int(r["n_docs"])
        assert abs(r["keep_rate"] - r["n_keep"] / r["n_docs"]) < 1e-6


def test_repetition_loop_bounds(spark):
    out = all_queries()["llm_repetition_loop_detect"](spark, SF_SMOKE).toPandas()
    assert len(out) > 0
    assert (out["max_repeat"] >= 1).all()
    assert (out["max_repeat"] <= out["n_grams"]).all()
    assert ((out["loop_score"] >= -1e-9) & (out["loop_score"] <= 1 + 1e-9)).all()


def test_span_corruption_bounds(spark):
    out = all_queries()["llm_span_corruption_stats"](spark, SF_SMOKE).toPandas()
    for _, r in out.iterrows():
        assert 0 < int(r["n_masked"]) <= int(r["total_tokens"])
        assert abs(r["mask_ratio"] - r["n_masked"] / r["total_tokens"]) < 1e-4
        assert 1 <= int(r["n_spans"]) <= int(r["n_masked"])
        assert r["avg_span_len"] >= 1 - 1e-9


def test_watermark_detect_bounds(spark):
    out = all_queries()["llm_watermark_greenlist_detect"](spark, SF_SMOKE).toPandas()
    docs = _docs()
    assert out["n_docs"].sum() == len(docs)
    assert (out["n_flagged"] <= out["n_docs"]).all()
    assert np.isfinite(out["avg_z"]).all()
