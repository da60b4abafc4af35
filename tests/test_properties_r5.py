"""Property checks for the round-5 post-wave additions (VERDICT r5 #6):
lift/gain decile shape, mixture-temperature weight algebra, prefix-cluster
counts vs a pandas reference, DSIR/DoReMi weight normalization — all on
synthetic corpora written to a throwaway sf_dir, so the REGISTERED ops run
unchanged (same sql_q path, same memoized-view machinery the driver uses).

BH step-up and PCA power iteration already have property suites in
test_properties.py (test_bh_adjustment_properties,
test_power_iteration_recovers_planted_direction)."""

from __future__ import annotations

import hashlib

import pandas as pd
from hypothesis import given, settings, strategies as st

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from tests.conftest import synthetic_sf

SF_SMOKE = "/root/testdata/sf0.001"

_SETTINGS = dict(max_examples=5, deadline=None)


def _docs(texts_sources_langs) -> pd.DataFrame:
    rows = [
        {
            "doc_id": i,
            "text": t,
            "lang": lang,
            "source": src,
            "n_chars": len(t),
        }
        for i, (t, src, lang) in enumerate(texts_sources_langs)
    ]
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source", "n_chars"])


# --- agg_lift_gain_table -----------------------------------------------------

EVENTS = st.lists(
    st.tuples(
        st.floats(min_value=0.0, max_value=50.0, allow_nan=False, width=64),
        st.booleans(),
    ),
    min_size=12,
    max_size=120,
)


@given(ev=EVENTS)
@settings(**_SETTINGS)
def test_lift_gain_monotone_and_closed(spark, ev):
    """Gain is non-decreasing across deciles and ends at exactly 1 (the
    full corpus captures all positives); cumulative rows end at the corpus
    size; lift ≡ gain / population-share at every decile."""
    ev = ev + [(1.0, True)]  # ≥1 positive so gain's denominator is nonzero
    events = pd.DataFrame(
        {
            "event_id": range(len(ev)),
            # within the documented corpus range (FIXTURES.md: 2024-01) and
            # µs-encoded — the events loader validates both from the footer
            "ts": pd.Series(
                [pd.Timestamp("2024-01-15")] * len(ev), dtype="datetime64[us]"
            ),
            "user_id": [i % 7 for i in range(len(ev))],
            "event_type": ["purchase" if y else "view" for _, y in ev],
            "value": [v for v, _ in ev],
            "props": "{}",
        }
    )
    sf = synthetic_sf(events=events)
    out = (
        all_queries()["agg_lift_gain_table"](spark, sf)
        .toPandas()
        .sort_values("decile")
        .reset_index(drop=True)
    )
    n_total = len(ev)
    n_pos = sum(1 for _, y in ev if y)
    gains = out["gain"].tolist()
    assert all(b >= a - 1e-9 for a, b in zip(gains, gains[1:]))
    assert abs(gains[-1] - 1.0) < 1e-9
    assert int(out["cum_rows"].iloc[-1]) == n_total
    assert int(out["cum_positives"].iloc[-1]) == n_pos
    for _, r in out.iterrows():
        share = r["cum_rows"] / n_total
        assert abs(r["lift"] - r["gain"] / share) < 1e-4


# --- llm_mixture_temperature -------------------------------------------------

SOURCES = st.lists(
    st.tuples(st.sampled_from(["web", "books", "code", "wiki", "news"]),
              st.integers(min_value=1, max_value=40)),
    min_size=1,
    max_size=5,
    unique_by=lambda t: t[0],
)


@given(srcs=SOURCES)
@settings(**_SETTINGS)
def test_mixture_temperature_weight_algebra(spark, srcs):
    """Raw and temperature-scaled weights each sum to 1 (±rounding);
    upweight = w_temp / w_raw orders INVERSELY to source size (T>1 flattens:
    bigger sources are always down-weighted relative to smaller ones)."""
    docs = _docs(
        (f"doc {s} {i} filler text", s, "en")
        for s, n in srcs
        for i in range(n)
    )
    sf = synthetic_sf(documents=docs)
    out = all_queries()["llm_mixture_temperature"](spark, sf).toPandas()
    assert len(out) == len(srcs)
    tol = 1e-5 * max(1, len(out))  # each weight rounded to 6 decimals
    assert abs(out["w_raw"].sum() - 1.0) < tol
    assert abs(out["w_temperature"].sum() - 1.0) < tol
    by_size = out.sort_values(["n_docs", "source"]).reset_index(drop=True)
    ups = by_size["upweight"].tolist()
    ns = by_size["n_docs"].tolist()
    for (n_a, u_a), (n_b, u_b) in zip(zip(ns, ups), zip(ns[1:], ups[1:])):
        if n_b > n_a:
            assert u_b <= u_a + 1e-4, (n_a, u_a, n_b, u_b)


# --- llm_prefix_dup_clusters -------------------------------------------------

PREFIXES = st.lists(
    st.tuples(
        st.sampled_from(["AAAA", "BBBB", "CCCC"]),   # 3 prefix families
        st.integers(min_value=0, max_value=9),        # per-doc body variant
        st.booleans(),                                # long enough to count?
        st.sampled_from(["web", "books"]),
    ),
    min_size=2,
    max_size=40,
)


@given(rows=PREFIXES)
@settings(**_SETTINGS)
def test_prefix_clusters_match_pandas_reference(spark, rows):
    """The registered op's full output equals a pandas reimplementation:
    md5 over the first 120 chars of docs with ≥120 chars, clusters of
    size ≥2, top-20 by (size desc, rep_doc)."""
    docs = _docs(
        (
            (pref * 30 + f" body {variant}") if is_long else f"{pref} short {variant}",
            src,
            "en",
        )
        for pref, variant, is_long, src in rows
    )
    sf = synthetic_sf(documents=docs)
    got = (
        all_queries()["llm_prefix_dup_clusters"](spark, sf)
        .toPandas()
        .reset_index(drop=True)
    )

    eligible = docs[docs["text"].str.len() >= 120].copy()
    eligible["ph"] = eligible["text"].str[:120].map(
        lambda s: hashlib.md5(s.encode()).hexdigest()
    )
    ref = (
        eligible.groupby("ph")
        .agg(
            cluster_size=("doc_id", "size"),
            n_sources=("source", "nunique"),
            rep_doc=("doc_id", "min"),
        )
        .reset_index(drop=True)
    )
    ref = ref[ref["cluster_size"] >= 2].sort_values(
        ["cluster_size", "rep_doc"], ascending=[False, True]
    ).head(20).reset_index(drop=True)[["rep_doc", "cluster_size", "n_sources"]]
    assert got.astype("int64").values.tolist() == ref.astype("int64").values.tolist()


# --- llm_dsir_importance -----------------------------------------------------

def test_dsir_weights_vanish_when_target_equals_raw(spark):
    """If every document is in the target domain (lang='en'), the target
    and raw bucket distributions coincide (identical add-1 smoothing), so
    every log-ratio is 0 and every document's dsir_weight is exactly 0."""
    docs = _docs(
        (f"alpha beta gamma delta token{i} words", "web", "en")
        for i in range(25)
    )
    sf = synthetic_sf(documents=docs)
    out = all_queries()["llm_dsir_importance"](spark, sf).toPandas()
    assert len(out) == 20
    assert (out["dsir_weight"] == 0.0).all()


def test_dsir_upweights_target_like_documents(spark):
    """A non-English doc written entirely in target-domain vocabulary must
    outscore a non-English doc with vocabulary no English doc uses."""
    en_docs = [(f"common shared vocab words here {i % 3}", "web", "en") for i in range(10)]
    lookalike = [("common shared vocab words here 0", "web", "de")]
    alien = [("zzz qqq xxx vvv kkk jjj", "web", "de")]
    docs = _docs(en_docs + lookalike + alien)
    sf = synthetic_sf(documents=docs)
    out = all_queries()["llm_dsir_importance"](spark, sf).toPandas()
    w = dict(zip(out["doc_id"], out["dsir_weight"]))
    assert w[10] > w[11], w  # lookalike (doc 10) beats alien (doc 11)


# --- llm_doremi_reweight_step ------------------------------------------------

DOMAINS = st.lists(
    st.tuples(
        st.sampled_from(["web", "books", "code"]),
        st.integers(min_value=2, max_value=12),   # docs in domain
        st.integers(min_value=0, max_value=4),    # rare-token count (loss knob)
    ),
    min_size=2,
    max_size=3,
    unique_by=lambda t: t[0],
)


@given(doms=DOMAINS)
@settings(**_SETTINGS)
def test_doremi_weights_normalized_and_ordered_by_excess_loss(spark, doms):
    """w_old and w_new each sum to 1 (±rounding); the multiplicative
    update is monotone — a domain with higher avg NLL never sees a smaller
    w_new/w_old ratio than an easier domain."""
    docs = _docs(
        (
            "the a of and " + " ".join(f"rare_{s}_{i}_{j}" for j in range(rare)),
            s,
            "en",
        )
        for s, n, rare in doms
        for i in range(n)
    )
    sf = synthetic_sf(documents=docs)
    out = all_queries()["llm_doremi_reweight_step"](spark, sf).toPandas()
    assert len(out) == len(doms)
    tol = 1e-5 * max(1, len(out))
    assert abs(out["w_old"].sum() - 1.0) < tol
    assert abs(out["w_new"].sum() - 1.0) < tol
    by_nll = out.sort_values("avg_nll").reset_index(drop=True)
    ratios = (by_nll["w_new"] / by_nll["w_old"]).tolist()
    nlls = by_nll["avg_nll"].tolist()
    for (l_a, r_a), (l_b, r_b) in zip(zip(nlls, ratios), zip(nlls[1:], ratios[1:])):
        if l_b > l_a + 1e-9:
            assert r_b >= r_a - 1e-3, (l_a, r_a, l_b, r_b)
