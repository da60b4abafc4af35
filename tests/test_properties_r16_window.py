"""Round-16 window tests.

1. llm_chunk_overlap_dedup_capped's stop-chunk cap is now the conf
   ``spark.graft.chunk_dedup.stop_df`` (r15 verdict task #5). The sweep
   below runs the op at STOP_DF ∈ {2, 3} and proves each against the
   SAME DuckDB oracle template the registry registers at the default —
   Spark and the oracle are parameterized from one source, so a cap
   value can never silently diverge from its proof. A non-vacuity guard
   asserts the two caps produce different results on the gate corpus
   (the sf0.01 chunk df distribution reaches beyond 2, so the sweep
   exercises the cap, not just the default path) and a third-way check
   re-proves the non-default cap against the pure-python recompute from
   tests/test_properties_r15_window.py.

2. llm_ivf_index_persist (new this round, r15 verdict task #6): the
   persisted-IVF-index probe path — index built and written ONCE, probe
   reads the stored inverted lists. Plan assertion lives in
   tests/test_plans.py; the recompute here proves the persisted-index
   answer is identical to llm_ivf_ann's in-query-assignment answer
   (same centroids, same nprobe → same lists, same top-k).
"""

from __future__ import annotations

import os
import sys

import pytest

from highspeedrailwaybigdatasystem_spark.registry import all_queries

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

_STOP_CONF = "spark.graft.chunk_dedup.stop_df"


def _run_capped(spark, sf_dir: str, stop_df: int):
    spark.conf.set(_STOP_CONF, str(stop_df))
    try:
        return (
            all_queries()["llm_chunk_overlap_dedup_capped"](spark, sf_dir)
            .toPandas()
        )
    finally:
        spark.conf.unset(_STOP_CONF)


@pytest.mark.parametrize("stop_df", [2, 3])
def test_chunk_capped_stop_df_sweep_vs_oracle(spark, duck, stop_df):
    from mirror import compare

    from highspeedrailwaybigdatasystem_spark.functions.llm_dedup import (
        _CHUNK_CAPPED_ORACLE_TMPL,
    )

    out = _run_capped(spark, SF_ORACLE, stop_df)
    oracle = duck.execute(
        _CHUNK_CAPPED_ORACLE_TMPL.format(stop_df=stop_df)
    ).fetchdf()
    problems = compare("llm_chunk_overlap_dedup_capped", out, oracle)
    assert not problems, f"stop_df={stop_df}: {problems}"


def test_chunk_capped_sweep_is_not_vacuous(spark):
    """The two swept caps must disagree on the gate corpus — otherwise
    the stop_df=3 leg re-proves the default and the sweep tests nothing
    (the r14 geo lesson: a parameter value no tested tier exercises is
    dead code at the gate)."""
    a = _run_capped(spark, SF_ORACLE, 2)
    b = _run_capped(spark, SF_ORACLE, 3)
    ka = {(int(r.doc_a), int(r.doc_b)): (int(r.n_shared), int(r.stop_dropped_a), int(r.stop_dropped_b)) for r in a.itertuples()}
    kb = {(int(r.doc_a), int(r.doc_b)): (int(r.n_shared), int(r.stop_dropped_a), int(r.stop_dropped_b)) for r in b.itertuples()}
    assert ka != kb, (
        "stop_df=2 and stop_df=3 produced identical output — the corpus "
        "no longer exercises the cap between these values; pick caps the "
        "df distribution actually spans"
    )
    # Loosening the cap can only keep MORE chunks: every df<=2 pair
    # survives at df<=3 with n_shared at least as large, and per-doc
    # stop-drop counts can only shrink.
    assert set(ka) <= set(kb)
    for k, (n2, sa2, sb2) in ka.items():
        n3, sa3, sb3 = kb[k]
        assert n3 >= n2 and sa3 <= sa2 and sb3 <= sb2, f"pair {k} not monotone"


def test_chunk_capped_nondefault_matches_bruteforce(spark):
    """Third way at the non-default cap: pure-python recompute (no SQL
    engine on either side) at stop_df=3."""
    from tests.test_properties_r15_window import _brute

    out = _run_capped(spark, SF_ORACLE, 3)
    pairs, dropped = _brute(SF_ORACLE, stop_df=3)
    got = {
        (int(r.doc_a), int(r.doc_b)): (
            int(r.n_shared),
            int(r.stop_dropped_a),
            int(r.stop_dropped_b),
        )
        for r in out.itertuples()
    }
    assert set(got) == set(pairs)
    for (x, y), n in pairs.items():
        ns, sa, sb = got[(x, y)]
        assert ns == n and sa == dropped.get(x, 0) and sb == dropped.get(y, 0)


def test_chunk_capped_rejects_degenerate_cap(spark):
    with pytest.raises(Exception, match="stop_df"):
        _run_capped(spark, SF_SMOKE, 0)


def _persist_meta_path(sf_dir: str) -> str:
    import hashlib

    from highspeedrailwaybigdatasystem_spark.sources._scratch import scratch_dir

    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    return os.path.join(scratch_dir("ivf_index"), tag, "meta.json")


def test_ivf_persist_identical_to_in_query_ann(spark):
    """Persisting the assignment must not change a single neighbor: the
    persisted-index probe answers exactly what llm_ivf_ann answers."""
    qs = all_queries()
    a = qs["llm_ivf_ann"](spark, SF_ORACLE).toPandas()
    b = qs["llm_ivf_index_persist"](spark, SF_ORACLE).toPandas()
    pa = sorted(map(tuple, a[["vec_id", "cent_id", "sim"]].itertuples(index=False)))
    pb = sorted(map(tuple, b[["vec_id", "cent_id", "sim"]].itertuples(index=False)))
    assert pa == pb


def test_ivf_persist_is_write_once(spark):
    """Second call with an unchanged corpus must SERVE, not rebuild: the
    index meta file's mtime is untouched by a repeat query."""
    qs = all_queries()
    qs["llm_ivf_index_persist"](spark, SF_SMOKE).count()
    meta = _persist_meta_path(SF_SMOKE)
    m0 = os.stat(meta).st_mtime_ns
    qs["llm_ivf_index_persist"](spark, SF_SMOKE).count()
    assert os.stat(meta).st_mtime_ns == m0, "repeat query rebuilt the index"


def test_ivf_persist_rebuilds_on_stale_fingerprint(spark):
    """A corpus-fingerprint mismatch must force a rebuild — a stale index
    can never serve a regenerated corpus."""
    import json

    qs = all_queries()
    qs["llm_ivf_index_persist"](spark, SF_SMOKE).count()
    meta = _persist_meta_path(SF_SMOKE)
    rec = json.load(open(meta))
    rec["fingerprint"] = "stale"
    json.dump(rec, open(meta, "w"))
    qs["llm_ivf_index_persist"](spark, SF_SMOKE).count()
    assert json.load(open(meta))["fingerprint"] != "stale", "stale index served"


# --- wave-3 streaming NULL contract (SURVEY.md §5.3 classes f/g) ---

def test_stream_null_event_time_contract(spark, nullinj_stream_dir):
    """Class (f): NULL event time has no window. stream_tumbling on the
    wave-3 corpus must emit zero NULL win_start rows AND match its own
    oracle (the explicit ingest filter is shared verbatim), which the
    wave-3 mirror first proved; this pins it in-suite."""
    import duckdb

    from mirror import compare

    from highspeedrailwaybigdatasystem_spark.registry import all_oracles

    sf = nullinj_stream_dir
    out = all_queries()["stream_tumbling"](spark, sf).toPandas()
    assert out["win_start"].notna().all(), "NULL-window group leaked through"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    oracle = con.execute(all_oracles()["stream_tumbling"]).fetchdf()
    con.close()
    assert not compare("stream_tumbling", out, oracle)
    # non-vacuity: the corpus really has NULL event times and NULL types
    import pandas as pd

    ev = pd.read_parquet(f"{sf}/events.parquet", columns=["ts", "event_type"])
    assert ev["ts"].isna().any() and ev["event_type"].isna().any()


def test_stream_null_routing_key_contract(spark, nullinj_stream_dir):
    """Class (g): NULL routing key is a legitimate merge-key group.
    stream_foreachbatch's accumulator must keep the NULL event_type group
    (bare sorted() raised TypeError on the None/str mix before the fix)
    and still match its oracle on the wave-3 corpus."""
    import duckdb

    from mirror import compare

    from highspeedrailwaybigdatasystem_spark.registry import all_oracles

    sf = nullinj_stream_dir
    out = all_queries()["stream_foreachbatch"](spark, sf).toPandas()
    assert out["event_type"].isna().any(), "NULL merge-key group missing"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf}/events.parquet')"
    )
    oracle = con.execute(all_oracles()["stream_foreachbatch"]).fetchdf()
    con.close()
    assert not compare("stream_foreachbatch", out, oracle)


def test_label_propagation_fixpoint_component_min(spark):
    """r16 optimization guard: the dedup-components fixpoint was
    restructured (edge list checkpointed before the undirected union;
    pointer jump through the previous checkpointed label table instead of
    a self-join; inline changed-flag). The unique fixpoint must be
    unchanged: every vertex's label is the MIN vertex id of its connected
    component, and the returned frame carries exactly (v, lbl). The graph
    below needs several supersteps (a 7-vertex chain rooted at 10), so
    the jump path and the convergence check are both exercised."""
    from highspeedrailwaybigdatasystem_spark.functions.llm_dedup import (
        _label_propagation_fixpoint,
    )

    # chain 10-11-12-13-14-15-16, triangle 30-31-32, isolated pair 50-51
    chain = [(i, i + 1) for i in range(10, 16)]
    edges = spark.createDataFrame(
        chain + [(30, 31), (31, 32), (30, 32), (50, 51)],
        "src long, dst long",
    )
    out = _label_propagation_fixpoint(edges)
    assert out.columns == ["v", "lbl"]
    got = {r["v"]: r["lbl"] for r in out.collect()}
    want = {v: 10 for v in range(10, 17)}
    want.update({30: 30, 31: 30, 32: 30, 50: 50, 51: 50})
    assert got == want


def test_gopher_repetition_mapside_fold(spark):
    """r16 optimization guard: the top-bigram share is now a map-side
    sort_array + fold (longest equal run) instead of an explode + shuffle
    count. Pin the fold against hand-computed values, including the
    repeated-bigram and all-distinct edges."""
    import pandas as pd

    from highspeedrailwaybigdatasystem_spark.registry import all_queries

    sf = "/root/testdata/sf0.001"
    out = (
        all_queries()["llm_gopher_repetition"](spark, sf)
        .toPandas()
        .set_index("doc_id")
    )
    docs = pd.read_parquet(f"{sf}/documents.parquet", columns=["doc_id", "text"])
    checked = 0
    for _, row in docs.head(200).iterrows():
        tk = str(row["text"]).split(" ") if row["text"] is not None else []
        if len(tk) < 2:
            assert row["doc_id"] not in out.index
            continue
        grams = [f"{a} {b}" for a, b in zip(tk, tk[1:])]
        top_c = max(grams.count(g) for g in set(grams))
        got = out.loc[row["doc_id"]]
        assert got["n_tok"] == len(tk)
        assert abs(got["top_bigram_frac"] - round(top_c / len(grams), 6)) < 1e-12
        checked += 1
    assert checked > 50
