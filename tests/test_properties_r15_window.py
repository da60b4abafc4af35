"""Round-15 window additions: independent recompute for
llm_chunk_overlap_dedup_capped (new this round — the stop-chunk df-cap
sibling of llm_chunk_overlap_dedup, r14 verdict task #3), per the
new-op-lands-with-a-test discipline enforced by
test_every_gate_window_op_has_test_coverage.

The oracle mirror proves Spark ≡ DuckDB; this recompute (pure
python/hashlib over the raw parquet, no SQL engine) is the third way that
guards against both engines sharing a bug. It rebuilds the whole pipeline
— exact collapse, strided 20-token chunking, doc-frequency cap at 2,
pair formation over kept chunks, per-doc stop-chunk audit counts — and
asserts exact equality of the pair set and every column.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import pandas as pd

from highspeedrailwaybigdatasystem_spark.registry import all_queries

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

STOP_DF = 2


def _brute(sf_dir: str, stop_df: int = STOP_DF):
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    # exact collapse: min doc_id per md5(text)
    reps: dict[str, int] = {}
    texts: dict[str, str] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        h = hashlib.md5(text.encode()).hexdigest()
        if h not in reps or doc_id < reps[h]:
            reps[h] = int(doc_id)
        texts[h] = text
    # strided chunking over distinct-content representatives
    doc_chunks: dict[int, set[str]] = {}
    for h, rid in reps.items():
        tk = texts[h].split(" ")
        if len(tk) < 20:
            continue
        chunks = {
            hashlib.md5(" ".join(tk[i : i + 20]).encode()).hexdigest()
            for i in range(0, len(tk) - 19, 10)
        }
        doc_chunks[rid] = chunks
    # doc frequency + cap
    df: dict[str, int] = defaultdict(int)
    for chunks in doc_chunks.values():
        for ch in chunks:
            df[ch] += 1
    stop = {ch for ch, n in df.items() if n > stop_df}
    dropped = {
        rid: len(chunks & stop) for rid, chunks in doc_chunks.items() if chunks & stop
    }
    bucket: dict[str, list[int]] = defaultdict(list)
    for rid, chunks in doc_chunks.items():
        for ch in chunks - stop:
            bucket[ch].append(rid)
    pairs: dict[tuple[int, int], int] = defaultdict(int)
    for ch, ids in bucket.items():
        ids.sort()
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs[(ids[i], ids[j])] += 1
    return pairs, dropped


def _check(spark, sf_dir: str):
    out = all_queries()["llm_chunk_overlap_dedup_capped"](spark, sf_dir).toPandas()
    pairs, dropped = _brute(sf_dir)
    got = {
        (int(r.doc_a), int(r.doc_b)): (
            int(r.n_shared),
            int(r.stop_dropped_a),
            int(r.stop_dropped_b),
        )
        for r in out.itertuples()
    }
    assert set(got) == set(pairs), (
        f"pair set mismatch: extra={sorted(set(got) - set(pairs))[:5]}, "
        f"missing={sorted(set(pairs) - set(got))[:5]}"
    )
    for (a, b), n in pairs.items():
        ns, sa, sb = got[(a, b)]
        assert ns == n, f"pair ({a},{b}): n_shared {ns} != {n}"
        assert sa == dropped.get(a, 0), f"doc {a}: stop_dropped_a"
        assert sb == dropped.get(b, 0), f"doc {b}: stop_dropped_b"
    return len(pairs)


def test_chunk_overlap_capped_matches_bruteforce_smoke(spark):
    _check(spark, SF_SMOKE)


def test_chunk_overlap_capped_matches_bruteforce_oracle_tier(spark):
    n = _check(spark, SF_ORACLE)
    assert n > 0, "degenerate: no pairs at the gate tier — test proves nothing"


def test_capped_is_subset_with_deflated_counts(spark):
    """Metamorphic vs the parent op: every capped pair exists uncapped
    with n_shared >= the capped count, and any pair present uncapped but
    absent capped must have lost ALL its shared chunks to the cap."""
    qs = all_queries()
    capped = {
        (int(r.doc_a), int(r.doc_b)): int(r.n_shared)
        for r in qs["llm_chunk_overlap_dedup_capped"](spark, SF_ORACLE)
        .toPandas()
        .itertuples()
    }
    full = {
        (int(r.doc_a), int(r.doc_b)): int(r.n_shared)
        for r in qs["llm_chunk_overlap_dedup"](spark, SF_ORACLE)
        .toPandas()
        .itertuples()
    }
    assert set(capped) <= set(full)
    for k, n in capped.items():
        assert n <= full[k], f"pair {k}: capped n_shared exceeds uncapped"


def test_stop_chunk_stats_matches_bruteforce(spark):
    """llm_stop_chunk_stats (new r15): df histogram + pair_work recomputed
    from the same pure-python chunker used for the capped op's test —
    and the cross-op invariant: sum of pair_work over df <= STOP_DF
    equals the capped op's total n_shared (each kept shared chunk
    contributes exactly its bucket's pairs)."""
    docs = pd.read_parquet(f"{SF_ORACLE}/documents.parquet", columns=["doc_id", "text"])
    reps: dict[str, int] = {}
    texts: dict[str, str] = {}
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        if text is None:
            continue
        h = hashlib.md5(text.encode()).hexdigest()
        if h not in reps or doc_id < reps[h]:
            reps[h] = int(doc_id)
        texts[h] = text
    df_count: dict[str, int] = defaultdict(int)
    for h in reps:
        tk = texts[h].split(" ")
        if len(tk) < 20:
            continue
        for ch in {
            hashlib.md5(" ".join(tk[i : i + 20]).encode()).hexdigest()
            for i in range(0, len(tk) - 19, 10)
        }:
            df_count[ch] += 1
    hist: dict[int, int] = defaultdict(int)
    for n in df_count.values():
        hist[n] += 1
    out = all_queries()["llm_stop_chunk_stats"](spark, SF_ORACLE).toPandas()
    got = {int(r.df): (int(r.n_chunks), int(r.n_instances), int(r.pair_work))
           for r in out.itertuples()}
    assert set(got) == set(hist)
    for dfv, n in hist.items():
        assert got[dfv] == (n, n * dfv, n * dfv * (dfv - 1) // 2), dfv
    # cross-op invariant vs the capped pair table
    capped = all_queries()["llm_chunk_overlap_dedup_capped"](spark, SF_ORACLE).toPandas()
    kept_pair_work = sum(
        n * dfv * (dfv - 1) // 2 for dfv, n in hist.items() if dfv <= STOP_DF
    )
    assert int(capped["n_shared"].sum()) == kept_pair_work


def test_null_profile_counts(spark, nullinj_dir):
    """llm_null_profile recomputed in pandas; zero null rates on the
    pristine corpus, exact counts on the null-injection corpus
    (tools/gen_nullinj.py)."""
    for sf in (SF_ORACLE, nullinj_dir):
        docs = pd.read_parquet(f"{sf}/documents.parquet",
                               columns=["source", "text", "lang"])
        out = all_queries()["llm_null_profile"](spark, sf).toPandas()
        for r in out.itertuples():
            g = docs[docs["source"] == r.source]
            assert r.n_docs == len(g)
            assert r.null_text == int(g["text"].isna().sum())
            assert r.null_lang == int(g["lang"].isna().sum())
            assert r.both_null == int((g["text"].isna() & g["lang"].isna()).sum())
        assert set(out["source"]) == set(docs["source"].unique())
    assert docs["text"].isna().any(), "null-injection corpus has no NULL text"
