"""Boilerplate-cliff probe for substring dedup (r14 verdict task #3 "done"
criterion): show that llm_chunk_overlap_dedup's pair set grows QUADRATICALLY
in the number of DISTINCT docs sharing one boilerplate header, while
llm_chunk_overlap_dedup_capped stays linear (bounded bucket width).

This is the corpus shape the real 100 TB killer takes: exact-collapse-first
kills copies² (verbatim crawl duplicates), but a licence header / nav bar
shared by millions of DISTINCT pages survives the collapse — every header
chunk becomes one hash bucket of width |distinct docs|, and the uncapped
self-join pays width² per bucket. No amplification of the synthetic corpus
reproduces this (its chunk doc-frequency tops out at 4), so the probe
synthesizes it directly:

  N distinct docs = 30-token shared HEADER + 25 unique filler tokens,
  each duplicated x2 with fresh doc_ids (so the exact collapse also has
  real work to do), written as documents.parquet of a fresh corpus dir
  (tests.conftest.synthetic_sf).

For N in (1000, 2000, 4000): run both ops, record wall-clock + output rows.
Expected: uncapped rows ≈ N(N-1)/2 (4x per doubling), capped rows flat at 0
header pairs (header chunks are stop-chunks at ANY cap <= N) with the audit
columns accounting for every dropped chunk.

Usage: python tools/boilerplate_probe.py  (~2 min)
"""

from __future__ import annotations

import os
import sys
import time

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import synthetic_sf  # noqa: E402

HEADER = " ".join(f"hdr{i}" for i in range(30))


def build_corpus(n_distinct: int) -> str:
    doc_ids, texts = [], []
    next_id = 0
    for i in range(n_distinct):
        filler = " ".join(f"w{i}_{j}" for j in range(25))
        text = f"{HEADER} {filler}"
        for _ in range(2):  # x2 exact duplicates: collapse must earn its keep
            doc_ids.append(next_id)
            texts.append(text)
            next_id += 1
    docs = pd.DataFrame(
        {
            "doc_id": pd.Series(doc_ids, dtype="int64"),
            "text": texts,
            "lang": "en",
            "source": "boiler",
            "n_chars": pd.Series([len(t) for t in texts], dtype="int64"),
        }
    )
    # the other nine tables come from the smoke corpus: ops read the
    # corpus views, which register all ten
    return synthetic_sf(documents=docs)


def main() -> None:
    from highspeedrailwaybigdatasystem_spark.registry import all_queries
    from highspeedrailwaybigdatasystem_spark.session import build_session

    spark = build_session("boilerplate_probe", shuffle_partitions=16)
    qs = all_queries()
    print(f"{'N_distinct':>10} {'op':<34} {'rows':>10} {'sec':>8}")
    rows_by: dict[tuple[int, str], int] = {}
    for n in (1000, 2000, 4000):
        sf_dir = build_corpus(n)
        for op in ("llm_chunk_overlap_dedup", "llm_chunk_overlap_dedup_capped"):
            fn = getattr(qs[op], "__wrapped__", qs[op])
            t0 = time.time()
            cnt = fn(spark, sf_dir).count()
            dt = time.time() - t0
            rows_by[(n, op)] = cnt
            print(f"{n:>10} {op:<34} {cnt:>10} {dt:>8.2f}")
    # growth factors across doublings
    for op in ("llm_chunk_overlap_dedup", "llm_chunk_overlap_dedup_capped"):
        g1 = rows_by[(2000, op)] / max(rows_by[(1000, op)], 1)
        g2 = rows_by[(4000, op)] / max(rows_by[(2000, op)], 1)
        print(f"{op}: pair-set growth per doubling = {g1:.2f}x, {g2:.2f}x")
    # capped audit sanity: every surviving... with pure-header corpora the
    # capped pair set should be EMPTY (all shared chunks are stop-chunks)
    spark.stop()


if __name__ == "__main__":
    main()
