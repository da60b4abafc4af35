"""Shingle ops on documents shorter than their n-gram: each must match its
DuckDB oracle on a corpus that plants '', 1-word and 2-word documents next
to near-duplicate pairs.

Spark's ``sequence(0, size(tk) - n)`` counts DOWN when a document has
fewer than n tokens, and under ANSI mode the ``tk[i]`` it then indexes
raises ``[INVALID_ARRAY_INDEX]``. DuckDB's ``generate_series(1, len(tk) -
n + 1)`` is empty there, so a short document has no shingles. No stock
corpus has a document under 10 tokens, so only a planted one shows it."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from highspeedrailwaybigdatasystem_spark.registry import all_oracles, all_queries
from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES
from tests.conftest import SF_SMOKE, synthetic_sf
from tools.mirror import compare

SHINGLE_OPS = [
    "llm_minhash_banding",
    "llm_containment_banded",
    "llm_minhash_jaccard_estimate",
    "llm_lsh_tuning_curve",
    "llm_dup_partner_degree_dist",
    "llm_doc_fingerprint",
    "llm_idf_weighted_jaccard",
    "llm_bigram_lm",
]


@pytest.fixture(scope="module")
def short_doc_sf():
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    # near-duplicate pairs: docs 10-15 repeat docs 0-5 with one word
    # changed, so the banding ops have candidates to verify
    for i in range(6):
        words = docs.loc[i, "text"].split(" ")
        words[-1] = "changed"
        docs.loc[10 + i, "text"] = " ".join(words)
    for i, text in zip(range(20, 27), ["", "", "a", "b", "a b", "a b", "b c"]):
        docs.loc[i, "text"] = text
    return synthetic_sf(documents=docs)


@pytest.mark.parametrize("op", SHINGLE_OPS)
def test_shingle_op_matches_oracle_on_short_documents(spark, short_doc_sf, op):
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{short_doc_sf}/{name}.parquet')"
        )
    want = con.execute(all_oracles()[op]).fetchdf()
    con.close()
    got = all_queries()[op](spark, short_doc_sf).toPandas()
    problems = compare(op, got, want)
    assert not problems, f"{op}: " + "; ".join(problems)
