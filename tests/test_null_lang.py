"""A document whose ``lang`` is NULL still ranks in ``llm_dsir_importance``:
the DuckDB oracle groups tokens by ``(doc_id, lang)``, so such a document
keeps its weight and is returned with a NULL ``lang`` when it is among the
top 20. The corpus plants a NULL ``lang`` on the oracle's top document."""

from __future__ import annotations

import duckdb
import pandas as pd

from highspeedrailwaybigdatasystem_spark.registry import all_oracles, all_queries
from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES
from tests.conftest import SF_SMOKE, synthetic_sf
from tools.mirror import compare


def _oracle(sf_dir: str, op: str) -> pd.DataFrame:
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{name}.parquet')"
        )
    try:
        return con.execute(all_oracles()[op]).fetchdf()
    finally:
        con.close()


def test_dsir_ranks_null_lang_documents(spark):
    op = "llm_dsir_importance"
    top = int(_oracle(SF_SMOKE, op)["doc_id"].iloc[0])
    docs = pd.read_parquet(f"{SF_SMOKE}/documents.parquet")
    docs.loc[docs["doc_id"] == top, "lang"] = None
    sf_dir = synthetic_sf(documents=docs)
    want = _oracle(sf_dir, op)
    assert want["lang"].isna().any()
    got = all_queries()[op](spark, sf_dir).toPandas()
    problems = compare(op, got, want)
    assert not problems, "; ".join(problems)
