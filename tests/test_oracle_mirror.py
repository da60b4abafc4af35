"""The t2 gate replica: every queries() entry vs its oracle_sql() on the
oracle tier (sf0.01 by default) — row count, columns, dtype families,
order-insensitive exact values (tools/mirror.py compare rules).
"""

from __future__ import annotations

import pytest
from pyspark.sql.types import ArrayType, MapType, StructType

import __spark_entry__ as entrymod
from tools.mirror import compare
from tests.conftest import SF_ORACLE

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()

ORACLE_NAMES = sorted(_QUERIES)  # registry.register requires an oracle


def test_surface_size():
    assert len(_QUERIES) >= 85


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(name, spark, duck):
    df = _QUERIES[name](spark, SF_ORACLE)
    # The external canonicalizer hashes cells with pandas sort_values/factorize,
    # which crashes on list/dict cells — oracle-backed surfaces must be flat
    # (SURVEY.md §5.3). Flatten arrays with array_join before returning.
    complex_cols = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not complex_cols, (
        f"{name}: oracle-backed op returns complex-typed columns {complex_cols}; "
        "flatten to scalars (array_join / string_agg) per SURVEY.md §5.3"
    )
    spark_pdf = df.toPandas()
    duck_pdf = duck.execute(_ORACLES[name]).fetchdf()
    problems = compare(name, spark_pdf, duck_pdf)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"n_name", "revenue"}
