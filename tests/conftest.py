"""Shared fixtures: one warmed SparkSession + one DuckDB connection per
pytest session (session startup is ~10 s — amortized per SURVEY.md §4.3)."""

from __future__ import annotations

import os
import sys
import tempfile

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def synthetic_sf(**overrides: pd.DataFrame) -> str:
    """A fresh sf_dir: each override (``documents=``, ``events=``, ...)
    written as parquet, every other corpus table symlinked from sf0.001 so
    ensure_views sees all ten. A new directory per call (per hypothesis
    example), so no view or plan memo entry can carry over from one
    example to the next."""
    from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES

    d = tempfile.mkdtemp(prefix="prop_sf_")
    for name in TABLE_NAMES:
        dst = os.path.join(d, f"{name}.parquet")
        if name in overrides:
            overrides[name].to_parquet(dst, index=False)
        else:
            os.symlink(f"{SF_SMOKE}/{name}.parquet", dst)
    return d


@pytest.fixture(scope="session")
def spark():
    from highspeedrailwaybigdatasystem_spark.session import build_session

    s = build_session("tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def nullinj_dir(tmp_path_factory) -> str:
    """The null-injection corpus (tools/gen_nullinj.py), built once."""
    from tools.gen_nullinj import build

    out = str(tmp_path_factory.mktemp("nullinj"))
    build(out)
    return out


@pytest.fixture(scope="session")
def nullinj_stream_dir(tmp_path_factory) -> str:
    """The wave-3 streaming null-injection corpus (NULL ts and
    event_type on top of the base injections), built once."""
    from tools.gen_nullinj import build

    out = str(tmp_path_factory.mktemp("nullinj_stream"))
    build(out, stream=True)
    return out


@pytest.fixture(scope="session")
def duck():
    from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()
