"""Corpus contract: the on-disk parquet must match the physical schema the
engine was written against.

Round 2 incident: /root/testdata was regenerated mid-round and events.ts
silently changed timestamp unit — every event timestamp came out 1000× too
small and 16 ops went red while everything still "ran fine". This test
makes any such drift fail loudly in one obvious place (VERDICT r2 item #6).

pyarrow-footer-only: no Spark session, runs in milliseconds.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

import pyarrow.parquet as pq
import pytest

from highspeedrailwaybigdatasystem_spark.schemas import check_events_ts

#: Physical (parquet footer) schema manifest, recorded 2026-08-13 from the
#: regenerated corpus. ts-like columns are timestamp[us]; schemas.load
#: refuses an events.ts of any other type.
PHYSICAL_MANIFEST: dict[str, list[tuple[str, str]]] = {
    "region": [("r_regionkey", "int32"), ("r_name", "string")],
    "nation": [
        ("n_nationkey", "int32"),
        ("n_name", "string"),
        ("n_regionkey", "int32"),
    ],
    "customer": [
        ("c_custkey", "int64"),
        ("c_name", "string"),
        ("c_nationkey", "int32"),
        ("c_acctbal", "double"),
        ("c_mktsegment", "string"),
    ],
    "supplier": [
        ("s_suppkey", "int64"),
        ("s_name", "string"),
        ("s_nationkey", "int32"),
        ("s_acctbal", "double"),
    ],
    "part": [
        ("p_partkey", "int64"),
        ("p_name", "string"),
        ("p_brand", "string"),
        ("p_type", "string"),
        ("p_size", "int32"),
        ("p_retailprice", "double"),
    ],
    "orders": [
        ("o_orderkey", "int64"),
        ("o_custkey", "int64"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp[us]"),
        ("o_orderpriority", "string"),
    ],
    "lineitem": [
        ("l_orderkey", "int64"),
        ("l_partkey", "int64"),
        ("l_suppkey", "int64"),
        ("l_linenumber", "int32"),
        ("l_quantity", "double"),
        ("l_extendedprice", "double"),
        ("l_discount", "double"),
        ("l_tax", "double"),
        ("l_returnflag", "string"),
        ("l_linestatus", "string"),
        ("l_shipdate", "timestamp[us]"),
    ],
    "events": [
        ("event_id", "int64"),
        ("ts", "timestamp[us]"),
        ("user_id", "int64"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "int64"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "int64"),
    ],
    "embeddings": [
        ("vec_id", "int64"),
        ("embedding", "list<element: float>"),
        ("label", "int32"),
    ],
}

TESTDATA_ROOT = "/root/testdata"
SF_DIRS = sorted(glob.glob(os.path.join(TESTDATA_ROOT, "sf*")))


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=[os.path.basename(d) for d in SF_DIRS])
@pytest.mark.parametrize("table", sorted(PHYSICAL_MANIFEST))
def test_physical_schema_matches_manifest(sf_dir: str, table: str) -> None:
    path = os.path.join(sf_dir, f"{table}.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    got = [(f.name, str(f.type)) for f in pq.read_schema(path)]
    assert got == PHYSICAL_MANIFEST[table], (
        f"CORPUS DRIFT in {path}: physical schema changed.\n"
        f"  on disk : {got}\n"
        f"  manifest: {PHYSICAL_MANIFEST[table]}\n"
        "If the regeneration is intentional, update this manifest AND audit "
        "schemas.py before trusting results."
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=[os.path.basename(d) for d in SF_DIRS])
def test_events_ts_within_documented_range(sf_dir: str) -> None:
    """Footer row-group statistics must land inside the FIXTURES.md window
    (events span 2024-01-01…2024-01-30). A ns↔µs unit mixup is a ×1000
    excursion — impossible to miss here."""
    path = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    md = pq.ParquetFile(path).metadata
    ts_idx = md.schema.to_arrow_schema().get_field_index("ts")
    lo = hi = None
    for rg in range(md.num_row_groups):
        stats = md.row_group(rg).column(ts_idx).statistics
        if stats is None or not stats.has_min_max:
            continue
        lo = stats.min if lo is None else min(lo, stats.min)
        hi = stats.max if hi is None else max(hi, stats.max)
    assert lo is not None, f"{path}: no ts statistics in footer"
    assert dt.datetime(2023, 12, 31) <= lo <= hi <= dt.datetime(2024, 2, 1), (
        f"{path}: events.ts statistics out of documented range: "
        f"min={lo} max={hi} — possible unit drift"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=[os.path.basename(d) for d in SF_DIRS])
def test_sniffer_classifies_events(sf_dir: str) -> None:
    """The loader's footer check accepts every tier's events file."""
    path = os.path.join(sf_dir, "events.parquet")
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    check_events_ts(path)

