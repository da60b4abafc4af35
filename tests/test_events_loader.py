"""Events loader unit coverage: timestamp[us] events load losslessly, and
any other ``ts`` encoding is refused at ``load`` with an error naming
``events.ts``, the file and the type found — never converted. A unit
mixup shifts every timestamp 1000× (the round-2 regression), so the only
safe answer to an unexpected encoding is a loud refusal.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from highspeedrailwaybigdatasystem_spark.schemas import load
from highspeedrailwaybigdatasystem_spark.sources._scratch import scratch_dir

_TS = [
    dt.datetime(2024, 1, 2, 13, 33, 7, 222762),
    dt.datetime(2024, 1, 15, 0, 0, 0, 0),
    dt.datetime(2024, 1, 29, 23, 59, 59, 999999),
]


def _write_events(sf_dir: str, ts: pa.Array) -> str:
    shutil.rmtree(sf_dir, ignore_errors=True)
    os.makedirs(sf_dir)
    n = len(ts)
    cols = {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": ts,
        "user_id": pa.array([7] * n, pa.int64()),
        "event_type": pa.array(["click"] * n, pa.string()),
        "value": pa.array([1.5] * n, pa.float64()),
        "props": pa.array(['{"k": 1}'] * n, pa.string()),
    }
    path = f"{sf_dir}/events.parquet"
    pq.write_table(pa.table(cols), path)
    return path


def test_us_events_load_losslessly(spark):
    sf_dir = scratch_dir("events_loader_us")
    _write_events(sf_dir, pa.array(_TS, pa.timestamp("us")))
    got = sorted(r["ts"] for r in load(spark, sf_dir, "events").collect())
    shutil.rmtree(sf_dir, ignore_errors=True)
    assert got == sorted(_TS), "native µs read must be lossless"


@pytest.mark.parametrize(
    "ts",
    [
        pa.array(_TS, pa.timestamp("ns")),
        pa.array(_TS, pa.timestamp("ns")).cast(pa.int64()),
    ],
    ids=["ns", "int64"],
)
def test_non_us_ts_refuses_to_load(spark, ts):
    sf_dir = scratch_dir("events_loader_bad_ts")
    path = _write_events(sf_dir, ts)
    want = re.escape(f"events.ts in {path} has parquet type {ts.type};")
    with pytest.raises(ValueError, match=want):
        load(spark, sf_dir, "events")
    shutil.rmtree(sf_dir, ignore_errors=True)


def test_out_of_range_corpus_refuses_to_load(spark):
    """A corpus whose ts statistics fall outside the documented window
    (here: 1970 epoch-adjacent — exactly what a unit mixup produces) must
    be rejected at check time, not silently mis-read."""
    bad_dir = scratch_dir("events_loader_bad")
    ts = [dt.datetime(1970, 1, 20, 17, 23), dt.datetime(1970, 1, 21)]
    _write_events(bad_dir, pa.array(ts, pa.timestamp("us")))
    with pytest.raises(ValueError, match="out of documented corpus range"):
        load(spark, bad_dir, "events")
    shutil.rmtree(bad_dir, ignore_errors=True)
