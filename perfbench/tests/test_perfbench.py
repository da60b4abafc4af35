"""Tests of the benchmark's own code.

    python3 -m pytest perfbench/tests -q

The last test makes a short traced run (about 80 s on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import corpus  # noqa: E402
import run  # noqa: E402
from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_declared_metrics_and_workloads_match_the_code():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert all(w["why"] == WORKLOADS[w["name"]].why for w in spec["workloads"])


def _rows(path: str) -> list[tuple]:
    tab = pq.read_table(path)
    return sorted(tuple(map(repr, r.values())) for r in tab.to_pylist())


def test_seed_fixes_the_files_and_keeps_the_row_multiset(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    corpus.write_corpus(a, 0.001, 3)
    corpus.write_corpus(b, 0.001, 3)
    corpus.write_corpus(c, 0.001, 4)
    moved = 0
    for t in TABLE_NAMES:
        fa, fb, fc = (os.path.join(d, f"{t}.parquet") for d in (a, b, c))
        with open(fa, "rb") as x, open(fb, "rb") as y:
            assert x.read() == y.read(), t
        assert _rows(fa) == _rows(fc), t
        moved += pq.read_table(fa).to_pylist() != pq.read_table(fc).to_pylist()
    assert moved >= len(TABLE_NAMES) - 2  # region/nation may keep their order


def test_seed_zero_keeps_generated_order(tmp_path):
    corpus.write_corpus(str(tmp_path), 0.001, 0)
    ids = pq.read_table(str(tmp_path / "orders.parquet"))["o_orderkey"].to_pylist()
    assert ids == sorted(ids)


def test_traced_run_attributes_every_op():
    workload, seed = "surface_sf0.01", 7
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in _spec()["per_layer"]}
    trace_path = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-seed{seed}.json")
    with open(trace_path) as fh:
        trace = json.load(fh)
    assert trace["detail"]["jobs_match"], trace["detail"]
    for op in trace["ops"]:
        wall = op["w2"] - op["w0"]
        assert sum(op["layers"]["self"].values()) == pytest.approx(wall, rel=0.1), op["key"]
