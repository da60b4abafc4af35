"""Pin the round-12 bench honesty redefinitions (r12 verdict task #7).

Two properties made BENCH artifacts trustworthy in r12 and must never
silently regress:

1. The headline ``value`` is measured on FRESH plan constructions —
   ``time_query`` unwraps ``plan_memo`` (``__wrapped__``) so a memoized
   DataFrame can never let AQE serve already-materialized shuffle stages
   into the headline number (that regime is real, but it is serving-mode
   reuse, not engine speed).
2. The artifact always carries its comparison ratios —
   ``vs_recorded_baseline`` (gate math vs the recorded r1 baseline) and
   ``per_query_vs_baseline`` — plus the single-threaded fresh-subprocess
   DuckDB control, so a reader can tell code regressions from host load
   without consulting prose.

These tests exercise bench.py's functions directly (no sf0.1 run): the
timing-path property via a stub callable, and the artifact-shape property
by running main() against the sf0.001 corpus in-process.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(REPO, "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_time_query_unwraps_plan_memo(spark):
    """time_query must call the UNWRAPPED callable: every timed run sees a
    fresh DataFrame construction, never the memoized instance."""
    bench = _load_bench()
    calls = {"fresh": 0, "wrapper": 0}

    def fresh_fn(s, sf_dir):
        calls["fresh"] += 1
        return s.range(10)

    import functools

    @functools.wraps(fresh_fn)
    def wrapper(s, sf_dir):
        calls["wrapper"] += 1
        return fresh_fn(s, sf_dir)

    # mimic plan_memo's contract: the wrapper exposes __wrapped__
    bench.time_query(wrapper, spark, runs=2)
    assert calls["wrapper"] == 0, (
        "time_query called the memo wrapper — headline value would "
        "include serving-mode reuse"
    )
    # warmup + 2 cache-honest timed runs
    assert calls["fresh"] == 3


def test_registered_memo_ops_expose_wrapped():
    """Every plan_memo-wrapped registered op must expose __wrapped__ —
    the hook time_query relies on. A memoized op without it would be
    silently timed in serving mode.

    Detection is STRUCTURAL (r13 ADVICE): plan_memo stamps its wrapper
    with ``__plan_memo__ = True``; the old ``__module__ == registry``
    heuristic never fired because functools.wraps copies __module__ from
    the wrapped op. The test also asserts the marker actually exists in
    the registry's headline set — if a refactor dropped the stamp, the
    loop would silently assert nothing again."""
    from highspeedrailwaybigdatasystem_spark import registry

    qs = registry.all_queries()
    bench = _load_bench()
    memoized = [
        qname for qname in bench.HEADLINE.values()
        if getattr(qs[qname], "__plan_memo__", False)
    ]
    assert memoized, (
        "no headline op carries __plan_memo__ — either plan_memo lost its "
        "marker stamp or the headline set lost all memoized ops; both make "
        "this guard vacuous"
    )
    for qname in memoized:
        assert hasattr(qs[qname], "__wrapped__"), (
            f"{qname}: plan_memo-marked op without __wrapped__ — "
            "time_query would time it in serving mode"
        )


def test_contention_guard_verdict():
    """contended() must flag a control reading >20% off the pinned idle
    signature in EITHER direction and accept one inside the band — the
    pure predicate the retry loop and the artifact's `contended` flag are
    built on (r13 verdict task #2: load must never masquerade as a plan
    regression again)."""
    bench = _load_bench()
    idle = bench.IDLE_CONTROL_SEC
    assert not bench.contended({"duckdb_control_sec": idle, "loadavg": [9, 9, 9]}), (
        "loadavg must NOT gate: the bench's own 32-thread run elevates it"
    )
    assert not bench.contended({"duckdb_control_sec": idle * 1.19, "loadavg": [0, 0, 0]})
    assert bench.contended({"duckdb_control_sec": idle * 1.25, "loadavg": [0, 0, 0]})
    assert bench.contended({"duckdb_control_sec": idle * 0.70, "loadavg": [0, 0, 0]}), (
        "a control FASTER than idle by >20% means the signature is stale "
        "or the control changed — flag it, don't ship it as quiet"
    )


def test_per_query_baseline_pins():
    """BASELINE_SPARK.json must pin a baseline for EVERY headline query
    (a new headline op without a pin would silently drop out of the
    per-query ratio table), and per_query_ratios must cover the full set
    with sane positive ratios."""
    bench = _load_bench()
    with open(os.path.join(REPO, "BASELINE_SPARK.json")) as fh:
        base = json.load(fh)
    assert set(base["queries"]) == set(bench.HEADLINE), (
        "BASELINE_SPARK.json queries drifted from bench.HEADLINE"
    )
    fake = {q: v * 1.5 for q, v in base["queries"].items()}
    ratios = bench.per_query_ratios(fake)
    assert set(ratios) == set(bench.HEADLINE)
    for q, r in ratios.items():
        assert abs(r - 1.5) < 0.01, f"{q}: ratio {r} != 1.5"


def test_bench_artifact_carries_both_ratios():
    """bench.py's JSON line must always carry vs_recorded_baseline,
    per_query_vs_baseline, and the DuckDB control — run as a
    SUBPROCESS against sf0.001 so this stays a smoke and bench's
    spark.stop() cannot kill the suite's shared session (the vs_* fields
    are None off the graded sf0.1 set, but the KEYS must exist)."""
    import subprocess

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="4",
        # one attempt: the contention retry loop (30 s sleeps + full
        # re-measures) belongs to real artifact runs, not this smoke
        SPARK_GRAFT_BENCH_ATTEMPTS="1",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    line = out.stdout.strip().splitlines()[-1]
    art = json.loads(line)
    for key in (
        "value",
        "queries",
        "host_probe",
        "bench_vs_control",
        "vs_recorded_baseline",
        "contended",
        "attempts",
        "per_query_vs_baseline",
    ):
        assert key in art, f"BENCH artifact missing {key}"
    assert art["host_probe"]["duckdb_control_sec"] > 0
    assert isinstance(art["contended"], bool)
    assert art["attempts"] >= 1
    # off the graded sf0.1 set the per-query ratio table is None by design
    assert art["per_query_vs_baseline"] is None
