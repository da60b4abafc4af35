"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Methodology (mirrors BASELINE.md): one reused warmed SparkSession for the
whole set; per query, one untimed warmup pass then best-of-2 timed runs
(timing = plan + execute + collect on a FRESH DataFrame per run,
perf_counter — ops carrying registry.plan_memo are unwrapped via
``__wrapped__`` so the timed runs include a full Catalyst pass and a full
execution). `value` is the sum of per-query times — total wall-clock for
the headline set, excluding session startup (amortized across the set,
per SURVEY.md §4.3) — and is directly comparable to every r1–r11 artifact.

Cache-honest timing (round 17, r16 verdict task #1): the timed fresh runs
run after an untimed ``spark.catalog.clearCache()`` so cache-bearing ops
pay their internal cache build inside the fresh figure.

Headline set: the six BASELINE.md shapes (q_scan_agg q_join3 q_window
q_topk q_json q_session_ish) plus the LLM-pipeline differentiators
(dedup / similarity / text stats).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from highspeedrailwaybigdatasystem_spark.session import build_session, class_archive_state

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: The r1 BASELINE.md total for the default sf0.1 headline set (3.94 s) —
#: the contract gate (≤2×) is measured against this.
RECORDED_BASELINE_SEC = 3.94

#: Contention guard (r13 verdict task #2): the r13 artifact shipped at
#: loadavg ~6 and every query inflated 1.1-1.9x uniformly — host load
#: masquerading as a plan regression. The single-threaded fresh-subprocess
#: DuckDB control reads ~3.05 s +/- 1% on an idle host (pinned r12); when
#: an attempt's control deviates more than CONTROL_TOLERANCE from that
#: signature, the measurement is re-run (up to MAX_ATTEMPTS), and if no
#: clean attempt lands, the best attempt ships FLAGGED ``"contended": true``
#: so the artifact can never silently present load as engine speed.
IDLE_CONTROL_SEC = 3.05
CONTROL_TOLERANCE = 0.20
MAX_ATTEMPTS = 3
RETRY_SLEEP_SEC = 30.0

#: Per-query pinned Spark baselines (r13 verdict task #7): best recorded
#: artifact-round fresh-call numbers, so a single-query regression can't
#: hide inside an in-gate total. Loaded from BASELINE_SPARK.json.
BASELINE_SPARK_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BASELINE_SPARK.json"
)


def contended(probe: dict) -> bool:
    """True when the host probe says this attempt ran under contention:
    the fixed-work single-threaded control deviated >20% from its pinned
    idle signature. Loadavg is recorded for the reader but NOT gated on —
    the bench's own 32-thread run legitimately elevates it, while the
    control (measured after spark.stop()) isolates EXTERNAL load."""
    c = probe["duckdb_control_sec"]
    return abs(c - IDLE_CONTROL_SEC) / IDLE_CONTROL_SEC > CONTROL_TOLERANCE


def per_query_ratios(timings: dict) -> dict | None:
    """measured / pinned-baseline per headline query (sf0.1 only)."""
    try:
        with open(BASELINE_SPARK_PATH) as fh:
            base = json.load(fh)["queries"]
    except (OSError, KeyError, ValueError):
        return None
    return {
        q: round(t / base[q], 4) for q, t in timings.items() if q in base
    }

#: bench name → queries() key (BASELINE.md names first, same query shapes)
HEADLINE = {
    "q_scan_agg": "agg_scan_group",          # TPC-H Q1 shape
    "q_join3": "join_multiway",              # 5-table star join → revenue
    "q_window": "win_rownum_topk",           # row_number top-3 per customer
    "q_topk": "topk_global",                 # group+order+limit
    "q_json": "json_extract",                # json props → agg
    "q_session_ish": "ts_hourly_rollup",     # per-user hourly rollup, top 20
    "q_dedup": "llm_exact_dedup",            # content-hash dedup
    "q_sim_topk": "llm_sim_topk",            # cosine top-k over embeddings
    "q_text_stats": "llm_text_stats",        # tokenize+explode+agg
    "q_minhash": "llm_minhash_banding",      # MinHash-LSH banding near-dedup
}


def host_probe() -> dict:
    """Self-interpreting load context for BENCH_r{N}.json (r8 verdict task
    #7: r8's +21% total was pure host noise on bit-identical code and cost
    the judge a re-measure). Records the 1/5/15-min loadavg plus a
    fixed-size single-threaded DuckDB control aggregation whose wall-clock
    depends only on host contention — if a future round's Spark totals
    inflate but the control holds steady, the regression is real; if the
    control inflates too, it's load."""
    import subprocess

    # Round 12 hardening — the control must not manufacture its own noise:
    # (a) PRAGMA threads=1: the default connection parallelizes across all
    #     32 cores and oversubscribed against the resident Spark JVM's
    #     thread pools (13.7 s on an idle host vs 2.4 s standalone);
    # (b) fresh subprocess: isolates the measurement from this process's
    #     post-workload state (JVM heap, GC threads, Arrow buffers).
    # Pinned this way it reads 3.05 s ± 1% on an idle host; treat ~3.0 s as
    # the idle signature from r12 on (r1–r11 artifacts used an in-process
    # multi-threaded control, idle ≈ 2.3 s — not comparable).
    code = (
        "import duckdb, time; con = duckdb.connect();"
        " con.execute('PRAGMA threads=1'); t0 = time.perf_counter();"
        " con.sql(\"SELECT count(DISTINCT h) FROM (SELECT"
        " md5(CAST(r AS VARCHAR)) h FROM range(8000000) t(r))\").fetchall();"
        " print(round(time.perf_counter() - t0, 4))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True
    )
    if out.returncode != 0 or not out.stdout.strip():
        raise RuntimeError(
            f"duckdb control subprocess failed (rc={out.returncode}): "
            f"{out.stderr.strip()[-500:]}"
        )
    control = float(out.stdout.strip().splitlines()[-1])
    la1, la5, la15 = os.getloadavg()
    return {
        "loadavg": [round(la1, 2), round(la5, 2), round(la15, 2)],
        "duckdb_control_sec": control,
    }


def time_query(fn, spark, runs: int = 2) -> float:
    """Best-of-N FRESH-call timing: plan + execute + collect per run.

    plan_memo-wrapped ops are unwrapped so every timed run constructs a new
    DataFrame — a memoized DF would let AQE serve re-collects from its
    already-materialized shuffle stages (~30× fast on big corpora), which
    is serving-mode reuse, not engine speed.

    Cache honesty (r16 verdict task #1): Spark's CacheManager matches
    structurally identical plans, so without intervention the timed fresh
    runs of a cache-bearing op are served from InMemoryRelations the warmup
    populated — the op never pays its own cache build in the measured
    figure. ``spark.catalog.clearCache()`` runs (untimed) before each timed
    fresh run, so the result includes the one cache build a truly fresh job
    pays."""
    fresh = getattr(fn, "__wrapped__", fn)
    fresh(spark, SF_DIR).collect()  # warmup: plan + codegen + file listing
    best = float("inf")
    for _ in range(runs):
        spark.catalog.clearCache()  # untimed: next run pays its own caches
        t0 = time.perf_counter()
        fresh(spark, SF_DIR).collect()
        best = min(best, time.perf_counter() - t0)
    return best


def measure_once() -> tuple[dict, dict, dict]:
    """One full measurement pass: (timings, parallelism, host_probe)."""
    # Shuffle partitions sized to the DATA, not the core count: at sf0.1
    # every shuffle is <20 MB, so 16 partitions (measured best of 8/16/64)
    # keeps scan/window parallelism without per-task scheduling overhead.
    # At production scale this would target ~128 MB per shuffle partition.
    spark = build_session(
        "bench", shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE", "16"))
    )
    # Self-describing parallelism (r16 verdict task #2): the driver's
    # scaling probe concluded suspect_cpus_ignored from flat 8-vs-32-core
    # ratios because the artifact did not record the EFFECTIVE master /
    # defaultParallelism — $SPARK_GRAFT_CPUS is honored (session.py wires
    # it into local[N]) but that was unobservable from the JSON alone.
    parallelism = {
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)),
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
    }
    qs = all_queries()
    # global JVM/Python warmup so the first measured query isn't charged
    # for executor/codegen bring-up
    qs["scan_full"](spark, SF_DIR).collect()

    timings = {
        bench_name: round(time_query(qs[qname], spark), 4)
        for bench_name, qname in HEADLINE.items()
    }

    # probe AFTER spark.stop(): with the post-workload JVM still alive the
    # control read 4.8-13.7 s on an idle host (GC/cleaner threads contend
    # with it even from a subprocess); after stop it reads ~3.1-3.3 s,
    # within noise of the 3.05 s idle signature.
    spark.stop()
    return timings, parallelism, host_probe()


def main() -> None:
    # Contention-guarded measurement: retry under external load, and if
    # every attempt is contended ship the FASTEST one flagged contended
    # (fastest = least load-inflated; per-query mins across attempts would
    # splice incomparable runs, so whole attempts are kept atomic).
    attempts = []
    max_attempts = int(os.environ.get("SPARK_GRAFT_BENCH_ATTEMPTS", MAX_ATTEMPTS))
    for i in range(max_attempts):
        timings, parallelism, probe = measure_once()
        attempts.append((timings, parallelism, probe))
        if not contended(probe):
            break
        if i < max_attempts - 1:
            print(
                f"bench: attempt {i + 1} contended "
                f"(control {probe['duckdb_control_sec']:.2f}s vs idle "
                f"{IDLE_CONTROL_SEC:.2f}s, loadavg {probe['loadavg']}); "
                f"retrying in {RETRY_SLEEP_SEC:.0f}s",
                file=sys.stderr,
            )
            time.sleep(RETRY_SLEEP_SEC)
    # Prefer clean attempts outright: contended() also fires on a control
    # >20% FASTER than the pinned idle signature (clock/load advantage), so
    # a min over ALL attempts could ship a flagged-but-fast run over a clean
    # retry — the anti-honest direction. is_contended is True iff no clean
    # attempt landed, which makes the artifact comment literally true.
    clean = [a for a in attempts if not contended(a[2])]
    timings, parallelism, probe = min(
        clean or attempts, key=lambda a: sum(a[0].values())
    )
    is_contended = not clean

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_val = float(sf)
    except ValueError:
        sf_val = sf
    total = round(sum(timings.values()), 4)
    # Load-corrected ratio (r9 verdict task #5): total / duckdb_control_sec.
    # The control is single-threaded fixed work, so its wall-clock scales
    # with host contention the same way the Spark totals do; a reader can
    # compare bench_vs_control across rounds without consulting BASELINE.md
    # prose to decide whether a slow artifact is code or load.
    print(
        json.dumps(
            {
                "metric": "headline query set wall-clock (warm session, best-of-2 per query)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                # effective parallelism (r16 verdict task #2): makes the
                # $SPARK_GRAFT_CPUS contract observable from the artifact
                "parallelism": parallelism,
                # how the driver JVM started: "mapped" from the class-data
                # archive, "recording" it, or "off"; compare like with like
                "jvm_class_archive": class_archive_state(),
                "sf": sf_val,
                "host_probe": probe,
                # contention verdict (r13 task #2): True means every
                # retry ran under external load (control >20% off its
                # idle signature) — treat `value` as an upper bound, not
                # the round's engine speed.
                "contended": is_contended,
                "attempts": len(attempts),
                # control / pinned idle signature: >1 quantifies how much
                # slower the HOST is than the state the baselines were
                # recorded in (1.0 = same host speed). Cross-round wall-
                # clock comparisons should be read through this ratio.
                "control_vs_idle": round(
                    probe["duckdb_control_sec"] / IDLE_CONTROL_SEC, 4
                ),
                "bench_vs_control": round(total / probe["duckdb_control_sec"], 4),
                # per-query ratios vs the pinned best-artifact baselines
                # (r13 task #7) — a single-query regression is visible
                # even when the total stays inside the gate
                "per_query_vs_baseline": (
                    per_query_ratios(timings) if sf_val == 0.1 else None
                ),
                # only meaningful at the default sf0.1 headline set
                "vs_recorded_baseline": (
                    round(total / RECORDED_BASELINE_SEC, 4)
                    if sf_val == 0.1 else None
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
