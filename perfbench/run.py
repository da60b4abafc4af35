"""Benchmark of the operator engine: one workload, one seed, one process.

    python3 perfbench/run.py --workload headline_sf0.1 --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout. One run:

1. prepares, untimed and in a child process, the seeded corpus and the
   DuckDB oracle result of every op (``prepare.py``);
2. sets up a session through the public surface: the registry import,
   ``session.build_session`` and a first job (``setup_s``);
3. runs one pass over the workload's ops (``first_pass_s``), then further
   passes until ``--seconds`` have passed, at least ``MIN_PASSES``.
   Before every op ``spark.catalog.clearCache()`` runs untimed,
   so each op pays for its own caches; each op is timed from the call of its
   constructor to the return of ``DataFrame.collect()``, or to the exception
   it raised, and its rows are checked against its oracle;
4. prints, as the last line of standard output, one JSON object with the
   end-to-end metrics (``--trace 0``) or the per-layer metrics
   (``--trace 1``).

A traced run (``tracing.py``) alternates plain and traced steady passes in
one session, so that ``trace.overhead_ratio`` and the job counts compare
like with like, and writes its per-op spans to
``.perfbench/traces/<workload>-seed<seed>.json``. README.md lists the
workloads, the metrics and which layer metric should move which end-to-end
metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "highspeedrailwaybigdatasystem_spark"
OUT_DIR = os.path.join(ROOT, ".perfbench")
_MB = 1024.0 * 1024.0
#: Steady passes a run makes at least. More do not steady the figures: over
#: the same runs, the mean of the first two steady passes spread between
#: runs about as much as the median of later, warmer passes or of more
#: passes, because the spread follows the host's load.
MIN_PASSES = 2

sys.path.insert(0, HERE)
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "retained_cache_mb": "MB",
}
PER_LAYER = {
    "first_pass_s": "s",
    "session.build_s": "s",
    "session.warm_s": "s",
    "registry.load_s": "s",
    "build.python_s": "s",
    "stage.jobs": "count",
    "stage.s": "s",
    "stage.cached_mb": "MB",
    "catalyst.parsing_ms": "ms",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.scan_splits": "count",
    "exec.core_util": "ratio",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.gc_s": "s",
    "exec.python_s": "s",
    "exec.sched_s": "s",
    "collect.rows": "count",
    "collect.tail_s": "s",
    "io.write_mb": "MB",
    "io.files_written": "count",
    "stream.batches": "count",
    "stream.batch_s": "s",
    "host.control_s": "s",
    "host.loadavg1": "load",
    "memory.peak_rss_mb": "MB",
    "trace.overhead_ratio": "ratio",
}
#: Layer metrics summed over a pass's ops; the rest are per run.
_PER_OP_LAYERS = [
    k for k in PER_LAYER
    if "." in k
    and k.split(".")[0] not in ("session", "registry", "host", "memory", "trace")
    and k != "exec.core_util"
] + ["exec.task_run_s"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "registry.py")):
        print(f"perfbench: no {PACKAGE}/ package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Temporary files of Python, DuckDB and the JVM (such as streaming
    # checkpoints) go to the work dir, which is removed at the end.
    os.environ.update({
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    try:
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"),
             "--workload", args.workload, "--seed", str(args.seed), "--out", work],
            check=True, cwd=work, env=_child_env(),
        )
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _child_env() -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p
    )
    return env


def measure(args, work: str) -> dict:
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    corpus = os.path.join(work, "corpus")
    os.environ.update({
        "PYTHONPATH": _child_env()["PYTHONPATH"],
        "SPARK_GRAFT_SCRATCH": os.path.join(work, "scratch"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "TZ": "UTC",
    })
    time.tzset()
    os.environ.pop("SPARK_CONF_DIR", None)
    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(work)
        os.environ.update(tracer.env())
    sys.path.insert(0, ROOT)
    os.chdir(work)  # spark-warehouse/ and metastore files land in the work dir

    ticks0 = _cpu_ticks()
    t0 = time.perf_counter()
    from highspeedrailwaybigdatasystem_spark.registry import all_queries

    qs = all_queries()
    t1 = time.perf_counter()
    from highspeedrailwaybigdatasystem_spark.session import build_session

    spark = build_session("perfbench")
    t2 = time.perf_counter()
    qs["scan_full"](spark, corpus).collect()
    t3 = time.perf_counter()
    setup = {"registry.load_s": t1 - t0, "session.build_s": t2 - t1,
             "session.warm_s": t3 - t2}

    from tools.mirror import compare

    with open(os.path.join(work, "oracles.pkl"), "rb") as fh:
        oracles = pickle.load(fh)
    if tracer:
        tracer.attach(spark)
    runner = _Runner(spark, qs, corpus, oracles, compare, tracer)
    runner.count_jobs()  # the set-up jobs belong to no pass

    first = runner.run_pass(wl.ops, 0)
    passes, plain = [], []

    def next_pass(is_plain: bool = False) -> dict:
        return runner.run_pass(wl.ops, 1 + len(passes) + len(plain), is_plain)

    deadline = time.perf_counter() + args.seconds
    while len(passes) < MIN_PASSES or time.perf_counter() < deadline:
        # A traced run pairs each traced pass with a plain one, in the order
        # plain-traced, traced-plain, ..., so that warm-up drift cancels.
        if tracer and len(plain) % 2 == 0:
            plain.append(next_pass(True))
        passes.append(next_pass())
        if tracer and len(plain) < len(passes):
            plain.append(next_pass(True))
    peak_rss = _peak_rss_mb()
    ticks = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    _stop(spark)

    pass_times = [p["wall"] for p in passes]
    detail = {
        "workload": args.workload, "seed": args.seed, "op_order": list(wl.ops),
        "cores": cores, "steady_passes": len(passes),
        "setup": setup, "peak_rss_mb": peak_rss,
        # Share of the host's CPU time taken by other guests (steal) while
        # this run measured; a high share qualifies every time in the run.
        "host_steal_share": ticks[7] / sum(ticks),
        "first_pass_s": first["wall"],
        "pass_s_all": pass_times,
        "jobs_per_pass": [p["jobs"] for p in [first] + passes],
        "op_s": {op: [p["ops"][op] for p in [first] + passes] for op in wl.ops},
        "fail_ratio": len(runner.failures) / runner.attempted,
        "failures": runner.failures,
    }
    if tracer:
        records = [r for p in [first] + passes for r in p["records"] if "w2" in r]
        tracer.attribute(records)
        metrics = _layer_metrics(first, passes, plain, setup, cores, peak_rss)
        detail["plain_pass_s_all"] = [p["wall"] for p in plain]
        detail["plain_jobs_per_pass"] = [p["jobs"] for p in plain]
        detail["jobs_match"] = (
            {p["jobs"] for p in plain} == {p["jobs"] for p in passes}
        )
        _write_trace(args, detail, records)
    else:
        op_medians = [
            statistics.median(p["ops"][op] for p in passes) for op in wl.ops
        ]
        values = {
            "setup_s": t3 - t0,
            "pass_s": statistics.median(pass_times),
            "query_geomean_s": math.exp(
                statistics.fmean(math.log(v) for v in op_medians)
            ),
            "retained_cache_mb": max(p["retained_mb"] for p in [first] + passes),
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"detail": detail}))
    return {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": metrics,
    }


class _Runner:
    """Runs passes over a workload's ops in one closed loop."""

    def __init__(self, spark, qs, corpus, oracles, compare, tracer):
        self.spark, self.sc, self.qs = spark, spark.sparkContext, qs
        self.corpus, self.oracles, self.compare = corpus, oracles, compare
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.next_job = 0
        #: op -> (columns, rows) of its last result that matched its oracle.
        self.verified: dict[str, tuple] = {}

    def run_pass(self, ops, index: int, plain: bool = False) -> dict:
        """One pass over ``ops``; a plain pass leaves the tracer out."""
        res = {"ops": {}, "records": [], "retained_mb": 0.0}
        tracer = None if plain else self.tracer
        for op in ops:
            self.spark.catalog.clearCache()
            rec = self.run_op(op, f"{index}|{op}", tracer)
            res["ops"][op] = rec["latency"]
            res["retained_mb"] = max(res["retained_mb"], rec["retained_mb"])
            res["records"].append(rec)
        res["wall"] = sum(res["ops"].values())
        res["jobs"] = self.count_jobs()
        return res

    def run_op(self, op: str, key: str, tracer) -> dict:
        sc = self.sc
        rec = {"key": key, "op": op}
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            if tracer:
                tracer.span(sc, "b", key)
            w0, t0 = time.time(), time.perf_counter()
            df = self.qs[op](self.spark, self.corpus)
            w1 = time.time()
            if tracer:
                rec["cached_after_build_mb"] = _cached_mb(sc)
                tracer.span(sc, "c", key)
                w1 = time.time()
            rows = df.collect()
            t2, w2 = time.perf_counter(), time.time()
        except Exception as exc:  # noqa: BLE001 - a failing op is counted
            # The time to the exception still counts, so a failing op does
            # not shorten its pass.
            self.failures.append(f"{key}: {type(exc).__name__}: {str(exc)[:200]}")
            return {**rec, "latency": time.perf_counter() - t0,
                    "retained_mb": _cached_mb(sc)}
        rec.update(latency=t2 - t0, w0=w0, w1=w1, w2=w2, rows=len(rows),
                   retained_mb=_cached_mb(sc))
        if tracer:
            tracer.end(sc, df, rec)
        self.check(op, key, df.columns, rows)
        return rec

    def check(self, op: str, key: str, columns, rows) -> None:
        """Compare ``rows`` with the op's oracle. Rows equal, in the same
        order, to a result that already matched it match it too, which
        spares the costly order-insensitive compare on most passes."""
        if self.verified.get(op) == (columns, rows):
            return
        problems = self.compare(op, _to_pandas(rows, columns), self.oracles[op])
        if problems:
            self.failures.append(f"{key}: {problems[0]}")
        else:
            self.verified[op] = (columns, rows)

    def count_jobs(self) -> int:
        """Jobs launched so far: job ids are sequential, so probe upwards."""
        tracker = self.sc.statusTracker()
        start = self.next_job
        while tracker.getJobInfo(self.next_job) is not None:
            self.next_job += 1
        return self.next_job - start


def _to_pandas(rows, columns):
    import pandas as pd

    def plain(v):
        if hasattr(v, "asDict"):
            return v.asDict(recursive=True)
        if isinstance(v, list):
            return [plain(x) for x in v]
        return v

    return pd.DataFrame([[plain(v) for v in r] for r in rows], columns=columns)


def _cached_mb(sc) -> float:
    """Storage memory (and disk) held by cached RDDs and tables."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / _MB


def _cpu_ticks() -> list[int]:
    """The host's CPU time counters (user ... steal) from /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus its JVM child."""
    me = os.getpid()
    pids = [me]
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        name, rest = stat[stat.index("(") + 1: stat.rindex(")")], stat[stat.rindex(")") + 2:]
        if name == "java" and int(rest.split()[1]) == me:
            pids.append(int(pid))
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            total_kb += next(int(l.split()[1]) for l in fh if l.startswith("VmHWM:"))
    return total_kb / 1024.0


def _layer_metrics(first, passes, plain, setup, cores, peak_rss) -> dict:
    """Per-layer metrics: each summed over a pass's ops, median over the
    traced steady passes."""
    import bench

    per_pass = [
        {k: sum(r["layers"][k] for r in p["records"] if "layers" in r)
         for k in _PER_OP_LAYERS}
        for p in passes
    ]
    for pp in per_pass:
        pp["exec.core_util"] = pp["exec.task_run_s"] / (pp["exec.s"] * cores)
    values = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    values.update(setup)
    values["first_pass_s"] = first["wall"]
    values["host.control_s"] = bench.host_probe()["duckdb_control_sec"]
    values["host.loadavg1"] = os.getloadavg()[0]
    values["memory.peak_rss_mb"] = peak_rss
    values["trace.overhead_ratio"] = (
        statistics.median(p["wall"] for p in passes)
        / statistics.median(p["wall"] for p in plain)
    )
    return {k: {"value": values[k], "unit": u} for k, u in PER_LAYER.items()}


def _stop(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits at end of its stdin
    gateway.proc.wait(timeout=120)


def _write_trace(args, detail: dict, records: list[dict]) -> None:
    os.makedirs(os.path.join(OUT_DIR, "traces"), exist_ok=True)
    path = os.path.join(OUT_DIR, "traces", f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"detail": detail, "ops": records}, fh, indent=1)


if __name__ == "__main__":
    sys.exit(main())
