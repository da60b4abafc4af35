"""Per-layer attribution for the benchmark's traced runs (``--trace 1``).

Nothing here runs a Spark job. The traced run differs from an untraced one
in four ways, all outside the program. The first two hold for the whole
session; the last two only for the traced passes, which alternate with plain
passes that ``trace.overhead_ratio`` and the job counts are compared with:

* a Spark event log, enabled through a benchmark-owned ``SPARK_CONF_DIR``
  (the only way to turn it on without changing ``session.build_session``);
* a ``StreamingQueryListener`` that records every micro-batch;
* a job group per op and span (``b|<pass>|<op>`` around the op's
  constructor, ``c|<pass>|<op>`` around ``collect``), so each job in the
  log names the span that launched it;
* after ``collect``, a read of the op's Catalyst phase times from
  ``queryExecution().tracker()`` and of the storage memory held. A phase
  counts for an op only if it ran inside the op's window: a DataFrame that
  ``registry.plan_memo`` hands out again keeps the phases of its first
  planning.

After ``spark.stop()`` the event log is read back and every job, task and
SQL metric is attributed to the op span it ran in. Each op's wall-clock is
split into self times that add up to it:

* ``build``: constructor time not covered by a child span (Python plan
  construction in ``operators/``, ``functions/``, ``sources/``,
  ``streaming/``);
* ``stage``: jobs launched by the constructor (eager cache materialisation);
* ``stream``: micro-batches of streaming queries the op ran;
* ``catalyst``: the parse, analysis, optimisation and planning phases of the
  returned DataFrame, up to the first job of ``collect``;
* ``exec``: first job start to last job end of ``collect``;
* ``collect``: the rest of ``collect`` (submission and result transfer).
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

PHASES = ("parsing", "analysis", "optimization", "planning")
_MB = 1024.0 * 1024.0
#: Phase start times are whole milliseconds of the JVM clock.
_CLOCK_SLACK_S = 0.002


def union_s(intervals, lo: float, hi: float) -> float:
    """Seconds of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)
    )
    total, end = 0.0, lo
    for a, b in clipped:
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class Tracer:
    def __init__(self, work_dir: str):
        self.log_dir = os.path.join(work_dir, "eventlog")
        self.conf_dir = os.path.join(work_dir, "conf")
        os.makedirs(self.log_dir)
        os.makedirs(self.conf_dir)
        with open(os.path.join(self.conf_dir, "spark-defaults.conf"), "w") as fh:
            fh.write(
                "spark.eventLog.enabled true\n"
                f"spark.eventLog.dir file://{self.log_dir}\n"
                "spark.eventLog.compress false\n"
                "spark.eventLog.rolling.enabled false\n"
            )
        self.batches: list[tuple[float, float]] = []

    def env(self) -> dict:
        return {"SPARK_CONF_DIR": self.conf_dir}

    def attach(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches

        class _Batches(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
                dur = p.durationMs.get("triggerExecution", 0) / 1e3
                batches.append((start.timestamp(), start.timestamp() + dur))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(_Batches())

    @staticmethod
    def span(sc, kind: str, key: str) -> None:
        sc.setJobGroup(f"{kind}|{key}", key)

    @staticmethod
    def end(sc, df, rec: dict) -> None:
        sc.setLocalProperty("spark.jobGroup.id", None)
        it = df._jdf.queryExecution().tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = (kv._2().startTimeMs() / 1e3, kv._2().durationMs() / 1e3)
        rec["phases"] = phases

    def attribute(self, records: list[dict]) -> None:
        """Read the event log back and add a ``layers`` dict to every op
        record (one per op run, keyed ``<pass>|<op>``)."""
        log = _read_event_log(self.log_dir)
        by_group: dict[str, list[dict]] = {}
        for job in log["jobs"].values():
            by_group.setdefault(job["group"], []).append(job)
        for rec in records:
            key, w0, w1, w2 = rec["key"], rec["w0"], rec["w1"], rec["w2"]
            stage_jobs = by_group.get(f"b|{key}", [])
            exec_jobs = by_group.get(f"c|{key}", [])
            own = {j["id"] for j in stage_jobs + exec_jobs}
            op_tasks = [
                t for t in log["tasks"]
                if t["job"] in own or w0 <= t["launch"] <= w2
            ]
            exec_ids = {j["id"] for j in exec_jobs}
            exec_tasks = [t for t in op_tasks if t["job"] in exec_ids]
            stage_iv = [(j["start"], j["end"]) for j in stage_jobs]
            exec_start = min((j["start"] for j in exec_jobs), default=w2)
            exec_end = max((j["end"] for j in exec_jobs), default=w2)
            stream_iv = [b for b in self.batches if w0 <= b[0] <= w2]
            phases = {
                p: (s, d) for p, (s, d) in rec["phases"].items()
                if w0 - _CLOCK_SLACK_S <= s <= w2
            }
            cat_iv = [(s, s + d) for s, d in phases.values()]
            stage_s = union_s(stage_iv, w0, w1)
            stream_s = union_s(stream_iv, w0, w2)
            cat_build = union_s(cat_iv, w0, w1)
            cat_collect = union_s(cat_iv, w1, max(w1, exec_start))
            exec_s = max(0.0, min(exec_end, w2) - max(exec_start, w1))
            build_self = (w1 - w0) - union_s(stage_iv + stream_iv + cat_iv, w0, w1)
            collect_self = (w2 - w1) - union_s(
                stream_iv + cat_iv + [(exec_start, exec_end)], w1, w2
            )
            sql = _sql_sums(exec_tasks, log["acc_meta"])
            run_s = sum(t["run"] for t in exec_tasks)
            files = sum(
                v for eid, acc, v in log["driver_accums"]
                if w0 <= log["exec_start"].get(eid, -1) <= w2
                and log["acc_meta"].get(acc, ("",))[0] == "number of written files"
            )
            rec["layers"] = {
                "self": {
                    "build": build_self, "stage": stage_s, "stream": stream_s,
                    "catalyst": cat_build + cat_collect, "exec": exec_s,
                    "collect": collect_self,
                },
                "build.python_s": build_self,
                "stage.jobs": len(stage_jobs),
                "stage.s": stage_s,
                "stage.cached_mb": rec["cached_after_build_mb"],
                **{
                    f"catalyst.{p}_ms": phases.get(p, (0, 0))[1] * 1e3
                    for p in PHASES
                },
                "exec.s": exec_s,
                "exec.jobs": len(exec_jobs),
                "exec.stages": len({t["stage"] for t in exec_tasks}),
                "exec.tasks": len(exec_tasks),
                "exec.scan_splits": sum(1 for t in exec_tasks if t["input"]),
                "exec.task_run_s": run_s,
                "exec.shuffle_write_mb": sum(t["shuffle_write"] for t in exec_tasks) / _MB,
                "exec.spill_mb": sum(t["spill"] for t in exec_tasks) / _MB,
                "exec.gc_s": sum(t["gc"] for t in exec_tasks),
                "exec.python_s": _sql_sums(op_tasks, log["acc_meta"]).get(
                    "time to run Python workers", 0.0
                ),
                "exec.sched_s": sum(t["sched"] for t in exec_tasks),
                "collect.rows": rec["rows"],
                "collect.tail_s": max(0.0, w2 - max(exec_end, w1)) if exec_jobs else 0.0,
                "io.write_mb": sum(t["written"] for t in op_tasks) / _MB,
                "io.files_written": files,
                "stream.batches": len(stream_iv),
                "stream.batch_s": sum(b - a for a, b in stream_iv),
                "sql_time_s": sql,
            }


def _sql_sums(tasks: list[dict], acc_meta: dict) -> dict:
    """Per-name sums of the timing SQL metrics the tasks updated, in s."""
    scale = {"timing": 1e-3, "nsTiming": 1e-9}
    out: dict[str, float] = {}
    for t in tasks:
        for acc, update in t["accums"]:
            name, kind = acc_meta.get(acc, (None, None))
            if kind in scale:
                out[name] = out.get(name, 0.0) + update * scale[kind]
    return out


def _read_event_log(log_dir: str) -> dict:
    (path,) = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".crc")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks, driver_accums = [], []
    acc_meta: dict[int, tuple[str, str]] = {}
    exec_start: dict[int, float] = {}

    def walk(plan: dict) -> None:
        for m in plan["metrics"]:
            acc_meta[m["accumulatorId"]] = (m["name"], m["metricType"])
        for child in plan["children"]:
            walk(child)

    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                jid = e["Job ID"]
                jobs[jid] = {
                    "id": jid,
                    "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": e["Submission Time"] / 1e3,
                    "end": e["Submission Time"] / 1e3,
                }
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                tasks.append(_task(e, stage_job))
            elif kind in ("SparkListenerSQLExecutionStart",
                          "SparkListenerSQLAdaptiveExecutionUpdate"):
                walk(e["sparkPlanInfo"])
                if kind == "SparkListenerSQLExecutionStart":
                    exec_start[e["executionId"]] = e["time"] / 1e3
            elif kind == "SparkListenerDriverAccumUpdates":
                driver_accums += [
                    (e["executionId"], acc, v) for acc, v in e["accumUpdates"]
                ]
    return {
        "jobs": jobs, "tasks": tasks, "acc_meta": acc_meta,
        "exec_start": exec_start, "driver_accums": driver_accums,
    }


def _task(e: dict, stage_job: dict) -> dict:
    info, m = e["Task Info"], e.get("Task Metrics") or {}
    launch, finish = info["Launch Time"] / 1e3, info["Finish Time"] / 1e3
    run = m.get("Executor Run Time", 0) / 1e3
    deser = m.get("Executor Deserialize Time", 0) / 1e3
    ser = m.get("Result Serialization Time", 0) / 1e3
    getting = info.get("Getting Result Time", 0) / 1e3
    fetch = finish - getting if getting > 0 else 0.0
    delay = max(0.0, (finish - launch) - run - deser - ser - fetch)
    inp = m.get("Input Metrics") or {}
    return {
        "stage": e["Stage ID"],
        "job": stage_job.get(e["Stage ID"]),
        "launch": launch,
        "run": run,
        "gc": m.get("JVM GC Time", 0) / 1e3,
        "sched": delay + deser,
        "input": inp.get("Bytes Read", 0) > 0 or inp.get("Records Read", 0) > 0,
        "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill": m.get("Memory Bytes Spilled", 0),
        "written": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "accums": [
            (a["ID"], int(a["Update"]))
            for a in info.get("Accumulables", [])
            if a.get("Metadata") == "sql" and str(a.get("Update", "")).lstrip("-").isdigit()
        ],
    }
