"""Time EVERY registered batch op once at $SPARK_GRAFT_SF_DIR (default
sf0.1): warmup call + best-of-2 timed fresh calls (each preceded by an
untimed spark.catalog.clearCache() — r17 cache honesty, see bench.py),
one warm shared local[32] session. Execution is driven by the NOOP SINK (guide §1.4):
``df.write.format("noop")`` computes every column of every row and
discards it, so the sweep times the distributed computation — NOT the
driver-side row collection that collect() adds (a full-table scalar op at
sf0.1 spends 20+ s pickling 6M rows to the driver under collect, which
says nothing about the 100 TB plan). Writes JSONL to argv[1] (default
/tmp/op_sweep.jsonl) so a crash keeps partial results.

This is the optimization-round ranking pass (guide §1: measure first) —
the headline bench covers 10 ops; this covers all 490+ so slow outliers
outside the headline set are found, not guessed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from highspeedrailwaybigdatasystem_spark.session import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/op_sweep.jsonl"
ONLY = set(sys.argv[2:])


def main() -> None:
    spark = build_session("op_time_sweep", shuffle_partitions=16)
    qs = all_queries()
    done = set()
    if os.path.exists(OUT):
        with open(OUT) as fh:
            for line in fh:
                try:
                    done.add(json.loads(line)["op"])
                except (ValueError, KeyError):
                    pass
    names = [n for n in sorted(qs) if n not in done and (not ONLY or n in ONLY)]
    with open(OUT, "a") as fh:
        for i, name in enumerate(names):
            fn = qs[name]
            fresh = getattr(fn, "__wrapped__", fn)
            spark.sparkContext.setJobDescription(f"sweep:{name}")
            def _drive(df):
                df.write.format("noop").mode("overwrite").save()

            try:
                # cache hygiene (r16 verdict tasks #1/#6): clear BEFORE the
                # warmup so one op's residue can't skew the next op, and
                # before each timed run so cache-bearing ops pay their own
                # cache build in `sec` (CacheManager otherwise serves the
                # timed runs from warmup-populated InMemoryRelations).
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                _drive(fresh(spark, SF_DIR))  # warmup (plan+codegen+listing)
                warm = time.perf_counter() - t0
                best = float("inf")
                for _ in range(2):
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    _drive(fresh(spark, SF_DIR))
                    best = min(best, time.perf_counter() - t0)
                rec = {"op": name, "sec": round(best, 4), "cold": round(warm, 4)}
            except Exception as e:  # noqa: BLE001 — record and continue
                rec = {"op": name, "error": str(e)[:200]}
            fh.write(json.dumps(rec) + "\n")
            fh.flush()
            if i % 25 == 0:
                print(f"[{i}/{len(names)}] {name}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
