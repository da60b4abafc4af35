#!/usr/bin/env python3
"""Per-microbatch STATE measurement for the stream-stream outer joins
(r15 verdict task #4).

The r15 1000× probe measured stream_full_outer_join's WALL-CLOCK exponent
at 1.11 and attributed the super-linearity to single-JVM heap thrash, not
state growth — but that attribution rested on reasoning (amplification
key-shifts user ids → per-user state density constant → state linear in
|users|), not measurement. This tool measures it: it drives the exact
join shape of ``stream_full_outer_join`` / ``stream_left_outer_join``
(same watermark-lag eviction, same RocksDB provider, same parquet sink,
``maxFilesPerTrigger=1``, started through the same
``streams.run_available_now``, so its state-partition count is the one the
ops run with) and records, for every micro-batch, the source's input rows,
the global watermark, and every stateOperator's ``numRowsTotal`` /
``numRowsUpdated`` / ``numRowsRemoved`` / ``numStateStoreInstances`` from
``StreamingQuery.recentProgress`` — the engine's own state accounting.

What "bounded state" looks like in the output: numRowsTotal rises while
the join buffers rows ahead of the watermark, then PLATEAUS (removals ≈
additions) once eviction starts, and the plateau level scales ~linearly
with |users| across corpus tiers (compare --sf _scratch/sf10 vs sf100).
A state leak would show numRowsTotal climbing monotonically with no
removals — that is the signature this probe exists to rule out.

Usage:
    python tools/stream_state_probe.py [--sf _scratch/sf10] [--copies 4]
                                       [--join full_outer|left_outer]
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="_scratch/sf10")
    ap.add_argument("--copies", type=int, default=4)
    ap.add_argument("--join", default="full_outer",
                    choices=["full_outer", "left_outer"])
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from highspeedrailwaybigdatasystem_spark.session import build_session
    from highspeedrailwaybigdatasystem_spark.streaming import streams as S

    spark = build_session("stream-state-probe")
    tag = f"ssp_{args.join}"
    clicks = (
        S._stream_events(spark, args.sf, copies=args.copies, tag=f"{tag}_c")
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        S._stream_events(spark, args.sf, copies=args.copies, tag=f"{tag}_p")
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"),
                F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts")
           <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        args.join,
    )

    out, ckpt = S._fresh_dirs(tag)
    t0 = time.monotonic()
    q = S.run_available_now(
        joined,
        joined.writeStream.format("parquet").option("path", out)
        .outputMode("append"),
        checkpoint=ckpt,
        rocksdb=True,
    )
    # recentProgress keeps the last spark.sql.streaming.numRecentProgressUpdates
    # (100) batches: all of them for --copies below that.
    seen = {p["batchId"]: p for p in q.recentProgress}
    wall = time.monotonic() - t0

    print(f"# {args.join} join, sf={args.sf}, copies={args.copies}, "
          f"wall={wall:.1f}s")
    print("| batch | input rows | watermark | state rows total | updated |"
          " removed | state MB |")
    print("|---|---|---|---|---|---|---|")
    for bid in sorted(seen):
        p = seen[bid]
        n_in = p.get("numInputRows", 0)
        wm = (p.get("eventTime") or {}).get("watermark", "-")
        ops = p.get("stateOperators") or []
        tot = sum(o.get("numRowsTotal", 0) for o in ops)
        upd = sum(o.get("numRowsUpdated", 0) for o in ops)
        rem = sum(o.get("numRowsRemoved", 0) for o in ops)
        mem = sum(o.get("memoryUsedBytes", 0) for o in ops) / 1e6
        print(f"| {bid} | {n_in} | {wm} | {tot} | {upd} | {rem} |"
              f" {mem:.1f} |")
    # machine-readable line for BASELINE.md bookkeeping
    last = seen[max(seen)] if seen else {}
    ops = last.get("stateOperators") or []
    print(json.dumps({
        "join": args.join, "sf": args.sf, "copies": args.copies,
        "wall_sec": round(wall, 1),
        "batches": len(seen),
        "final_state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
        "total_removed": sum(o.get("numRowsRemoved", 0) for o in ops),
        "state_stores": sum(o.get("numStateStoreInstances", 0) for o in ops),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
