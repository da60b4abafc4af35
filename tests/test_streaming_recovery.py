"""Checkpoint/recovery semantics: a restarted streaming query must resume
from its checkpoint and process ONLY new files — end state exactly-once.

This is the core Structured Streaming durability contract: offsets + state
live in the checkpoint dir; a crash/restart replays nothing and loses
nothing.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from highspeedrailwaybigdatasystem_spark.schemas import SCHEMAS, check_events_ts
from highspeedrailwaybigdatasystem_spark.sources._scratch import scratch_dir
from tests.conftest import SF_ORACLE


def _read_events_stream(spark, src, **options):
    """Events stream over ``src``, a directory of copies or slices of the
    corpus events file (mirrors streams._stream_events). The check runs on
    the corpus file, never on Spark-written slices (INT96 timestamps)."""
    check_events_ts(f"{SF_ORACLE}/events.parquet")
    return spark.readStream.schema(SCHEMAS["events"]).options(**options).parquet(src)


def _run_counting_query(spark, src, ckpt, sink_table):
    stream = _read_events_stream(spark, src)
    q = (
        stream.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_restart_resumes_from_checkpoint(spark):
    src = scratch_dir("recovery_src")
    ckpt = scratch_dir("recovery_ckpt")
    for d in (src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)

    events = f"{SF_ORACLE}/events.parquet"
    base = (
        spark.read.parquet(events)
        .groupBy("event_type")
        .count()
        .collect()
    )
    expected_one = {r["event_type"]: r["count"] for r in base}

    # phase 1: one file
    shutil.copy(events, os.path.join(src, "a.parquet"))
    _run_counting_query(spark, src, ckpt, "recovery_sink")
    got1 = {
        r["event_type"]: r["cnt"]
        for r in spark.sql("SELECT * FROM recovery_sink").collect()
    }
    assert got1 == expected_one

    # phase 2: drop a second file, RESTART the same query (same checkpoint).
    # Recovery must process only the new file; counts double, not triple.
    shutil.copy(events, os.path.join(src, "b.parquet"))
    _run_counting_query(spark, src, ckpt, "recovery_sink")
    got2 = {
        r["event_type"]: r["cnt"]
        for r in spark.sql("SELECT * FROM recovery_sink").collect()
    }
    assert got2 == {k: 2 * v for k, v in expected_one.items()}

    # phase 3: third restart, third file — checkpointed state must still be
    # the 2× counts underneath (3×, not 1× or 4×, proves state persisted
    # across BOTH restarts). (A restart with no new data emits nothing to a
    # fresh memory sink — complete mode only emits on a processed batch.)
    shutil.copy(events, os.path.join(src, "c.parquet"))
    _run_counting_query(spark, src, ckpt, "recovery_sink")
    got3 = {
        r["event_type"]: r["cnt"]
        for r in spark.sql("SELECT * FROM recovery_sink").collect()
    }
    assert got3 == {k: 3 * v for k, v in expected_one.items()}


def _run_custom_state_query(spark, src, ckpt) -> dict[int, int]:
    """Per-user running (count) via applyInPandasWithState — CUSTOM state in
    the state store, not a builtin aggregate, so recovery must rehydrate the
    GroupState tuples themselves. Sink is foreachBatch (the memory sink
    refuses checkpoint recovery in update mode); returns the latest emitted
    running count per user.

    (transformWithStateInPandas, the Spark 4 successor API, is probed
    unavailable in this environment: its driver worker imports
    google.protobuf, which is not installed — see SURVEY.md §2.9 note.)"""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def running(key, pdfs, state: GroupState):
        (cnt,) = state.get if state.exists else (0,)
        for pdf in pdfs:
            cnt += len(pdf)
        state.update((cnt,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt]})

    latest: dict[int, int] = {}

    def sink(batch_df, batch_id):
        for r in batch_df.collect():
            latest[r["user_id"]] = r["n_events"]

    stream = _read_events_stream(spark, src)
    q = (
        stream.groupBy("user_id")
        .applyInPandasWithState(
            running,
            outputStructType="user_id long, n_events long",
            stateStructType="cnt long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return latest


def test_custom_state_recovers_under_rocksdb(spark):
    """GroupState survives a query RESTART from checkpoint under the RocksDB
    state store provider: after restarting on a second identical file, every
    user's running count must be exactly 2× — proving the custom state tuples
    were reloaded from the checkpointed store, not recomputed from scratch."""
    src = scratch_dir("rocksdb_recovery_src")
    ckpt = scratch_dir("rocksdb_recovery_ckpt")
    for d in (src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)

    events = f"{SF_ORACLE}/events.parquet"
    expected_one = {
        r["user_id"]: r["count"]
        for r in spark.read.parquet(events)
        .groupBy("user_id")
        .count()
        .collect()
    }

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        shutil.copy(events, os.path.join(src, "a.parquet"))
        got1 = _run_custom_state_query(spark, src, ckpt)
        assert got1 == expected_one

        # restart from the same checkpoint on one new file: counts must
        # DOUBLE (state rehydrated), not reset to 1x
        shutil.copy(events, os.path.join(src, "b.parquet"))
        got2 = _run_custom_state_query(spark, src, ckpt)
        assert got2 == {k: 2 * v for k, v in expected_one.items()}
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", prev_provider
        )


def test_watermark_late_replay_is_deterministic(spark):
    """stream_watermark_late was promoted to an exact oracle in round 4 on
    the argument that its two-batch availableNow replay is fully
    deterministic; this pins that claim: two independent replays produce
    the identical emitted window set."""
    import pandas as pd

    import __spark_entry__ as entrymod
    from tests.conftest import SF_ORACLE

    q = entrymod.queries()["stream_watermark_late"]
    a = (
        q(spark, SF_ORACLE)
        .toPandas()
        .sort_values(["win_start", "event_type"])
        .reset_index(drop=True)
    )
    b = (
        q(spark, SF_ORACLE)
        .toPandas()
        .sort_values(["win_start", "event_type"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


def _stage_event_slices(spark, tag, order):
    """Split events into 4 disjoint slices (event_id % 4) and stage them as
    separate files whose mtimes force the given arrival order (the file
    source orders batches by timestamp, then path)."""
    src = scratch_dir(f"slices_{tag}")
    stage = scratch_dir(f"slices_stage_{tag}")
    for d in (src, stage):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    events = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    now = 1_700_000_000
    for rank, part in enumerate(order):
        out = os.path.join(stage, str(part))
        events.where(F.col("event_id") % 4 == part).coalesce(1).write.mode(
            "overwrite"
        ).parquet(out)
        part_file = next(
            f for f in os.listdir(out) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"slice_{part}.parquet")
        shutil.copy(os.path.join(out, part_file), dst)
        os.utime(dst, (now + rank, now + rank))
    return src


def test_topk_candidate_merge_is_arrival_order_independent(spark):
    """stream_topk_per_window's candidate-merge pattern over N=4 disjoint
    micro-batches: the merged exact top-3 equals the single-pass batch
    answer under BOTH a forward and a reversed file arrival order (a
    global top-3 element is necessarily in its own batch's local top-3,
    so the candidate union is order-insensitive by construction — this
    pins it)."""
    from pyspark.sql.window import Window

    def run(order, tag):
        src = _stage_event_slices(spark, tag, order)
        stream = _read_events_stream(spark, src, maxFilesPerTrigger=1).select(
            F.date_trunc("hour", "ts").alias("win_start"),
            "event_type",
            F.round("value", 2).alias("value"),
            "event_id",
        )
        candidates = []

        def collect_topk(batch_df, batch_id):
            w = Window.partitionBy("win_start", "event_type").orderBy(
                F.col("value").desc(), "event_id"
            )
            rows = (
                batch_df.withColumn("rnk", F.row_number().over(w))
                .where(F.col("rnk") <= 3)
                .select("win_start", "event_type", "value", "event_id")
                .collect()
            )
            candidates.extend((r[0], r[1], r[2], r[3]) for r in rows)

        q = (
            stream.writeStream.foreachBatch(collect_topk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        cand = spark.createDataFrame(
            candidates,
            "win_start timestamp, event_type string, value double, event_id long",
        ).dropDuplicates(["win_start", "event_type", "event_id"])
        w = Window.partitionBy("win_start", "event_type").orderBy(
            F.col("value").desc(), "event_id"
        )
        return sorted(
            (r[0], r[1], r[2], r[3])
            for r in cand.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select("win_start", "event_type", "rnk", "value")
            .collect()
        )

    fwd = run([0, 1, 2, 3], "topk_fwd")
    rev = run([3, 2, 1, 0], "topk_rev")
    assert fwd == rev, "candidate merge depended on arrival order"

    w = Window.partitionBy("win_start", "event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    batch = sorted(
        (r[0], r[1], r[2], r[3])
        for r in spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .select(
            F.date_trunc("hour", "ts").alias("win_start"),
            "event_type",
            F.round("value", 2).alias("value"),
            "event_id",
        )
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("win_start", "event_type", "rnk", "value")
        .collect()
    )
    assert fwd == batch, "merged top-3 != single-pass batch top-3"


def test_cdc_last_writer_state_is_arrival_order_independent(spark):
    """stream_cdc_latest_upsert's last-writer-wins merge over N=4 disjoint
    micro-batches: final per-key state equals the batch latest-per-key
    answer under forward AND reversed arrival order (the (ts, event_id)
    comparison — not batch recency — decides every merge), while the
    applied-count audit sums to the key's total row count either way."""

    def run(order, tag):
        src = _stage_event_slices(spark, tag, order)
        stream = _read_events_stream(spark, src, maxFilesPerTrigger=1)
        state, applied = {}, {}

        def merge(batch_df, batch_id):
            rows = (
                batch_df.where(F.col("user_id") < 20)
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct(
                            F.unix_micros("ts").alias("ts_us"),
                            F.col("event_id"),
                            F.round("value", 2).alias("v"),
                        ),
                        F.struct(F.unix_micros("ts"), F.col("event_id")),
                    ).alias("last"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            for r in rows:
                k = r["user_id"]
                cur = (r["last"]["ts_us"], r["last"]["event_id"], r["last"]["v"])
                if k not in state or (cur[0], cur[1]) > (state[k][0], state[k][1]):
                    state[k] = cur
                applied[k] = applied.get(k, 0) + r["n"]

        q = stream.writeStream.foreachBatch(merge).trigger(availableNow=True).start()
        q.awaitTermination()
        return state, applied

    s_fwd, a_fwd = run([0, 1, 2, 3], "cdc_fwd")
    s_rev, a_rev = run([3, 2, 1, 0], "cdc_rev")
    assert s_fwd == s_rev, "last-writer state depended on arrival order"
    assert a_fwd == a_rev

    batch = {
        r["user_id"]: (r["ts_us"], r["event_id"], r["v"])
        for r in spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .where(F.col("user_id") < 20)
        .select(
            "user_id",
            F.unix_micros(
                F.col("ts").cast("timestamp")
                if dict(spark.read.parquet(f"{SF_ORACLE}/events.parquet").dtypes)[
                    "ts"
                ].startswith("timestamp")
                else (F.col("ts") / 1000).cast("timestamp")
            ).alias("ts_us"),
            "event_id",
            F.round("value", 2).alias("v"),
        )
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("ts_us", "event_id", "v"), F.struct("ts_us", "event_id")
            ).alias("last")
        )
        .select("user_id", "last.ts_us", "last.event_id", "last.v")
        .collect()
    }
    assert s_fwd == batch, "streamed state != batch latest-per-key"
    n_per_key = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .where(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert a_fwd == n_per_key, "applied-count audit lost or double-counted rows"


def test_session_window_survives_midstream_kill(spark):
    """r11 verdict task #6: stream_session's heavy harness (RocksDB state +
    foreachBatch parquet overwrite) must survive a KILL between micro-batches
    — not just a graceful availableNow drain. Phase 1 processes file a
    (maxFilesPerTrigger=1) and then ABORTS the query by raising inside
    foreachBatch on the second batch, before that batch commits. Phase 2
    restarts from the same checkpoint: the killed batch must replay
    exactly-once on top of rehydrated session state, and the final parquet
    must equal the BATCH session_window answer over both files — sessions
    that span the two files can only merge if the RocksDB state survived
    the crash."""
    import pyspark.sql.utils  # noqa: F401

    src = scratch_dir("sess_kill_src")
    ckpt = scratch_dir("sess_kill_ckpt")
    out = scratch_dir("sess_kill_out")
    for d in (src, ckpt, out):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    events = f"{SF_ORACLE}/events.parquet"
    shutil.copy(events, os.path.join(src, "a.parquet"))
    shutil.copy(events, os.path.join(src, "b.parquet"))

    def build_query(kill_after_first: bool):
        stream = _read_events_stream(spark, src)
        agg = (
            stream.withWatermark("ts", "40 days")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(
                "user_id",
                F.col("session_window.start").alias("session_start"),
                "n_events",
            )
        )
        seen: list[int] = []

        def sink(batch_df, batch_id):
            if kill_after_first and seen:
                raise RuntimeError("injected crash before batch commit")
            seen.append(batch_id)
            batch_df.write.mode("overwrite").parquet(out)

        return (
            agg.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .option("maxFilesPerTrigger", 1)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )

    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = build_query(kill_after_first=True)
        try:
            q.awaitTermination()
            raise AssertionError("query should have died on the injected crash")
        except Exception as e:  # noqa: BLE001 — StreamingQueryException expected
            assert "injected crash" in str(e)

        # restart from the same checkpoint; the aborted batch replays
        q2 = build_query(kill_after_first=False)
        q2.awaitTermination()
    finally:
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass", prev_provider
        )

    got = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.read.parquet(out).collect()
    }
    expected = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in spark.read.parquet(src)  # both copies, batch-mode
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
        .collect()
    }
    assert got == expected


def test_cdc_upsert_survives_midstream_kill(spark):
    """r11 verdict task #6, stream_cdc_latest_upsert: the foreachBatch MERGE
    pattern must be exactly-once across a crash. Batch 0 commits its merge
    into the (durable, here: python-dict) state table; the injected crash
    kills batch 1 BEFORE it mutates anything; the restart from the same
    checkpoint must replay ONLY batches 1 and 2. Proof: per-key applied
    counts end exactly 3x (batch 0 not re-delivered, batches 1-2 not lost)
    and the state table equals the batch latest-per-key answer."""
    src = scratch_dir("cdc_kill_src")
    ckpt = scratch_dir("cdc_kill_ckpt")
    for d in (src, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    events = f"{SF_ORACLE}/events.parquet"
    for name in ("a.parquet", "b.parquet", "c.parquet"):
        shutil.copy(events, os.path.join(src, name))

    state: dict = {}
    applied: dict = {}

    def run(crash_on_second: bool):
        stream = _read_events_stream(spark, src)
        seen: list[int] = []

        def merge(batch_df, batch_id):
            if crash_on_second and seen:
                raise RuntimeError("injected crash before merge")
            seen.append(batch_id)
            rows = (
                batch_df.where(F.col("user_id") < 20)
                .groupBy("user_id")
                .agg(
                    F.max_by(
                        F.struct(
                            F.unix_micros("ts").alias("ts_us"),
                            F.col("event_id"),
                            F.round("value", 2).alias("v"),
                        ),
                        F.struct(F.unix_micros("ts"), F.col("event_id")),
                    ).alias("last"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()
            )
            for r in rows:
                k = r["user_id"]
                cur = (r["last"]["ts_us"], r["last"]["event_id"], r["last"]["v"])
                if k not in state or (cur[0], cur[1]) > (state[k][0], state[k][1]):
                    state[k] = cur
                applied[k] = applied.get(k, 0) + r["n"]

        q = (
            stream.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .option("maxFilesPerTrigger", 1)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    try:
        run(crash_on_second=True)
        raise AssertionError("query should have died on the injected crash")
    except Exception as e:  # noqa: BLE001
        assert "injected crash" in str(e)
    run(crash_on_second=False)  # restart: replays batches 1 and 2 only

    from highspeedrailwaybigdatasystem_spark.schemas import load as load_table

    batch = {
        r["user_id"]: (r["ts_us"], r["event_id"], r["v"], r["n"])
        for r in load_table(spark, SF_ORACLE, "events")  # ts as TIMESTAMP,
        # same footer-aware conversion the streaming reader applies
        .where(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(
            F.max_by(
                F.struct(
                    F.unix_micros("ts").alias("ts_us"),
                    F.col("event_id"),
                    F.round("value", 2).alias("v"),
                ),
                F.struct(F.unix_micros("ts"), F.col("event_id")),
            ).alias("last"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "user_id",
            F.col("last.ts_us").alias("ts_us"),
            F.col("last.event_id").alias("event_id"),
            F.col("last.v").alias("v"),
            "n",
        )
        .collect()
    }
    assert set(state) == set(batch)
    for k, (ts_us, eid, v, n_one) in batch.items():
        assert state[k] == (ts_us, eid, v), f"stale last-writer for key {k}"
        assert applied[k] == 3 * n_one, (
            f"key {k}: applied {applied[k]} != 3x{n_one} — batch 0 was "
            "re-delivered or a replayed batch was lost"
        )
