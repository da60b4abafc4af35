"""Structured Streaming operators (SURVEY.md §2.9).

Pattern: the batch corpus has no live stream, so each operator REPLAYS the
events parquet through ``readStream`` (file source), runs the stateful
transformation, collects end-of-stream state via a memory sink
(availableNow trigger), and returns it as a batch DataFrame. Where the
end-of-stream answer provably equals the batch answer, the DuckDB oracle is
exact — including the watermark op, whose deterministic two-batch replay
fixes the emitted window set exactly (see stream_watermark_late).

Determinism notes: the file source replays files in listing order; operators
that need multiple micro-batches (dedup, foreachBatch) stage N file copies
in scratch and set maxFilesPerTrigger=1, so batch boundaries are exact and
reproducible.

Scale notes (real cluster): the same code runs against Kafka by swapping the
source; state lives in the executor-local state store keyed by window/user,
and the watermark bounds state size — without it, session/dedup state grows
unboundedly at 100 TB/day. A stateful query's partition count is fixed when
its checkpoint is created, where AQE cannot coalesce it, so every start goes
through ``run_available_now``: on a fresh checkpoint it sizes the state to
``clamp(ceil(staged_bytes / spark.sql.adaptive.advisoryPartitionSizeInBytes),
1, spark.sql.shuffle.partitions)`` — AQE's own coalescing rule applied to the
bytes the file sources replay. That is 1 state store at the test tiers
instead of one per shuffle partition, each paying its own commit per batch.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..schemas import SCHEMAS, check_events_ts
from ..sources._scratch import scratch_dir
from ..operators._util import EVENTS_TS_US, money


_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def _stream_events(spark: SparkSession, sf_dir: str, copies: int = 1, tag: str = "") -> DataFrame:
    """File-source stream over the events table. copies>1 stages duplicate
    files so the run spans multiple micro-batches (maxFilesPerTrigger=1).

    readStream requires an explicit schema: the corpus file passes
    schemas.check_events_ts and is read natively with SCHEMAS["events"]."""
    src = f"{sf_dir}/events.parquet"
    check_events_ts(src)
    d = scratch_dir(f"stream_src_{tag}_{os.path.basename(sf_dir)}_{copies}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for i in range(copies):
        shutil.copy(src, os.path.join(d, f"events_{i}.parquet"))
    reader = spark.readStream.schema(SCHEMAS["events"])
    if copies > 1:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(d)


def state_partitions(staged_bytes: int, advisory_bytes: int, cap: int) -> int:
    """AQE's coalescing rule: ``ceil(staged_bytes / advisory_bytes)``
    clamped to ``[1, cap]``."""
    return max(1, min(cap, -(-staged_bytes // advisory_bytes)))


def _staged_bytes(df: DataFrame) -> int:
    """Bytes under the paths of every streaming file source ``df`` reads —
    ``copies × file size`` per ``_stream_events`` source. Sources without
    a path (rate, Kafka) count 0."""
    spark = df.sparkSession
    hadoop_conf = spark._jsc.hadoopConfiguration()
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "StreamingRelation":
            continue
        path = leaf.dataSource().options().get("path")
        if path.isDefined():
            hpath = spark._jvm.org.apache.hadoop.fs.Path(path.get())
            fs = hpath.getFileSystem(hadoop_conf)
            total += fs.getContentSummary(hpath).getLength()
    return total


def run_available_now(df: DataFrame, writer, checkpoint: str | None = None,
                      rocksdb: bool = False):
    """Run ``writer`` (built from ``df.writeStream``) to completion under
    the availableNow trigger and return the finished StreamingQuery.

    On a fresh checkpoint (none given, or no offset log yet) the stream's
    shuffle — and so its state-store count — is sized by
    ``state_partitions`` from the bytes its file sources replay and the
    advisory partition size AQE coalesces to. A resumed checkpoint keeps
    the count recorded in its offset log, so the conf is left alone.
    ``rocksdb`` keeps state off-heap in the RocksDB provider. Both confs
    are restored exactly afterwards; one that was unset stays unset."""
    spark = df.sparkSession
    conf = spark._jsparkSession.sessionState().conf()
    pinned = {}
    if checkpoint is None or not os.path.isdir(os.path.join(checkpoint, "offsets")):
        sqlconf = spark._jvm.org.apache.spark.sql.internal.SQLConf
        advisory = conf.getConf(sqlconf.ADVISORY_PARTITION_SIZE_IN_BYTES())
        cap = int(spark.conf.get(_SHUFFLE_PARTITIONS))
        pinned[_SHUFFLE_PARTITIONS] = str(
            state_partitions(_staged_bytes(df), advisory, cap)
        )
    if rocksdb:
        pinned[_PROVIDER] = _ROCKSDB
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    saved = {k: conf.getConfString(k) if conf.contains(k) else None for k in pinned}
    try:
        for k, v in pinned.items():
            spark.conf.set(k, v)
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    return q


def _run_to_memory(df, name: str, mode: str) -> None:
    run_available_now(
        df, df.writeStream.format("memory").queryName(name).outputMode(mode)
    )


def _read_sink(spark: SparkSession, out: str, schema) -> DataFrame:
    """Read a heavy sink back. Zero emitted rows leave ``out`` without data
    files, and parquet schema inference would raise — the memory sink used
    to register an empty table WITH a schema, so that case returns an empty
    frame with the stream's own schema and downstream aggregation SQL stays
    runnable on sparse corpora. Any other read failure (a corrupt sink) is
    raised, never turned into zero rows."""
    if not os.path.isdir(out) or all(f[0] in "._" for f in os.listdir(out)):
        return spark.createDataFrame([], schema)
    return spark.read.parquet(out)


def _fresh_dirs(tag: str) -> tuple[str, str]:
    out = scratch_dir(f"stream_out_{tag}")
    ckpt = scratch_dir(f"stream_ckpt_{tag}")
    for d in (out, ckpt):
        shutil.rmtree(d, ignore_errors=True)
    return out, ckpt


def _run_heavy_state(spark: SparkSession, df, tag: str):
    """Scale-true variant of ``_run_to_memory`` for queries whose STATE or
    OUTPUT grows with the corpus (stream-stream outer-join state, per-key
    dedup state, row-level sink contents). The memory sink collects every
    output row into driver heap and the default HDFS-backed state store
    holds all state on-heap — both OOMed the 8 g local JVM at the 100x
    corpus (round-10 survival sweep). Here state lives in RocksDB (the
    production provider, already exercised by the recovery tests) and
    output lands in a parquet file sink, so neither scales with driver
    memory; the returned DataFrame reads the sink back for the final
    bounded aggregation. Results are engine-identical to the memory-sink
    path (sink/provider choice does not affect emission semantics) — the
    oracle mirror pins that at both test tiers."""
    out, ckpt = _fresh_dirs(tag)
    run_available_now(
        df,
        df.writeStream.format("parquet").option("path", out).outputMode("append"),
        checkpoint=ckpt,
        rocksdb=True,
    )
    return _read_sink(spark, out, df.schema)


def _run_heavy_complete(spark: SparkSession, df, tag: str):
    """COMPLETE-mode sibling of ``_run_heavy_state`` for stateful queries
    whose final table is corpus-scaled (session windows: one row per
    session). The parquet sink only supports append, and append + a
    keep-everything watermark emits nothing under availableNow session
    aggregation — so the complete-mode result is landed through
    foreachBatch: each micro-batch OVERWRITES the parquet output with the
    full current state, state lives in RocksDB, and nothing collects into
    driver heap (the memory sink's complete mode held every session row
    on-heap and OOMed the 8 g JVM at the 100x corpus — round-11 survival
    sweep find). The last availableNow batch leaves the final table on
    disk; results are engine-identical to the memory-sink path."""
    out, ckpt = _fresh_dirs(tag)
    run_available_now(
        df,
        df.writeStream.foreachBatch(
            lambda batch, _bid: batch.write.mode("overwrite").parquet(out)
        ).outputMode("complete"),
        checkpoint=ckpt,
        rocksdb=True,
    )
    return _read_sink(spark, out, df.schema)


@register(
    "stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', {EVENTS_TS_US}) AS win_start, event_type,
           count(*) AS cnt
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per 1-hour tumbling window × type; complete-mode end state
    equals the batch hourly rollup exactly.

    NULL EVENT TIME (§5.3, wave-3 null-injection find): a row with no
    event time cannot be assigned to any window — Spark's window()
    silently drops it, while a batch date_trunc keeps it as a NULL-window
    group. The ingest filter makes the drop EXPLICIT and is shared
    verbatim by the oracle; production counts such rows at ingest
    (llm_null_profile) rather than windowing them. NULL event_type stays
    a legitimate group key on both engines."""
    agg = (
        _stream_events(spark, sf_dir, tag="tumb")
        .where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("win_start"), "event_type", "cnt")
    )
    _run_to_memory(agg, "stream_tumbling_sink", "complete")
    return spark.sql("SELECT win_start, event_type, cnt FROM stream_tumbling_sink")


@register(
    "stream_sliding",
    oracle=f"""
    SELECT CAST(to_timestamp(floor(epoch({EVENTS_TS_US}) / 900) * 900 - k.k * 900)
                AS TIMESTAMP) AS win_start,
           count(*) AS cnt,
           round(sum(value), 2) AS value_sum
    FROM events
    CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k) k
    WHERE ts IS NOT NULL
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour window sliding every 15 min, sum(value): each event lands in 4
    overlapping windows. Oracle reconstructs the same window set via a
    generate_series cross join. NULL event time dropped explicitly at
    ingest on BOTH engines (see stream_tumbling — wave-3 class)."""
    agg = (
        _stream_events(spark, sf_dir, tag="slide")
        .where(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("value_sum"))
        .select(
            F.col("window.start").alias("win_start"),
            "cnt",
            F.round("value_sum", 2).alias("value_sum"),
        )
    )
    _run_to_memory(agg, "stream_sliding_sink", "complete")
    return spark.sql("SELECT win_start, cnt, value_sum FROM stream_sliding_sink")


@register(
    "stream_session",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, {EVENTS_TS_US} AS ts_us, event_id,
             CASE WHEN {EVENTS_TS_US} - lag({EVENTS_TS_US})
                       OVER (PARTITION BY user_id ORDER BY {EVENTS_TS_US}, event_id)
                       >= INTERVAL 30 MINUTE
                  OR lag({EVENTS_TS_US})
                       OVER (PARTITION BY user_id ORDER BY {EVENTS_TS_US}, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL),
    numbered AS (
      -- ORDER BY must be the IDENTICAL total order as the lag() window above:
      -- duplicate timestamps within a user would otherwise let the running
      -- sum see the new_session flag in a different row order and split
      -- sessions differently from Spark's session_window
      SELECT user_id, ts_us,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM ordered)
    SELECT user_id, min(ts_us) AS session_start, count(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 30-minute gap (stateful
    session_window aggregation). Oracle is the batch gaps-and-islands
    formulation: new session when the gap ≥ the timeout. Runs on the
    heavy-complete harness (round 11): one output row PER SESSION scales
    with the corpus, and the memory sink's complete mode collected them
    all into driver heap — a Java-heap OOM at the 100x corpus (survival
    sweep find); RocksDB state + foreachBatch parquet overwrite keeps
    both state and output off-heap."""
    # NULL event time cannot join any session — dropped explicitly at
    # ingest on both engines (wave-3 class; the oracle's lag() null
    # ordering would otherwise split sessions differently than
    # session_window's implicit drop).
    agg = (
        _stream_events(spark, sf_dir, tag="sess")
        .where(F.col("ts").isNotNull())
        .withWatermark("ts", "40 days")  # ≥ data span: keep all state
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    return _run_heavy_complete(spark, agg, "sess").select(
        "user_id", "session_start", "n_events"
    )


@register(
    "stream_watermark_late",
    oracle=f"""
    WITH e AS (SELECT {EVENTS_TS_US} AS ts_us, event_type FROM events),
    mx AS (SELECT max(ts_us) AS m FROM e),
    w AS (
      SELECT date_trunc('hour', ts_us) AS win_start, event_type,
             2 * count(*) AS cnt
      FROM e GROUP BY 1, 2)
    SELECT w.win_start, w.event_type, w.cnt
    FROM w, mx
    WHERE w.win_start + INTERVAL 1 HOUR <= mx.m - INTERVAL 10 MINUTE
    """,
)
def stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode tumbling count under a 10-minute watermark: only windows
    the watermark has passed are finalized and emitted; trailing windows stay
    open at end-of-stream.

    Exact oracle (promoted from rows-only in round 4): the replay IS
    deterministic — two identical file copies, ``maxFilesPerTrigger=1``,
    listing-ordered, and Spark's dual-watermark design (late-events
    filter = PREVIOUS batch's watermark; state eviction = the freshly
    advanced one) fixes the emitted set exactly. Batch 1 builds state at
    watermark 0; batch 2 runs with late-filter still 0 (so its duplicate
    rows are ADMITTED and merge into state — probed via
    ``StreamingQuery.recentProgress``) while eviction advances to
    W1 = max(ts) − 10 min, emitting every window with end ≤ W1 at
    TWO-copy counts; the trailing ≤ 70 min of windows stays open forever.
    The oracle states precisely that (2·count per closed window). Window
    ends sit on hour boundaries while W1 sits 10 min off one, so
    ms-truncation of the watermark can never flip the boundary
    comparison."""
    agg = (
        _stream_events(spark, sf_dir, copies=2, tag="late")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").alias("win_start"), "event_type", "cnt")
    )
    _run_to_memory(agg, "stream_watermark_late_sink", "append")
    return spark.sql(
        "SELECT win_start, event_type, cnt FROM stream_watermark_late_sink"
    )


@register(
    "stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on event_id across micro-batches: the source
    is the events file staged TWICE (maxFilesPerTrigger=1 → two batches), so
    batch 2 is a full duplicate that the dedup state must suppress. The
    deduped stream equals the original table — the oracle proves it.
    Unlike ``stream_dedup_ttl`` this state never evicts (the documented
    unbounded-growth anti-pattern on endless streams); it still runs
    through the RocksDB + file-sink harness so per-key state and the
    row-level sink stay off-heap at large corpora (round 10)."""
    dedup = _stream_events(spark, sf_dir, copies=2, tag="dedup").dropDuplicates(
        ["event_id"]
    )
    _run_heavy_state(
        spark, dedup, f"dedup_{os.path.basename(sf_dir)}"
    ).createOrReplaceTempView("stream_dedup_sink")
    return spark.sql(
        "SELECT event_type, count(*) AS cnt FROM stream_dedup_sink GROUP BY event_type"
    )


@register(
    "stream_static_join",
    oracle="""
    SELECT n_name, count(*) AS cnt, round(sum(value), 2) AS value_sum
    FROM events JOIN nation ON user_id % 25 = n_nationkey
    GROUP BY n_name
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream ⋈ static dimension: enrich the event stream with nation names
    (user_id → nationkey mod map), then aggregate. The static side is
    broadcast to every task — the standard stream-enrichment shape."""
    from ..schemas import load

    nation = load(spark, sf_dir, "nation")
    joined = (
        _stream_events(spark, sf_dir, tag="sjoin")
        .join(F.broadcast(nation), F.col("user_id") % 25 == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("value_sum"))
        .select("n_name", "cnt", F.round("value_sum", 2).alias("value_sum"))
    )
    _run_to_memory(joined, "stream_static_join_sink", "complete")
    return spark.sql(
        "SELECT n_name, cnt, value_sum FROM stream_static_join_sink"
    )


@register(
    "stream_stream_join",
    oracle=f"""
    SELECT c.user_id, count(*) AS pair_cnt
    FROM (SELECT user_id, event_id, {EVENTS_TS_US} AS ts_us FROM events
          WHERE event_type = 'click') c
    JOIN (SELECT user_id, event_id, {EVENTS_TS_US} AS ts_us FROM events
          WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts_us > c.ts_us
     AND p.ts_us <= c.ts_us + INTERVAL 10 MINUTE
    GROUP BY c.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: clicks joined to the same user's purchases
    within 10 minutes, both sides unbounded streams with watermarks (the
    watermark + time-range condition is what lets Spark expire join state —
    without it, both sides buffer forever at 100 TB/day). End-of-stream
    result equals the batch interval join, so the oracle is exact. The
    aggregation runs on the collected sink output — chaining an agg after a
    stream-stream join in one query needs append-emittable aggregates."""
    clicks = (
        _stream_events(spark, sf_dir, tag="ssj_c")
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        _stream_events(spark, sf_dir, tag="ssj_p")
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    _run_to_memory(joined, "stream_stream_join_sink", "append")
    return spark.sql(
        "SELECT user_id, count(*) AS pair_cnt FROM stream_stream_join_sink"
        " GROUP BY user_id"
    )


@register(
    "stream_custom_state",
    oracle="""
    SELECT user_id,
           CAST(2 * count(*) AS BIGINT) AS n_events,
           round(2 * sum(value), 2) AS value_sum
    FROM events GROUP BY user_id
    """,
)
def stream_custom_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-user running (count, sum) accumulator carried across micro-batches
    in the state store. Source staged twice (maxFilesPerTrigger=1 → two
    batches), so the final state is exactly 2× the batch aggregate — the
    oracle proves the state actually survived the batch boundary. This is
    the extension point for any custom sessionizer/CEP operator Spark
    lacks natively."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def running(key, pdfs, state: GroupState):
        cnt, vsum = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            cnt += len(pdf)
            vsum += float(pdf["value"].sum())
        state.update((cnt, vsum))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [cnt], "value_sum": [vsum]}
        )

    updates = (
        _stream_events(spark, sf_dir, copies=2, tag="state")
        .groupBy("user_id")
        .applyInPandasWithState(
            running,
            outputStructType="user_id long, n_events long, value_sum double",
            stateStructType="cnt long, vsum double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    _run_to_memory(updates, "stream_custom_state_sink", "update")
    # the memory sink holds one emission per (user, batch); the final state
    # is the one with the largest running count
    return spark.sql(
        """
        SELECT user_id,
               max(n_events) AS n_events,
               round(max_by(value_sum, n_events), 2) AS value_sum
        FROM stream_custom_state_sink GROUP BY user_id
        """
    )


@register(
    "stream_foreachbatch",
    oracle="""
    SELECT event_type, CAST(2 * count(*) AS BIGINT) AS total_cnt
    FROM events GROUP BY event_type
    """,
)
def stream_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch upsert: each micro-batch's per-type counts are merged
    into an accumulator table (the idempotent-merge sink pattern — in
    production this is a MERGE INTO against a transactional table). Source
    is staged twice → totals are exactly 2× the base table.

    NULL routing key (wave-3 null-injection find): a NULL event_type is a
    legitimate MERGE key — both engines keep it as its own group. The
    accumulator therefore sorts with a None-first key instead of bare
    ``sorted()`` (which raises TypeError on a None/str mix — the exact
    crash the wave-3 corpus exposed)."""
    totals: dict[str | None, int] = {}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        for row in batch_df.groupBy("event_type").count().collect():
            totals[row["event_type"]] = totals.get(row["event_type"], 0) + row["count"]

    stream = _stream_events(spark, sf_dir, copies=2, tag="feb")
    run_available_now(stream, stream.writeStream.foreachBatch(merge))
    return spark.createDataFrame(
        [
            (k, v)
            for k, v in sorted(totals.items(), key=lambda kv: (kv[0] is not None, kv[0] or ""))
        ],
        "event_type string, total_cnt long",
    )


@register(
    "stream_dedup_ttl",
    oracle="""
    SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
    """,
)
def stream_dedup_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (Spark 3.5+
    dropDuplicatesWithinWatermark): unlike plain dropDuplicates, whose key
    state grows forever, state here is evicted once the watermark passes a
    key — the ONLY sustainable dedup on an unbounded 100 TB/day stream.
    The replay stages the events file twice (two micro-batches of full
    duplicates); the 40-day delay exceeds the corpus's 30-day span, so no
    state evicts mid-run and the result provably equals the batch distinct
    — while the same code on an endless stream runs in O(window) memory."""
    dedup = (
        _stream_events(spark, sf_dir, copies=2, tag="dedup_ttl")
        .withWatermark("ts", "40 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _run_heavy_state(
        spark, dedup, f"dedup_ttl_{os.path.basename(sf_dir)}"
    ).createOrReplaceTempView("stream_dedup_ttl_sink")
    return spark.sql(
        "SELECT event_type, count(*) AS cnt FROM stream_dedup_ttl_sink GROUP BY event_type"
    )


# NOTE (round-4 probe): ``transformWithStateInPandas`` — Spark 4's
# arbitrary-stateful successor to applyInPandasWithState (typed ValueState/
# ListState/MapState handles, timers, state TTL) — is API-present in this
# build but ENVIRONMENT-BLOCKED at runtime: its driver↔worker state protocol
# imports google.protobuf, which is not installed and cannot be (no pip).
# Probed 2026-08-14: STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE /
# "ImportError: cannot import name 'descriptor' from 'google.protobuf'".
# The legacy applyInPandasWithState path (stream_custom_state above) covers
# the arbitrary-stateful surface with an exact oracle.


@register(
    "stream_topk_per_window",
    oracle=f"""
    WITH ranked AS (
      SELECT date_trunc('hour', {EVENTS_TS_US}) AS win_start, event_type,
             round(value, 2) AS value,
             row_number() OVER (
               PARTITION BY date_trunc('hour', {EVENTS_TS_US}), event_type
               ORDER BY value DESC, event_id) AS rnk
      FROM events WHERE ts IS NOT NULL)
    SELECT win_start, event_type, CAST(rnk AS INT) AS rnk, value
    FROM ranked WHERE rnk <= 3
    """,
)
def stream_topk_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k per event-time window — ranking windows are not
    supported on unbounded streams, so this uses the candidate-merge
    pattern: each micro-batch computes its LOCAL per-(window,type) top-3
    (a bounded candidate set — a global top-3 element is necessarily in
    its own batch's top-3), foreachBatch appends candidates to an
    accumulator, and the final exact top-3 is ranked over the union.
    Candidate state is |windows × types × 3| per batch — bounded by the
    watermark horizon in production, never event-volume. Source staged
    twice (identical copies) to prove the merge dedups re-delivery:
    the result equals the single-pass batch answer. NULL event time has
    no window to rank in — dropped explicitly at ingest on both engines
    (wave-3 class); NULL value ranks last under DESC on both engines and
    NULL event_type remains a legitimate partition key."""
    from pyspark.sql.window import Window

    stream = _stream_events(spark, sf_dir, copies=2, tag="topkwin")
    stream = stream.where(F.col("ts").isNotNull())
    windowed = stream.select(
        F.date_trunc("hour", "ts").alias("win_start"),
        "event_type",
        F.round("value", 2).alias("value"),
        "event_id",
    )
    candidates: list = []

    def collect_topk(batch_df: DataFrame, batch_id: int) -> None:
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

    run_available_now(windowed, windowed.writeStream.foreachBatch(collect_topk))
    cand = spark.createDataFrame(
        candidates, "win_start timestamp, event_type string, value double, event_id long"
    ).dropDuplicates(["win_start", "event_type", "event_id"])
    w = Window.partitionBy("win_start", "event_type").orderBy(
        F.col("value").desc(), "event_id"
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 3)
        .select("win_start", "event_type", "rnk", "value")
    )


@register(
    "stream_cdc_latest_upsert",
    oracle=f"""
    WITH latest AS (
      SELECT user_id, value, ts_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_us DESC, event_id DESC) AS rn,
             count(*) OVER (PARTITION BY user_id) AS n_changes
      FROM (SELECT user_id, event_id, value, {EVENTS_TS_US} AS ts_us FROM events))
    SELECT user_id, round(value, 2) AS last_value,
           ts_us AS last_ts, CAST(2 * n_changes AS BIGINT) AS n_applied
    FROM latest WHERE rn = 1 AND user_id < 20
    """,
)
def stream_cdc_latest_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC latest-value upsert: foreachBatch merges each
    micro-batch's per-key latest record into a keyed state table
    (last-writer-wins by event time, event_id tiebreak) while counting
    every applied change — the materialized-view-maintenance pattern a
    MERGE INTO sink runs in production. Source staged twice
    (maxFilesPerTrigger=1 → two ordered batches of the same data):
    the end state equals the batch latest-per-key answer and the applied
    count is exactly 2× — re-delivery shows up in the audit column, not
    the state. Per-batch work is one local top-1-per-key reduce before
    the driver merge; state is |keys|-bounded."""
    stream = _stream_events(spark, sf_dir, copies=2, tag="cdcup")
    state: dict = {}
    applied: dict = {}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.where(F.col("user_id") < 20)
            .groupBy("user_id")
            .agg(
                F.max_by(
                    F.struct(F.unix_micros("ts").alias("ts_us"),
                             F.col("event_id"), F.round("value", 2).alias("v")),
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

    run_available_now(stream, stream.writeStream.foreachBatch(merge))
    import datetime as _dt

    rows = [
        (k, v[2], _dt.datetime.utcfromtimestamp(v[0] / 1e6), applied[k])
        for k, v in sorted(state.items())
    ]
    return spark.createDataFrame(
        rows, "user_id long, last_value double, last_ts timestamp, n_applied long"
    )


@register(
    "stream_left_outer_join",
    oracle=f"""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
               FROM events),
    c AS (SELECT user_id, ts AS cts FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, ts AS pts FROM e WHERE event_type = 'purchase'),
    mx AS (
      SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
               - INTERVAL 10 MINUTE AS w
      FROM (SELECT 1) one),
    pm AS (
      SELECT c.user_id, count(*) AS nm
      FROM c JOIN p ON p.user_id = c.user_id
                   AND p.pts >= c.cts
                   AND p.pts <= c.cts + INTERVAL 10 MINUTE
      GROUP BY c.user_id),
    um AS (
      SELECT c.user_id, count(*) AS nu
      FROM c CROSS JOIN mx
      WHERE NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND p.pts >= c.cts
                AND p.pts <= c.cts + INTERVAL 10 MINUTE)
        AND c.cts + INTERVAL 10 MINUTE < mx.w
      GROUP BY c.user_id)
    SELECT coalesce(pm.user_id, um.user_id) AS user_id,
           4 * coalesce(pm.nm, 0) AS n_matched,
           2 * coalesce(um.nu, 0) AS n_unmatched
    FROM pm FULL OUTER JOIN um ON um.user_id = pm.user_id
    """,
)
def stream_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: every click pairs with the same
    user's purchases within the next 10 minutes; clicks that never
    match emit a null-padded row ONCE their state can no longer match —
    i.e. when the watermark passes click_ts + 10 min. This is the
    semantics inner stream_stream_join cannot give you ('which clicks
    did NOT convert' on an unbounded stream), and the watermark is what
    makes it possible at all: without it unmatched rows could never be
    declared final.

    Exact oracle via the stream_watermark_late replay discipline (two
    identical file copies, maxFilesPerTrigger=1, dual-watermark lag):
    batch 1 joins copy-1×copy-1 at watermark 0 (no state evicted — the
    operating watermark lags one batch); batch 2 therefore still holds
    ALL of copy-1's state, so matches total 2×2 = 4 per original pair;
    eviction then advances and null-emits both copies of every
    unmatched click with click_ts + 10 min < W. The load-bearing
    detail (found empirically — a click 3 h 55 m before corpus end was
    NOT emitted): W is the GLOBAL watermark = min over BOTH sides of
    (that side's post-filter max event time − its delay), i.e.
    least(max click_ts, max purchase_ts) − 10 min — each side's
    watermark is computed on its own filtered stream, and Spark's
    multiple-watermark policy (spark.sql.streaming.multipleWatermarkPolicy,
    default 'min') takes the minimum. The memory-sink aggregation
    counts both populations per user."""
    clicks = (
        _stream_events(spark, sf_dir, copies=2, tag="lsoj_c")
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        _stream_events(spark, sf_dir, copies=2, tag="lsoj_p")
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    )
    _run_heavy_state(
        spark, joined, f"lsoj_{os.path.basename(sf_dir)}"
    ).createOrReplaceTempView("stream_left_outer_join_sink")
    return spark.sql(
        "SELECT user_id, count(purchase_ts) AS n_matched,"
        " sum(CASE WHEN purchase_ts IS NULL THEN 1 ELSE 0 END) AS n_unmatched"
        " FROM stream_left_outer_join_sink GROUP BY user_id"
    )


@register(
    "stream_full_outer_join",
    oracle=f"""
    WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id, event_type
               FROM events),
    c AS (SELECT user_id, ts AS cts FROM e WHERE event_type = 'click'),
    p AS (SELECT user_id, ts AS pts FROM e WHERE event_type = 'purchase'),
    mx AS (
      SELECT least((SELECT max(cts) FROM c), (SELECT max(pts) FROM p))
               - INTERVAL 10 MINUTE AS w
      FROM (SELECT 1) one),
    pm AS (
      SELECT c.user_id, count(*) AS nm
      FROM c JOIN p ON p.user_id = c.user_id
                   AND p.pts >= c.cts
                   AND p.pts <= c.cts + INTERVAL 10 MINUTE
      GROUP BY c.user_id),
    um AS (
      SELECT c.user_id, count(*) AS nu
      FROM c CROSS JOIN mx
      WHERE NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = c.user_id
                AND p.pts >= c.cts
                AND p.pts <= c.cts + INTERVAL 10 MINUTE)
        AND c.cts + INTERVAL 10 MINUTE < mx.w
      GROUP BY c.user_id),
    up AS (
      SELECT p.user_id, count(*) AS np
      FROM p CROSS JOIN mx
      WHERE NOT EXISTS (
              SELECT 1 FROM c
              WHERE c.user_id = p.user_id
                AND p.pts >= c.cts
                AND p.pts <= c.cts + INTERVAL 10 MINUTE)
        AND p.pts < mx.w
      GROUP BY p.user_id),
    u AS (
      SELECT user_id, nm, 0 AS nu, 0 AS np FROM pm
      UNION ALL SELECT user_id, 0, nu, 0 FROM um
      UNION ALL SELECT user_id, 0, 0, np FROM up)
    SELECT user_id,
           CAST(4 * sum(nm) AS BIGINT) AS n_matched,
           CAST(2 * sum(nu) AS BIGINT) AS n_unmatched_clicks,
           CAST(2 * sum(np) AS BIGINT) AS n_unmatched_purchases
    FROM u GROUP BY user_id
    """,
)
def stream_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream join — both 'which clicks never
    converted' AND 'which purchases arrived with no attributable click'
    from one operator, the completeness audit an attribution pipeline
    runs on the click↔purchase feed. Same deterministic two-copy replay
    discipline as stream_left_outer_join (maxFilesPerTrigger=1,
    watermark-lag eviction): matched pairs emit 2×2 = 4 per original
    pair, unmatched CLICKS null-emit (×2) once W passes click_ts +
    10 min, and unmatched PURCHASES null-emit (×2) once W passes
    purchase_ts — the purchase side's state horizon is its own event
    time because the join condition bounds matching clicks to
    [pts − 10 min, pts], all of which are below W once pts < W. W is
    the GLOBAL min-of-both-sides watermark (multipleWatermarkPolicy
    'min'), exactly as pinned empirically for the left-outer op. The
    memory-sink aggregation keys on coalesce of the two sides' user
    ids (purchase-only rows carry NULL on the click side)."""
    clicks = (
        _stream_events(spark, sf_dir, copies=2, tag="foj_c")
        .where(F.col("event_type") == "click")
        .select("user_id", F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        _stream_events(spark, sf_dir, copies=2, tag="foj_p")
        .where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user_id"), F.col("ts").alias("purchase_ts"))
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")),
        "full_outer",
    )
    _run_heavy_state(
        spark, joined, f"fsoj_{os.path.basename(sf_dir)}"
    ).createOrReplaceTempView("stream_full_outer_join_sink")
    return spark.sql(
        "SELECT coalesce(user_id, p_user_id) AS user_id,"
        " sum(CASE WHEN click_ts IS NOT NULL AND purchase_ts IS NOT NULL"
        "          THEN 1 ELSE 0 END) AS n_matched,"
        " sum(CASE WHEN purchase_ts IS NULL THEN 1 ELSE 0 END) AS n_unmatched_clicks,"
        " sum(CASE WHEN click_ts IS NULL THEN 1 ELSE 0 END) AS n_unmatched_purchases"
        " FROM stream_full_outer_join_sink"
        " GROUP BY coalesce(user_id, p_user_id)"
    )


@register(
    "stream_union_two_sources",
    oracle=f"""
    WITH unioned AS (
      SELECT 'topic_a' AS topic, event_type, value FROM events
      WHERE event_id % 2 = 0
      UNION ALL
      SELECT 'topic_b', event_type, value FROM events
      WHERE event_id % 2 = 1)
    SELECT topic, event_type,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(value), 2) AS value_sum
    FROM unioned GROUP BY topic, event_type
    ORDER BY topic, event_type
    """,
)
def stream_union_two_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source stream union — the standard multi-topic ingestion
    shape (two Kafka topics in production; two disjoint file streams
    here, split by event-id parity so the partition is deterministic):
    both streams are tagged with their origin, unioned BEFORE the
    stateful aggregation, and a single per-(topic, type) rollup runs
    over the merged stream — one state store for N sources, not N
    pipelines. End-of-stream state provably equals the batch union, so
    the oracle is exact. At scale the union is free (no shuffle — the
    sources' partitions interleave); only the aggregate shuffles."""
    a = (
        _stream_events(spark, sf_dir, tag="union_a")
        .where(F.col("event_id") % 2 == 0)
        .withColumn("topic", F.lit("topic_a"))
    )
    b = (
        _stream_events(spark, sf_dir, tag="union_b")
        .where(F.col("event_id") % 2 == 1)
        .withColumn("topic", F.lit("topic_b"))
    )
    agg = (
        a.unionByName(b)
        .groupBy("topic", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
    )
    _run_to_memory(agg, "stream_union_sink", "complete")
    return spark.sql(
        "SELECT topic, event_type, cnt, value_sum FROM stream_union_sink"
        " ORDER BY topic, event_type"
    )


@register(
    "stream_static_anti_join",
    oracle=f"""
    WITH blocklist AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS cnt_allowed,
           round(sum(e.value), 2) AS value_allowed
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM blocklist b
                      WHERE b.user_id = e.user_id)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def stream_static_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static LEFT ANTI join — the blocklist/consent filter every
    compliant event pipeline runs in-stream (drop events from opted-out
    or abusive users BEFORE any state is built, so the blocklist also
    bounds state): a static user blocklist (deterministic id rule
    standing in for a compliance table) anti-joins the stream, then a
    per-type rollup counts what got through. The static side is
    broadcast to every micro-batch; stream-static joins need no
    watermark because the static side never grows. End-of-stream state
    equals the batch anti join exactly. Completes the stream-static
    family next to stream_static_join's enrichment inner join."""
    from ..schemas import load

    block = (
        load(spark, sf_dir, "events")
        .select("user_id")
        .where(F.col("user_id") % 13 == 0)
        .distinct()
    )
    filtered = (
        _stream_events(spark, sf_dir, tag="anti")
        .join(F.broadcast(block), "user_id", "left_anti")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt_allowed"),
            F.round(F.sum("value"), 2).alias("value_allowed"),
        )
    )
    _run_to_memory(filtered, "stream_anti_sink", "complete")
    return spark.sql(
        "SELECT event_type, cnt_allowed, value_allowed FROM stream_anti_sink"
        " ORDER BY event_type"
    )
