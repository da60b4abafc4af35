"""Time-series operators over the event stream (the railway-telemetry
domain surface: continuous sensor/ops feeds with gaps, sessions, and
anomalies — SURVEY.md §0.1's "time-series event analytics").

All pure DataFrame built-ins: spine generation via sequence+explode,
forward-fill via last(ignoreNulls) windows, sessionization via the
gaps-and-islands double window, anomalies via trailing-frame statistics.
Each shuffles once on its partition key and scales linearly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import plan_memo, register
from ._util import EVENTS_TS_US, money, ratio, sql_q, t


@register(
    "ts_gapfill",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', {EVENTS_TS_US}) AS hr,
             count(*) AS cnt
      FROM events WHERE user_id < 10 GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM hourly GROUP BY user_id),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM bounds),
    joined AS (
      SELECT s.user_id, s.hr, h.cnt,
             (h.cnt IS NOT NULL) AS observed
      FROM spine s LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hr = h.hr)
    SELECT user_id, hr, observed,
           coalesce(cnt, 0) AS cnt_zero_filled,
           last_value(cnt IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY hr
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_ffilled
    FROM joined
    """,
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filling: build a continuous hourly spine per series (sequence +
    explode between each series' min/max hour), left-join observations,
    then zero-fill and forward-fill (last ignoreNulls). The hypertable
    resample-and-fill primitive; spine generation is per-series and never
    materializes a global calendar."""
    hourly = (
        t(spark, sf_dir, "events")
        .where(F.col("user_id") < 10)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    joined = spine.join(hourly, ["user_id", "hr"], "left")
    ff = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "hr",
        F.col("cnt").isNotNull().alias("observed"),
        F.coalesce("cnt", F.lit(0)).alias("cnt_zero_filled"),
        F.last("cnt", ignorenulls=True).over(ff).alias("cnt_ffilled"),
    )


@register(
    "ts_sessionize",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, value, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                  OR ts_us - lag(ts_us) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM (SELECT user_id, event_id, value, {EVENTS_TS_US} AS ts_us FROM events) e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    numbered AS (
      SELECT user_id, value, ts_us,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS session_no
      FROM flagged)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           min(ts_us) AS session_start, max(ts_us) AS session_end,
           count(*) AS n_events, round(sum(value), 2) AS value_sum
    FROM numbered GROUP BY user_id, session_no
    """,
)
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): flag session starts with a
    lag() gap test, number sessions with a running sum, aggregate per
    session. The batch counterpart of stream_session — same 30-minute gap,
    verifiable row-for-row against it."""
    e = t(spark, sf_dir, "events").select("user_id", "event_id", "value", "ts")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # µs-exact gap — a seconds cast would truncate and flip boundary gaps
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(order_w)
    flagged = e.select(
        "user_id",
        "event_id",
        "value",
        "ts",
        F.when(gap.isNull() | (gap >= 30 * 60 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.select(
        "user_id",
        "value",
        "ts",
        F.sum("new_session").over(run_w).alias("session_no"),
    )
    return numbered.groupBy("user_id", "session_no").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )


@register(
    "ts_anomaly",
    oracle=f"""
    WITH stats AS (
      SELECT event_id, user_id, value, ts_us,
             avg(value)         OVER w AS mu,
             stddev_samp(value) OVER w AS sigma,
             count(*)           OVER w AS n_prior
      FROM (SELECT event_id, user_id, value, {EVENTS_TS_US} AS ts_us FROM events) e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT event_id, round((value - mu) / sigma, 4) AS zscore
    FROM stats
    WHERE n_prior >= 10 AND sigma > 0
      AND abs(value - mu) > 3 * sigma
    """,
)
def ts_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling anomaly detection: each reading scored against the TRAILING
    20-event window of its own series (frame excludes the current row — no
    self-contamination); flag |z| > 3 with a warm-up guard. The sensor
    anomaly-count primitive of the railway domain; one shuffle by series."""
    e = t(spark, sf_dir, "events").select("event_id", "user_id", "value", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-20, -1)
    )
    scored = e.select(
        "event_id",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_prior"),
    )
    return scored.where(
        (F.col("n_prior") >= 10)
        & (F.col("sigma") > 0)
        & (F.abs(F.col("value") - F.col("mu")) > 3 * F.col("sigma"))
    ).select("event_id", F.round((F.col("value") - F.col("mu")) / F.col("sigma"), 4).alias("zscore"))


@register(
    "ts_ohlc",
    oracle=f"""
    WITH w AS (
        SELECT event_type, date_trunc('hour', {EVENTS_TS_US}) AS bucket, value,
               first_value(value) OVER (
                   PARTITION BY event_type, date_trunc('hour', {EVENTS_TS_US})
                   ORDER BY {EVENTS_TS_US}, event_id) AS open,
               last_value(value) OVER (
                   PARTITION BY event_type, date_trunc('hour', {EVENTS_TS_US})
                   ORDER BY {EVENTS_TS_US}, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close
        FROM events)
    SELECT event_type, bucket,
           round(min(open), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(min(close), 6) AS close,
           CAST(count(*) AS BIGINT) AS volume
    FROM w GROUP BY event_type, bucket
    """,
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle downsampling (classic hypertable rollup): per event_type
    per hour, the first/max/min/last of value ordered by (ts, event_id).
    open/close via deterministic window first/last, high/low/volume via
    plain aggregates — ONE shuffle on (event_type, hour): the window
    partition key equals the groupBy key, so Catalyst reuses the exchange.
    At 100 TB this is the downsample-on-ingest pattern: the rollup output
    is ~1/10⁴ the raw volume and answers most dashboards."""
    e = t(spark, sf_dir, "events").select(
        "event_type", F.date_trunc("hour", "ts").alias("bucket"), "value", "ts", "event_id"
    )
    w = Window.partitionBy("event_type", "bucket").orderBy("ts", "event_id")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    with_oc = e.select(
        "event_type",
        "bucket",
        "value",
        F.first("value").over(w).alias("open"),
        F.last("value").over(wfull).alias("close"),
    )
    return with_oc.groupBy("event_type", "bucket").agg(
        ratio(F.min("open")).alias("open"),
        ratio(F.max("value")).alias("high"),
        ratio(F.min("value")).alias("low"),
        ratio(F.min("close")).alias("close"),
        F.count(F.lit(1)).alias("volume"),
    )


@register(
    "ts_hourly_rollup",
    oracle=f"""
    SELECT user_id, date_trunc('hour', {EVENTS_TS_US}) AS hour_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS value_sum
    FROM events GROUP BY 1, 2
    ORDER BY n_events DESC, user_id, hour_start LIMIT 20
    """,
)
@plan_memo
def ts_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user hourly activity rollup, top 20 busiest (user, hour) cells —
    the BASELINE.md q_session_ish shape, now a first-class op so the bench
    and the DuckDB baseline compare like-for-like. One partial-aggregated
    shuffle on (user_id, hour) then a TakeOrderedAndProject frontier; ties
    broken by (user_id, hour_start) so the cut is deterministic. Bench
    headline op — one SQL text (see ``sql_q``), identical plan."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT user_id, date_trunc('hour', ts) AS hour_start,
               count(*) AS n_events,
               round(sum(value), 2) AS value_sum
        FROM events GROUP BY user_id, date_trunc('hour', ts)
        ORDER BY n_events DESC, user_id, hour_start LIMIT 20
        """,
    )


#: EWMA trailing lookback. A value L steps back carries weight (1-α)^L =
#: 0.7^128 ≈ 1.6e-20 — twelve orders below the round(6) surface, so the
#: trailing-window EWMA is numerically the full EWMA while bounding per-key
#: state at O(L) instead of O(series length).
EWMA_LOOKBACK = 128


@register(
    "ts_ewma",
    oracle=f"""
    WITH ranked AS (
        SELECT user_id, value, {EVENTS_TS_US} AS ts_us, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY {EVENTS_TS_US} DESC, event_id DESC) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n_all
        FROM events),
    ordered AS (
        SELECT user_id, max(n_all) AS n_events,
               list(value ORDER BY ts_us, event_id) AS vals
        FROM ranked WHERE rn <= {EWMA_LOOKBACK} GROUP BY user_id)
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           round(list_reduce(vals, (acc, x) -> 0.3 * x + 0.7 * acc), 6) AS ewma
    FROM ordered
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per user (alpha=0.3), the
    recursive smoother window functions can't express, over the TRAILING
    EWMA_LOOKBACK events: rank rows newest-first with a window (sort-based,
    spillable), keep rn <= L, then fold the ordered bounded list — seed =
    oldest retained value, acc' = alpha*x + (1-alpha)*acc. Left fold order
    is identical in Spark and DuckDB, so float64 results match bit-for-bit.
    Scale: shuffles on user_id only; per-key state is O(L) — a hot key with
    10^8 events no longer materializes its whole series in one executor.
    n_events still reports the FULL series length. The streaming twin
    (stream_custom_state) keeps O(1) state instead."""
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    w_rank = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    recent = (
        e.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_all", F.count(F.lit(1)).over(Window.partitionBy("user_id")))
        .where(F.col("rn") <= EWMA_LOOKBACK)
    )
    ordered = recent.groupBy("user_id").agg(
        F.max("n_all").alias("n_events"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
            lambda s: s.value,
        ).alias("vals"),
    )
    return ordered.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round(
            F.aggregate(
                F.slice("vals", 2, F.size("vals") - 1),
                F.element_at("vals", 1),
                lambda acc, x: 0.3 * x + 0.7 * acc,
            ),
            6,
        ).alias("ewma"),
    )


@register(
    "ts_funnel",
    oracle=f"""
    WITH v AS (
        SELECT user_id, min({EVENTS_TS_US}) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
    c AS (
        SELECT e.user_id, min({EVENTS_TS_US}) AS t2 FROM events e
        JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND {EVENTS_TS_US} > v.t1
        GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, min({EVENTS_TS_US}) AS t3 FROM events e
        JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND {EVENTS_TS_US} > c.t2
        GROUP BY e.user_id)
    SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_view_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_view_click_purchase
    """,
)
def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): stage k counts
    users whose earliest stage-k event strictly follows their earliest
    qualifying stage-(k-1) event. Three narrow aggregates chained by
    equi joins on user_id — each stage's frame shrinks, and all shuffles
    share the user_id key so AQE coalesces them. The classic product-
    analytics op Spark has no builtin for."""
    e = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = e.where(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t1"))
    c = (
        e.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    # one declarative plan, no driver-side .count() actions
    return (
        v.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


@register(
    "ts_retention_cohort",
    oracle=f"""
    WITH firsts AS (
        SELECT user_id, date_trunc('day', min({EVENTS_TS_US})) AS cohort_day
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               datediff('day', f.cohort_day, date_trunc('day', {EVENTS_TS_US})) AS day_offset
        FROM events e JOIN firsts f ON e.user_id = f.user_id)
    SELECT cohort_day,
           CAST(day_offset AS INT) AS day_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM activity
    WHERE day_offset <= 7
    GROUP BY cohort_day, day_offset
    """,
)
def ts_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    on each subsequent day-offset they return (the activation/retention
    analysis every product team runs). Two shuffles, both on user_id
    (first-seen agg + the activity join), then one on the small
    (cohort, offset) grid; the distinct collapses per-user-day event
    volume BEFORE the final count, which is what keeps the grid agg
    tiny at 100 TB."""
    e = t(spark, sf_dir, "events").select("user_id", "ts")
    firsts = e.groupBy("user_id").agg(F.date_trunc("day", F.min("ts")).alias("cohort_day"))
    activity = (
        e.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.date_trunc("day", "ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .where(F.col("day_offset") <= 7)
        .distinct()
    )
    return activity.groupBy("cohort_day", "day_offset").agg(
        F.count(F.lit(1)).alias("active_users")
    )


@register(
    "ts_transition_matrix",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY {EVENTS_TS_US}, event_id) AS next_type
        FROM events)
    SELECT event_type, next_type,
           CAST(count(*) AS BIGINT) AS transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def ts_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts between consecutive event
    types per user (clickstream path analysis). One shuffle on user_id
    for the lead window; the 5×5 transition grid aggregates map-side."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("event_type", F.lead("event_type").over(w).alias("next_type"))
    return (
        seq.where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("transitions"))
    )


@register(
    "ts_interpolate_linear",
    oracle=f"""
    WITH hourly AS (
      SELECT user_id, date_trunc('hour', {EVENTS_TS_US}) AS hr,
             CAST(count(*) AS DOUBLE) AS cnt
      FROM events WHERE user_id < 10 GROUP BY 1, 2),
    bounds AS (
      SELECT user_id, min(hr) AS lo, max(hr) AS hi FROM hourly GROUP BY user_id),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
      FROM bounds),
    joined AS (
      SELECT s.user_id, s.hr, h.cnt FROM spine s
      LEFT JOIN hourly h ON s.user_id = h.user_id AND s.hr = h.hr),
    bracketed AS (
      SELECT user_id, hr, cnt,
             last_value(cnt IGNORE NULLS) OVER wb AS prev_val,
             last_value(CASE WHEN cnt IS NOT NULL THEN hr END IGNORE NULLS)
               OVER wb AS prev_hr,
             first_value(cnt IGNORE NULLS) OVER wf AS next_val,
             first_value(CASE WHEN cnt IS NOT NULL THEN hr END IGNORE NULLS)
               OVER wf AS next_hr
      FROM joined
      WINDOW wb AS (PARTITION BY user_id ORDER BY hr
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY user_id ORDER BY hr
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, hr, (cnt IS NOT NULL) AS observed,
           round(CASE WHEN cnt IS NOT NULL THEN cnt
                 ELSE prev_val + (next_val - prev_val)
                      * (epoch(hr) - epoch(prev_hr))
                      / (epoch(next_hr) - epoch(prev_hr)) END, 6) AS cnt_interp
    FROM bracketed
    """,
)
def ts_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap interpolation on a regular per-series spine (the
    hypertable `interpolate()` primitive, complementing ts_gapfill's
    ffill): missing hours get prev + (next-prev)·(t-t_prev)/(t_next-t_prev)
    from the bracketing observations. Two window passes (backward carry,
    forward carry) over the same per-series sort — one shuffle on user_id;
    the spine is generated per series, never a global calendar. Edge rows
    are always observed (spine spans min..max per series), so the
    interpolation expression never sees a NULL bracket."""
    hourly = (
        t(spark, sf_dir, "events")
        .where(F.col("user_id") < 10)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hr"))
        .agg(F.count(F.lit(1)).cast("double").alias("cnt"))
    )
    spine = (
        hourly.groupBy("user_id")
        .agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
        )
    )
    joined = spine.join(hourly, ["user_id", "hr"], "left")
    wb = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_hr = F.when(F.col("cnt").isNotNull(), F.col("hr"))
    bracketed = joined.select(
        "user_id",
        "hr",
        "cnt",
        F.last("cnt", ignorenulls=True).over(wb).alias("prev_val"),
        F.last(obs_hr, ignorenulls=True).over(wb).alias("prev_hr"),
        F.first("cnt", ignorenulls=True).over(wf).alias("next_val"),
        F.first(obs_hr, ignorenulls=True).over(wf).alias("next_hr"),
    )
    frac = (F.unix_timestamp("hr") - F.unix_timestamp("prev_hr")) / (
        F.unix_timestamp("next_hr") - F.unix_timestamp("prev_hr")
    )
    return bracketed.select(
        "user_id",
        "hr",
        F.col("cnt").isNotNull().alias("observed"),
        F.round(
            F.when(F.col("cnt").isNotNull(), F.col("cnt")).otherwise(
                F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * frac
            ),
            6,
        ).alias("cnt_interp"),
    )


@register(
    "ts_seasonal_ma",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS rev_cents
        FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1),
    trended AS (
        SELECT d, rev_cents,
               CAST(count(*) OVER w AS BIGINT) AS win_n,
               sum(rev_cents) OVER w AS win_cents
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    resid AS (
        SELECT d,
               (rev_cents - win_cents / 7.0) / 100.0 AS residual
        FROM trended WHERE win_n = 7)
    SELECT CAST(dayofweek(d) + 1 AS INT) AS dow,
           CAST(count(*) AS BIGINT) AS n_days,
           round(avg(residual), 4) AS seasonal_idx
    FROM resid GROUP BY dow
    """,
)
def ts_seasonal_ma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday seasonality via centered-MA detrend (decompose-lite):
    daily revenue minus its centered 7-day moving average (full windows
    only — the first/last 3 days have no defined trend), residuals
    averaged per day-of-week. Revenue is carried as integer cents through
    the window so trend subtraction is engine-exact; the division back to
    currency happens once per row. One sort for the trend window, a
    7-group agg after. Oracle delta: DuckDB dayofweek is 0=Sunday vs
    Spark 1=Sunday."""
    daily = (
        t(spark, sf_dir, "orders")
        # an undated revenue point has no place on the time axis (r15
        # wave-2 null sweep: the NULL day's position in the centered
        # window differed between engines)
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.round(F.sum("o_totalprice") * 100, 0).cast("bigint").alias("rev_cents"))
    )
    w = Window.orderBy("d").rowsBetween(-3, 3)
    trended = daily.select(
        "d",
        "rev_cents",
        F.count(F.lit(1)).over(w).alias("win_n"),
        F.sum("rev_cents").over(w).alias("win_cents"),
    )
    resid = trended.where(F.col("win_n") == 7).select(
        "d",
        ((F.col("rev_cents") - F.col("win_cents") / 7.0) / 100.0).alias("residual"),
    )
    return resid.groupBy(F.dayofweek("d").alias("dow")).agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(F.avg("residual"), 4).alias("seasonal_idx"),
    )


@register(
    "ts_week_over_week",
    oracle="""
    WITH weekly AS (
      SELECT date_trunc('week', ts) AS wk,
             event_type,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    cmp AS (
      SELECT wk, event_type, n,
             lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n
      FROM weekly)
    SELECT wk, event_type, n, prev_n,
           round(CAST(n - prev_n AS DOUBLE) / prev_n, 6) AS wow_change
    FROM cmp WHERE prev_n IS NOT NULL
    """,
)
def ts_week_over_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week change per event type: weekly rollup → lag(1) on the
    calendar axis → relative delta. The standard KPI-trend op; the heavy
    input collapses to |weeks|×|types| rows in the FIRST aggregate
    (map-side partials), so the window runs over a tiny frame — the
    rollup-then-window layering that keeps calendar comparisons cheap at
    any corpus size. date_trunc('week') is ISO-Monday in both engines."""
    weekly = (
        t(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("week", "ts").alias("wk"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("wk")
    cmp = weekly.withColumn("prev_n", F.lag("n").over(w))
    return cmp.where(F.col("prev_n").isNotNull()).select(
        "wk",
        "event_type",
        "n",
        "prev_n",
        ratio((F.col("n") - F.col("prev_n")).cast("double") / F.col("prev_n")).alias(
            "wow_change"
        ),
    )


@register(
    "ts_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events),
    flagged AS (
      SELECT user_id, d,
             date_diff('day', DATE '2024-01-01', d)
               - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM days),
    streaks AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS len
      FROM flagged GROUP BY user_id, grp)
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS max_streak,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM streaks GROUP BY user_id
    """,
)
def ts_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-active-day streaks per user (calendar gaps-and-islands):
    distinct active days → the classic day_number − row_number island key
    (constant within a run of consecutive days) → per-streak lengths →
    max streak + streak count per user. Complements ts_sessionize, which
    islands on TIME GAPS within a day; this islands on the CALENDAR.
    Scale shape: the distinct collapses events to user-days first (the
    only corpus-sized shuffle), then every window/agg runs on at most
    |users|×|days| rows."""
    days = (
        t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    flagged = days.select(
        "user_id",
        "d",
        (
            F.datediff(F.col("d"), F.lit("2024-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    streaks = flagged.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    return streaks.groupBy("user_id").agg(
        F.max("len").alias("max_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@register(
    "ts_percentile_rollup",
    oracle="""
    SELECT event_type,
           date_trunc('day', ts) AS day,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95,
           round(max(value), 6) AS mx,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
)
def ts_percentile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency-dashboard rollup: exact p50/p95/max of the value column per
    (event_type, day) — the observability aggregation behind SLO panels.
    Exact ``percentile`` is fine HERE because each group holds one
    type-day of data (bounded by arrival rate, not corpus age); for
    all-time percentiles over unbounded groups, switch to
    ``approx_percentile`` (t-digest, mergeable) — the same rule
    llm_curriculum_buckets' cutpoint pattern encodes. Spark's percentile
    and DuckDB's quantile_cont share the linear-interpolation definition;
    round-6 absorbs the ulp edge."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .agg(
            ratio(F.expr("percentile(value, 0.5)")).alias("p50"),
            ratio(F.expr("percentile(value, 0.95)")).alias("p95"),
            ratio(F.max("value")).alias("mx"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "ts_autocorr_lag",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             round(sum(value), 2) AS rev
      FROM events GROUP BY 1, 2),
    lagged AS (
      SELECT event_type, rev,
             lag(rev, 1) OVER (PARTITION BY event_type ORDER BY d) AS rev_l1,
             lag(rev, 7) OVER (PARTITION BY event_type ORDER BY d) AS rev_l7
      FROM daily)
    SELECT event_type,
           round(corr(rev, rev_l1), 6) AS acf_1,
           round(corr(rev, rev_l7), 6) AS acf_7,
           CAST(count(*) AS BIGINT) AS n_days
    FROM lagged GROUP BY event_type
    """,
)
def ts_autocorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation diagnostics: ACF at lag 1 and lag 7 of the daily
    value series per event type — the seasonality / persistence probe run
    before choosing a forecasting or anomaly model (lag-7 spikes = weekly
    cycle). Rollup-then-window layering again: the corpus collapses to
    |types|×|days| rows first, so the lag windows and corr aggregates
    touch only the tiny series. corr() ignores NULL pairs (the first k
    rows per series) identically in both engines."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(money(F.sum("value")).alias("rev"))
    )
    w = Window.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "rev",
        F.lag("rev", 1).over(w).alias("rev_l1"),
        F.lag("rev", 7).over(w).alias("rev_l7"),
    )
    return lagged.groupBy("event_type").agg(
        ratio(F.corr("rev", "rev_l1")).alias("acf_1"),
        ratio(F.corr("rev", "rev_l7")).alias("acf_7"),
        F.count(F.lit(1)).alias("n_days"),
    )


@register(
    "ts_cusum_drift",
    oracle="""
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS d,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n, sum(cents) AS tot
      FROM daily GROUP BY event_type),
    dev AS (
      SELECT daily.event_type, d, n, n * cents - tot AS dev_scaled
      FROM daily JOIN stats ON daily.event_type = stats.event_type),
    cus AS (
      SELECT event_type, n,
             sum(dev_scaled) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM dev)
    SELECT event_type,
           round(max(s) / (100.0 * max(n)), 2) AS cusum_max,
           round(min(s) / (100.0 * max(n)), 2) AS cusum_min,
           round(max(abs(s)) / (100.0 * max(n)), 2) AS cusum_range
    FROM cus GROUP BY event_type
    """,
)
def ts_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift statistic per series: cumulative sum of deviations from
    the series mean, reported as max / min / max-abs — the changepoint
    screen (a large |CUSUM| excursion means the level shifted somewhere;
    Page's test thresholds this). Rollup-then-window again: deviations and
    the running sum run over the |types|×|days| rollup, the mean is a tiny
    per-type aggregate joined back.

    Arithmetic is EXACT integers until the final division (r4 hardening):
    values snap to cents per ROW, the deviation from the mean is kept
    scaled by n (``n·cents − Σcents`` — an exact bigint, no float mean),
    and the cumulative sum runs over bigints; only the last
    ``/ (100·n)`` is float, absorbed by round-2. The previous float
    formulation flaked once in ~50 suite runs: double partial-agg merge
    order shifted ``avg(rev)`` by ulps and a cusum extremum sat on an
    exact half-cent."""
    daily = (
        t(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias("cents")
        )
    )
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("tot")
    )
    dev = daily.join(stats, "event_type").select(
        "event_type",
        "d",
        "n",
        (F.col("n") * F.col("cents") - F.col("tot")).alias("dev_scaled"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cus = dev.select(
        "event_type", "n", F.sum("dev_scaled").over(w).alias("s")
    )
    denom = 100.0 * F.max("n")
    return cus.groupBy("event_type").agg(
        money(F.max("s") / denom).alias("cusum_max"),
        money(F.min("s") / denom).alias("cusum_min"),
        money(F.max(F.abs("s")) / denom).alias("cusum_range"),
    )


@register(
    "ts_attribution_touch",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, event_type, value,
                      {EVENTS_TS_US} AS ts_us FROM events),
    marked AS (
      SELECT user_id, event_id, event_type, value, ts_us,
             last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
               OVER w AS last_click,
             last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
               OVER w AS last_click_id
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    attributed AS (
      SELECT CASE
               WHEN last_click IS NOT NULL
                AND epoch_us(ts_us) - epoch_us(last_click) <= 604800000000
               THEN 'last_click' ELSE 'unattributed' END AS model_bucket,
             value
      FROM marked WHERE event_type = 'purchase')
    SELECT model_bucket,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(value), 2) AS attributed_value
    FROM attributed GROUP BY model_bucket
    """,
)
def ts_attribution_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the user's
    most recent strictly-prior click IF it happened within a 7-day
    lookback, else falls to 'unattributed' — the revenue-attribution
    primitive of every growth dashboard. Same window-not-join as-of
    lowering as join_asof (one shuffle on user_id, map-side lookback
    test), then a 2-group rollup of purchase counts and value."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    marked = e.select(
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros(F.last(click_ts, ignorenulls=True).over(w)).alias("last_click"),
    )
    attributed = marked.where(F.col("event_type") == "purchase").select(
        F.when(
            F.col("last_click").isNotNull()
            & ((F.col("ts_us") - F.col("last_click")) <= 604_800_000_000),
            F.lit("last_click"),
        )
        .otherwise("unattributed")
        .alias("model_bucket"),
        "value",
    )
    return attributed.groupBy("model_bucket").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        money(F.sum("value")).alias("attributed_value"),
    )


@register(
    "ts_rfm_segmentation",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             date_diff('day', max(o_orderdate), TIMESTAMP '2001-08-01')
               AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey),
    cuts AS (
      SELECT round(quantile_cont(recency_days, 0.5), 9) AS r_med,
             round(quantile_cont(frequency, 0.5), 9) AS f_med,
             round(quantile_cont(monetary_cents, 0.5), 9) AS m_med
      FROM rfm),
    scored AS (
      SELECT CAST(CAST(recency_days <= r_med AS INT) AS VARCHAR)
             || CAST(CAST(frequency > f_med AS INT) AS VARCHAR)
             || CAST(CAST(monetary_cents > m_med AS INT) AS VARCHAR) AS rfm_code,
             monetary_cents
      FROM rfm CROSS JOIN cuts)
    SELECT rfm_code,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(monetary_cents) / 100.0, 2) AS segment_value
    FROM scored GROUP BY rfm_code
    """,
)
def ts_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary), the
    retention-marketing classic, built scale-correct with the CUTPOINT
    pattern: per-customer RFM triple (one shuffle), exact medians as a
    1-row broadcast aggregate, map-side binary scoring into the 8 RFM
    cells. No global sort, no ntile; medians round to 9 dp on both
    engines so interpolation ulps can't flip a comparison (the inputs are
    integer-grain). Monetary stays integer cents until the final report
    division."""
    rfm = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.datediff(
                F.lit("2001-08-01").cast("timestamp"), F.max("o_orderdate")
            ).alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice") * 100, 0).cast("bigint").alias(
                "monetary_cents"
            ),
        )
    )
    cuts = rfm.agg(
        F.round(F.expr("percentile(recency_days, 0.5)"), 9).alias("r_med"),
        F.round(F.expr("percentile(frequency, 0.5)"), 9).alias("f_med"),
        F.round(F.expr("percentile(monetary_cents, 0.5)"), 9).alias("m_med"),
    )
    scored = rfm.crossJoin(F.broadcast(cuts)).select(
        F.concat(
            (F.col("recency_days") <= F.col("r_med")).cast("int").cast("string"),
            (F.col("frequency") > F.col("f_med")).cast("int").cast("string"),
            (F.col("monetary_cents") > F.col("m_med")).cast("int").cast("string"),
        ).alias("rfm_code"),
        "monetary_cents",
    )
    return scored.groupBy("rfm_code").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("monetary_cents") / 100.0, 2).alias("segment_value"),
    )


@register(
    "ts_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 2) AS v
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    pairs AS (
      SELECT a.user_id,
             (b.v - a.v) / date_diff('day', a.d, b.d) AS slope
      FROM daily a JOIN daily b ON a.user_id = b.user_id AND a.d < b.d)
    SELECT user_id, count(*) AS n_pairs,
           round(median(slope), 6) AS theil_sen_slope
    FROM pairs GROUP BY user_id
    ORDER BY user_id LIMIT 30
    """,
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend estimation per user: the slope estimate is
    the MEDIAN of all pairwise day-over-day slopes of the user's daily
    activity series — breakdown point 29%, immune to the outlier days
    that wreck an OLS fit. Scale shape: the pairwise join is strictly
    per-entity and per-DAY-grain (an entity's series is bounded —
    |days|² pairs over a 30-day window is ≤435 rows), so the quadratic
    never touches raw events: events aggregate to (user, day) first
    [one shuffle], and the pair join + median re-shuffle only the tiny
    daily grain, partitioned by user_id. The per-pair slope arithmetic
    is IEEE-exact on round-2 inputs, making the median oracle-stable."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS d, round(sum(value), 2) AS v
          FROM events GROUP BY user_id, CAST(ts AS DATE)),
        pairs AS (
          SELECT a.user_id,
                 (b.v - a.v) / datediff(b.d, a.d) AS slope
          FROM daily a JOIN daily b ON a.user_id = b.user_id AND a.d < b.d)
        SELECT user_id, count(*) AS n_pairs,
               round(median(slope), 6) AS theil_sen_slope
        FROM pairs GROUP BY user_id
        ORDER BY user_id LIMIT 30
        """,
    )


@register(
    "ts_mad_robust_z",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
      FROM events e JOIN med m ON e.event_type = m.event_type),
    mad AS (SELECT event_type, median(ad) AS mad FROM dev GROUP BY event_type)
    SELECT d.event_type, round(max(d.med), 6) AS med, round(max(m2.mad), 6) AS mad,
           CAST(sum(CASE WHEN 0.6745 * abs(d.value - d.med) / m2.mad > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           count(*) AS n
    FROM dev d JOIN mad m2 ON d.event_type = m2.event_type
    GROUP BY d.event_type
    """,
)
def ts_mad_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screening via the median absolute deviation: per
    series, score each reading 0.6745·|x − median| / MAD and count
    |z| > 3.5 (the Iglewicz–Hoaglin modified z-score — immune to the
    outliers that inflate a stddev-based threshold, unlike ts_anomaly's
    rolling sigma). Two median passes, both partitioned by the series
    key: exact medians are per-GROUP sorts of bounded grain, rejoined by
    broadcast (the per-type median table is |types| rows). At 100 TB the
    exact median swaps for percentile_approx with no plan change; the
    exact form here keeps the oracle checkable."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH med AS (
          SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
        dev AS (
          SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
          FROM events e JOIN med m ON e.event_type = m.event_type),
        mad AS (SELECT event_type, median(ad) AS mad FROM dev GROUP BY event_type)
        SELECT d.event_type, round(max(d.med), 6) AS med, round(max(m2.mad), 6) AS mad,
               CAST(sum(CASE WHEN 0.6745 * abs(d.value - d.med) / m2.mad > 3.5
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               count(*) AS n
        FROM dev d JOIN mad m2 ON d.event_type = m2.event_type
        GROUP BY d.event_type
        """,
    )


@register(
    "ts_gap_distribution",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS gap_us
      FROM events)
    SELECT event_type, count(*) AS n_gaps,
           CAST(quantile_disc(gap_us, 0.5) AS BIGINT) AS p50_us,
           CAST(quantile_disc(gap_us, 0.9) AS BIGINT) AS p90_us,
           CAST(quantile_disc(gap_us, 0.99) AS BIGINT) AS p99_us,
           CAST(max(gap_us) AS BIGINT) AS max_us
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def ts_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time distribution per series (the feed-health /
    SLA primitive: a drifting p99 gap flags a stalling sensor before any
    value-level anomaly). Gaps are exact integer microseconds from a
    lag() window partitioned by (user, type); the distribution tail uses
    the quantile SKETCH in its exactness regime (accuracy ≥ n — see
    agg_approx_percentile_exact_regime), so the same plan holds at 100 TB
    with O(accuracy) state per series and a gracefully-relaxing bound.
    One window shuffle + one group aggregate."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH gaps AS (
          SELECT event_type,
                 unix_micros(ts) - lag(unix_micros(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY unix_micros(ts), event_id) AS gap_us
          FROM events)
        SELECT event_type, count(*) AS n_gaps,
               approx_percentile(gap_us, 0.5, 1000000) AS p50_us,
               approx_percentile(gap_us, 0.9, 1000000) AS p90_us,
               approx_percentile(gap_us, 0.99, 1000000) AS p99_us,
               max(gap_us) AS max_us
        FROM gaps WHERE gap_us IS NOT NULL
        GROUP BY event_type
        """,
    )


@register(
    "ts_seasonality_strength",
    oracle="""
    WITH obs AS (
      SELECT event_type, hour(ts) AS hr, value FROM events),
    hourly AS (
      SELECT event_type, hr, count(*) AS n, avg(value) AS mu
      FROM obs GROUP BY event_type, hr),
    overall AS (
      SELECT event_type, avg(value) AS gmu, count(*) AS nt,
             sum(value * value) AS ss
      FROM obs GROUP BY event_type)
    SELECT o.event_type,
           round(sum(h.n * (h.mu - o.gmu) * (h.mu - o.gmu))
                 / (o.ss - o.nt * o.gmu * o.gmu), 6) AS seasonal_strength,
           CAST(count(*) AS BIGINT) AS n_buckets
    FROM hourly h JOIN overall o ON h.event_type = o.event_type
    GROUP BY o.event_type, o.ss, o.nt, o.gmu
    """,
)
def ts_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality strength per series: the between-bucket
    share of total variance (SSB/SST — the eta-squared of a one-way
    ANOVA on the hour factor). Near 0 ⇒ the hourly profile explains
    nothing; near 1 ⇒ the series is pure daily rhythm — the diagnostic
    that decides whether window features belong in a forecast. Two
    one-pass aggregates (per-bucket, per-series) joined at bounded
    grain; the variance terms come from raw power sums, so nothing
    rescans events."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH obs AS (
          SELECT event_type, hour(ts) AS hr, value FROM events),
        hourly AS (
          SELECT event_type, hr, count(*) AS n, avg(value) AS mu
          FROM obs GROUP BY event_type, hr),
        overall AS (
          SELECT event_type, avg(value) AS gmu, count(*) AS nt,
                 sum(value * value) AS ss
          FROM obs GROUP BY event_type)
        SELECT o.event_type,
               round(sum(h.n * (h.mu - o.gmu) * (h.mu - o.gmu))
                     / (o.ss - o.nt * o.gmu * o.gmu), 6) AS seasonal_strength,
               CAST(count(*) AS BIGINT) AS n_buckets
        FROM hourly h JOIN overall o ON h.event_type = o.event_type
        GROUP BY o.event_type, o.ss, o.nt, o.gmu
        """,
    )


@register(
    "ts_forecast_naive_eval",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 2) AS v
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    paired AS (
      SELECT a.event_type, a.d, a.v,
             n.v AS pred_naive, s.v AS pred_snaive
      FROM daily a
      JOIN daily n ON n.event_type = a.event_type
                  AND n.d = a.d - INTERVAL 1 DAY
      JOIN daily s ON s.event_type = a.event_type
                  AND s.d = a.d - INTERVAL 7 DAY)
    SELECT event_type, count(*) AS n_days,
           round(avg(abs(v - pred_naive)), 4) AS mae_naive,
           round(avg(abs(v - pred_snaive)), 4) AS mae_seasonal_naive,
           round(avg(abs(v - pred_naive) / v) * 100, 4) AS mape_naive,
           round(avg(abs(v - pred_snaive) / v) * 100, 4) AS mape_seasonal_naive
    FROM paired GROUP BY event_type
    """,
)
def ts_forecast_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-baseline backtest: naive (yesterday's value) and
    seasonal-naive (same weekday last week) predictions scored with
    MAE/MAPE per series — the benchmark floor every real forecasting
    model must beat before it ships (the M-competitions' standard
    control). Plan: one daily rollup, then two self-equi-joins on
    (series, lagged date) over the bounded daily grain — at 100 TB the
    evaluation cost is |series × days|, independent of event volume."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 2) AS v
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
        paired AS (
          SELECT a.event_type, a.d, a.v,
                 n.v AS pred_naive, s.v AS pred_snaive
          FROM daily a
          JOIN daily n ON n.event_type = a.event_type
                      AND n.d = a.d - INTERVAL 1 DAY
          JOIN daily s ON s.event_type = a.event_type
                      AND s.d = a.d - INTERVAL 7 DAY)
        SELECT event_type, count(*) AS n_days,
               round(avg(abs(v - pred_naive)), 4) AS mae_naive,
               round(avg(abs(v - pred_snaive)), 4) AS mae_seasonal_naive,
               round(avg(abs(v - pred_naive) / v) * 100, 4) AS mape_naive,
               round(avg(abs(v - pred_snaive) / v) * 100, 4) AS mape_seasonal_naive
        FROM paired GROUP BY event_type
        """,
    )


@register(
    "ts_velocity_acceleration",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    vel AS (
      SELECT event_type, d, cents,
             cents - lag(cents) OVER w AS v1
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
    acc AS (
      SELECT event_type, d, v1,
             v1 - lag(v1) OVER (PARTITION BY event_type ORDER BY d) AS v2
      FROM vel)
    SELECT event_type,
           round(CAST(max(abs(v1)) AS DOUBLE) / 100, 2) AS max_abs_velocity,
           round(CAST(max(abs(v2)) AS DOUBLE) / 100, 2) AS max_abs_acceleration,
           round(CAST(avg(v1) AS DOUBLE) / 100, 4) AS avg_velocity,
           CAST(count(v2) AS BIGINT) AS n_accel_points
    FROM acc GROUP BY event_type
    """,
)
def ts_velocity_acceleration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First and second discrete derivatives of each daily series
    (velocity = day-over-day delta, acceleration = delta of deltas) —
    the trend-change screen that catches "growth is slowing" before the
    level chart shows it. Chained lag() windows over the integer-cents
    DAILY rollup: exact int64 arithmetic, one series-key shuffle, window
    input bounded at |series × days| rows regardless of event volume."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
        vel AS (
          SELECT event_type, d, cents,
                 cents - lag(cents) OVER w AS v1
          FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        acc AS (
          SELECT event_type, d, v1,
                 v1 - lag(v1) OVER (PARTITION BY event_type ORDER BY d) AS v2
          FROM vel)
        SELECT event_type,
               round(CAST(max(abs(v1)) AS DOUBLE) / 100, 2) AS max_abs_velocity,
               round(CAST(max(abs(v2)) AS DOUBLE) / 100, 2) AS max_abs_acceleration,
               round(CAST(avg(v1) AS DOUBLE) / 100, 4) AS avg_velocity,
               CAST(count(v2) AS BIGINT) AS n_accel_points
        FROM acc GROUP BY event_type
        """,
    )


@register(
    "ts_diff_in_diff",
    oracle="""
    WITH cells AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END AS grp,
             CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 'post'
                  ELSE 'pre' END AS period,
             avg(value) AS mean_v, count(*) AS n
      FROM events
      GROUP BY 1, 2)
    SELECT max(CASE WHEN grp = 'treat' AND period = 'pre' THEN round(mean_v, 6) END)
             AS treat_pre,
           max(CASE WHEN grp = 'treat' AND period = 'post' THEN round(mean_v, 6) END)
             AS treat_post,
           max(CASE WHEN grp = 'control' AND period = 'pre' THEN round(mean_v, 6) END)
             AS control_pre,
           max(CASE WHEN grp = 'control' AND period = 'post' THEN round(mean_v, 6) END)
             AS control_post,
           round(
             (max(CASE WHEN grp = 'treat' AND period = 'post' THEN mean_v END)
              - max(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean_v END))
             - (max(CASE WHEN grp = 'control' AND period = 'post' THEN mean_v END)
                - max(CASE WHEN grp = 'control' AND period = 'pre' THEN mean_v END)),
             6) AS did_estimate,
           CAST(sum(n) AS BIGINT) AS n_obs
    FROM cells
    """,
)
def ts_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimation — the 2×2 causal-inference
    workhorse: (treat_post − treat_pre) − (control_post − control_pre)
    removes both the group-level baseline and the common time shock,
    leaving the treatment effect under parallel trends. Cohorts are a
    deterministic key split (user parity) and the intervention date
    splits the corpus midway; the whole estimator is one 4-cell
    conditional aggregate pivoted in a second 1-row pass — at 100 TB a
    DiD costs exactly one map-side scan, which is why it is the default
    experiment readout at scale."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH cells AS (
          SELECT CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END AS grp,
                 CASE WHEN CAST(ts AS DATE) >= DATE '2024-01-16' THEN 'post'
                      ELSE 'pre' END AS period,
                 avg(value) AS mean_v, count(*) AS n
          FROM events
          GROUP BY 1, 2)
        SELECT max(CASE WHEN grp = 'treat' AND period = 'pre' THEN round(mean_v, 6) END)
                 AS treat_pre,
               max(CASE WHEN grp = 'treat' AND period = 'post' THEN round(mean_v, 6) END)
                 AS treat_post,
               max(CASE WHEN grp = 'control' AND period = 'pre' THEN round(mean_v, 6) END)
                 AS control_pre,
               max(CASE WHEN grp = 'control' AND period = 'post' THEN round(mean_v, 6) END)
                 AS control_post,
               round(
                 (max(CASE WHEN grp = 'treat' AND period = 'post' THEN mean_v END)
                  - max(CASE WHEN grp = 'treat' AND period = 'pre' THEN mean_v END))
                 - (max(CASE WHEN grp = 'control' AND period = 'post' THEN mean_v END)
                    - max(CASE WHEN grp = 'control' AND period = 'pre' THEN mean_v END)),
                 6) AS did_estimate,
               CAST(sum(n) AS BIGINT) AS n_obs
        FROM cells
        """,
    )


@register(
    "ts_seasonal_decompose",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 2) AS v
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    trended AS (
      SELECT event_type, d, v,
             avg(v) OVER (PARTITION BY event_type ORDER BY d
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
             count(*) OVER (PARTITION BY event_type ORDER BY d
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
      FROM daily),
    detr AS (
      SELECT event_type, d, v, trend, v - trend AS detrended,
             (dayofweek(d) + 6) % 7 AS dow
      FROM trended WHERE nw = 7),
    seas AS (
      SELECT event_type, dow, avg(detrended) AS seasonal
      FROM detr GROUP BY event_type, dow)
    SELECT t.event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           round(var_samp(t.v), 2) AS var_total,
           round(var_samp(t.v - t.trend), 2) AS var_detrended,
           round(var_samp(t.v - t.trend - s.seasonal), 2) AS var_residual
    FROM detr t JOIN seas s ON t.event_type = s.event_type AND t.dow = s.dow
    GROUP BY t.event_type
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition (STL-lite): trend = 7-day centered
    moving average, weekly seasonal = mean detrended value per weekday,
    residual = the rest — reported as the variance ladder
    (total → after detrend → after deseasonalize), the one-table answer
    to "how much of this series is trend, rhythm, and noise". Weekday
    index is Monday-0 normalized on both engines (the chi-square op's
    cross-engine fix). Everything runs at the DAILY grain: one rollup
    shuffle, series-partitioned centered window, |series × 7| seasonal
    means broadcast back."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d, round(sum(value), 2) AS v
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
        trended AS (
          SELECT event_type, d, v,
                 avg(v) OVER (PARTITION BY event_type ORDER BY d
                              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
                 count(*) OVER (PARTITION BY event_type ORDER BY d
                                ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
          FROM daily),
        detr AS (
          SELECT event_type, d, v, trend, v - trend AS detrended,
                 (dayofweek(d) + 5) % 7 AS dow
          FROM trended WHERE nw = 7),
        seas AS (
          SELECT event_type, dow, avg(detrended) AS seasonal
          FROM detr GROUP BY event_type, dow)
        SELECT t.event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               round(var_samp(t.v), 2) AS var_total,
               round(var_samp(t.v - t.trend), 2) AS var_detrended,
               round(var_samp(t.v - t.trend - s.seasonal), 2) AS var_residual
        FROM detr t JOIN seas s ON t.event_type = s.event_type AND t.dow = s.dow
        GROUP BY t.event_type
        """,
    )


@register(
    "ts_value_at_risk",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    deltas AS (
      SELECT event_type,
             cents - lag(cents) OVER (PARTITION BY event_type ORDER BY d)
               AS delta
      FROM daily),
    cut AS (
      SELECT event_type,
             quantile_disc(delta, 0.05) AS var95
      FROM deltas WHERE delta IS NOT NULL GROUP BY event_type)
    SELECT d2.event_type, CAST(count(*) AS BIGINT) AS n_days,
           CAST(max(c.var95) AS DOUBLE) / 100 AS var95,
           CAST(floor((2 * sum(CASE WHEN d2.delta <= c.var95 THEN d2.delta END)
                       + count(CASE WHEN d2.delta <= c.var95 THEN 1 END))
                      / (2e0 * count(CASE WHEN d2.delta <= c.var95 THEN 1 END)))
                AS BIGINT) / 1e2 AS expected_shortfall
    FROM deltas d2 JOIN cut c ON d2.event_type = c.event_type
    WHERE d2.delta IS NOT NULL
    GROUP BY d2.event_type
    """,
)
def ts_value_at_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical Value-at-Risk and Expected Shortfall per series: VaR95 =
    the 5th-percentile day-over-day change (discrete quantile over exact
    integer-cents deltas), ES = the mean of the tail at or below it —
    the risk pair every financial/ops dashboard reports, and a worked
    example of the cutpoint-join pattern: the quantile aggregates to a
    |series|-row table that broadcasts back for the conditional tail
    mean, so the second pass stays map-side over the DAILY grain. The
    quantile sketch runs in its exactness regime (Spark side).

    Cent quantization is done in EXACT INTEGER space (round 14 — found
    by the first full-surface sf0.1 mirror): the tail mean can land
    exactly on a half-cent (sf0.1 signup tail: avg of 2 deltas =
    -461410.5 cents), where round(avg/100, 2) is precisely the
    Spark-BigDecimal-vs-DuckDB-scaled-double divergence SURVEY §5.3
    bans. ES cents = floor((2s + c) / (2c)) — half-up-toward-+inf over
    exact integers, identical on both engines; var95 needs only the
    single exact division (it IS a cent-grid element)."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
        deltas AS (
          SELECT event_type,
                 cents - lag(cents) OVER (PARTITION BY event_type ORDER BY d)
                   AS delta
          FROM daily),
        cut AS (
          SELECT event_type,
                 approx_percentile(delta, 0.05, 1000000) AS var95
          FROM deltas WHERE delta IS NOT NULL GROUP BY event_type)
        SELECT d2.event_type, CAST(count(*) AS BIGINT) AS n_days,
               CAST(max(c.var95) AS DOUBLE) / 100 AS var95,
               CAST(floor((2 * sum(CASE WHEN d2.delta <= c.var95 THEN d2.delta END)
                           + count(CASE WHEN d2.delta <= c.var95 THEN 1 END))
                          / (2e0 * count(CASE WHEN d2.delta <= c.var95 THEN 1 END)))
                    AS BIGINT) / 1e2 AS expected_shortfall
        FROM deltas d2 JOIN cut c ON d2.event_type = c.event_type
        WHERE d2.delta IS NOT NULL
        GROUP BY d2.event_type
        """,
    )


@register(
    "ts_burstiness_fano",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
             count(*) AS n
      FROM events GROUP BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))),
    fano AS (
      SELECT event_type, round(var_samp(CAST(n AS DOUBLE)) / avg(n), 6)
               AS fano_factor
      FROM hourly GROUP BY event_type),
    gaps AS (
      SELECT event_type,
             CAST(epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id) AS DOUBLE) AS g
      FROM events),
    burst AS (
      SELECT event_type,
             round((stddev_samp(g) - avg(g)) / (stddev_samp(g) + avg(g)), 6)
               AS burstiness
      FROM gaps WHERE g IS NOT NULL GROUP BY event_type)
    SELECT f.event_type, f.fano_factor, b.burstiness
    FROM fano f JOIN burst b ON f.event_type = b.event_type
    """,
)
def ts_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival-process character per series, two classic indices: the
    Fano factor (variance/mean of hourly counts — 1 for a Poisson
    process, >1 overdispersed/bursty) and the Goh–Barabási burstiness
    coefficient (σ−μ)/(σ+μ) of inter-arrival times (−1 periodic,
    0 Poisson, →1 bursty). Together they say whether a feed needs
    burst-absorbing capacity or can be provisioned for the mean. Both
    are one-pass moment aggregates over the hourly rollup / the lag
    window's gap stream — the same shapes ts_gap_distribution already
    pays."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS hr, count(*) AS n
          FROM events GROUP BY event_type, date_trunc('hour', ts)),
        fano AS (
          SELECT event_type, round(var_samp(CAST(n AS DOUBLE)) / avg(n), 6)
                   AS fano_factor
          FROM hourly GROUP BY event_type),
        gaps AS (
          SELECT event_type,
                 CAST(unix_micros(ts) - lag(unix_micros(ts)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY unix_micros(ts), event_id) AS DOUBLE) AS g
          FROM events),
        burst AS (
          SELECT event_type,
                 round((stddev_samp(g) - avg(g)) / (stddev_samp(g) + avg(g)), 6)
                   AS burstiness
          FROM gaps WHERE g IS NOT NULL GROUP BY event_type)
        SELECT f.event_type, f.fano_factor, b.burstiness
        FROM fano f JOIN burst b ON f.event_type = b.event_type
        """,
    )


@register(
    "ts_out_of_order_audit",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id,
             CASE WHEN epoch_us(ts) < max(epoch_us(ts)) OVER (
                    PARTITION BY user_id ORDER BY event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS late,
             epoch_us(ts) - max(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS skew_us
      FROM events)
    SELECT CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(late) AS BIGINT) AS n_out_of_order,
           round(CAST(sum(late) AS DOUBLE) / count(*), 6) AS late_frac,
           CAST(COALESCE(min(CASE WHEN late = 1 THEN skew_us END), 0) AS BIGINT)
             AS worst_skew_us
    FROM ordered
    """,
)
def ts_out_of_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit: within each producer's append sequence
    (event_id order), count events whose event time runs BEHIND the
    running maximum — the measured disorder that sizes a streaming
    watermark (stream_watermark_late's delay should cover worst_skew;
    this op supplies the number instead of a guess). One running-max
    window per producer partition + a global roll-up; at 100 TB the
    audit is a side-output of normal ingest, not a separate job."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH ordered AS (
          SELECT user_id, event_id,
                 CASE WHEN unix_micros(ts) < max(unix_micros(ts)) OVER (
                        PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                      THEN 1 ELSE 0 END AS late,
                 unix_micros(ts) - max(unix_micros(ts)) OVER (
                   PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS skew_us
          FROM events)
        SELECT CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(late) AS BIGINT) AS n_out_of_order,
               round(CAST(sum(late) AS DOUBLE) / count(*), 6) AS late_frac,
               CAST(COALESCE(min(CASE WHEN late = 1 THEN skew_us END), 0) AS BIGINT)
                 AS worst_skew_us
        FROM ordered
        """,
    )


@register(
    "ts_runs_test",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    moves AS (
      SELECT event_type, d,
             CASE WHEN cents > lag(cents) OVER w THEN 1
                  WHEN cents < lag(cents) OVER w THEN 0 END AS up
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
    runs AS (
      SELECT event_type, up,
             CASE WHEN up <> lag(up) OVER (PARTITION BY event_type ORDER BY d)
                    OR lag(up) OVER (PARTITION BY event_type ORDER BY d) IS NULL
                  THEN 1 ELSE 0 END AS run_start
      FROM (SELECT event_type, d, up FROM moves WHERE up IS NOT NULL) x),
    stats AS (
      SELECT event_type,
             CAST(sum(run_start) AS BIGINT) AS n_runs,
             CAST(sum(up) AS BIGINT) AS n_up,
             CAST(count(*) - sum(up) AS BIGINT) AS n_down
      FROM runs GROUP BY event_type)
    SELECT event_type, n_runs, n_up, n_down,
           round(1 + 2.0 * n_up * n_down / (n_up + n_down), 4) AS expected_runs,
           round((n_runs - (1 + 2.0 * n_up * n_down / (n_up + n_down)))
                 / sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
                        / ((n_up + n_down) * (n_up + n_down) * (n_up + n_down - 1))),
                 4) AS z_score
    FROM stats WHERE n_up > 0 AND n_down > 0
    """,
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test on the daily up/down move sequence per
    series: observed runs vs the expectation under randomness, z-scored —
    the nonparametric screen for momentum (too few runs) or mean
    reversion (too many) that needs NO distributional assumption. Moves
    come from exact integer-cents comparisons; run boundaries are the
    gaps-and-islands lag trick; the closed-form moments are exact
    integer arithmetic until the final normalization. All windows ride
    the series-partitioned DAILY grain."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS d,
                 CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
          FROM events GROUP BY event_type, CAST(ts AS DATE)),
        moves AS (
          SELECT event_type, d,
                 CASE WHEN cents > lag(cents) OVER w THEN 1
                      WHEN cents < lag(cents) OVER w THEN 0 END AS up
          FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        runs AS (
          SELECT event_type, up,
                 CASE WHEN up <> lag(up) OVER (PARTITION BY event_type ORDER BY d)
                        OR lag(up) OVER (PARTITION BY event_type ORDER BY d) IS NULL
                      THEN 1 ELSE 0 END AS run_start
          FROM (SELECT event_type, d, up FROM moves WHERE up IS NOT NULL) x),
        stats AS (
          SELECT event_type,
                 CAST(sum(run_start) AS BIGINT) AS n_runs,
                 CAST(sum(up) AS BIGINT) AS n_up,
                 CAST(count(*) - sum(up) AS BIGINT) AS n_down
          FROM runs GROUP BY event_type)
        SELECT event_type, n_runs, n_up, n_down,
               round(CAST(1 + 2.0 * n_up * n_down / (n_up + n_down) AS DOUBLE), 4)
                 AS expected_runs,
               round((n_runs - (1 + 2.0 * n_up * n_down / (n_up + n_down)))
                     / sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
                            / ((n_up + n_down) * (n_up + n_down) * (n_up + n_down - 1))),
                     4) AS z_score
        FROM stats WHERE n_up > 0 AND n_down > 0
        """,
    )


@register(
    "ts_weekday_weekend_lift",
    oracle="""
    WITH tagged AS (
      SELECT event_type,
             CASE WHEN (dayofweek(ts) + 6) % 7 >= 5 THEN 'weekend'
                  ELSE 'weekday' END AS day_kind,
             value
      FROM events),
    cells AS (
      SELECT event_type, day_kind, count(*) AS n, avg(value) AS mean_v
      FROM tagged GROUP BY event_type, day_kind)
    SELECT event_type,
           CAST(max(CASE WHEN day_kind = 'weekday' THEN n END) AS BIGINT)
             AS n_weekday,
           CAST(max(CASE WHEN day_kind = 'weekend' THEN n END) AS BIGINT)
             AS n_weekend,
           round(max(CASE WHEN day_kind = 'weekday' THEN mean_v END), 4)
             AS mean_weekday,
           round(max(CASE WHEN day_kind = 'weekend' THEN mean_v END), 4)
             AS mean_weekend,
           round(max(CASE WHEN day_kind = 'weekend' THEN mean_v END)
                 / max(CASE WHEN day_kind = 'weekday' THEN mean_v END), 6)
             AS weekend_lift
    FROM cells GROUP BY event_type
    """,
)
def ts_weekday_weekend_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday/weekend behavioral split per series with the weekend lift
    ratio — the first segmentation every ops dashboard applies to a
    business-rhythm series, and the sanity anchor for
    ts_seasonality_strength's variance-share number. Weekday index uses
    the Monday-0 normalization both engines share (Saturday/Sunday are
    indices 5–6 under BOTH Spark's dayofweek+5 and DuckDB's
    dayofweek+6 maps). One conditional aggregate, one |series|-row
    pivot."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH tagged AS (
          SELECT event_type,
                 CASE WHEN (dayofweek(ts) + 5) % 7 >= 5 THEN 'weekend'
                      ELSE 'weekday' END AS day_kind,
                 value
          FROM events),
        cells AS (
          SELECT event_type, day_kind, count(*) AS n, avg(value) AS mean_v
          FROM tagged GROUP BY event_type, day_kind)
        SELECT event_type,
               CAST(max(CASE WHEN day_kind = 'weekday' THEN n END) AS BIGINT)
                 AS n_weekday,
               CAST(max(CASE WHEN day_kind = 'weekend' THEN n END) AS BIGINT)
                 AS n_weekend,
               round(max(CASE WHEN day_kind = 'weekday' THEN mean_v END), 4)
                 AS mean_weekday,
               round(max(CASE WHEN day_kind = 'weekend' THEN mean_v END), 4)
                 AS mean_weekend,
               round(max(CASE WHEN day_kind = 'weekend' THEN mean_v END)
                     / max(CASE WHEN day_kind = 'weekday' THEN mean_v END), 6)
                 AS weekend_lift
        FROM cells GROUP BY event_type
        """,
    )


_CHANGEPOINT_SQL = """
    WITH hourly AS (
      SELECT date_trunc('hour', {ts}) AS h,
             CAST(round(avg(value) * 10000, 0) AS BIGINT) AS v4
      FROM events GROUP BY date_trunc('hour', {ts})),
    c AS (
      SELECT h, v4,
             row_number() OVER (ORDER BY h) AS k,
             sum(v4) OVER (ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
             count(*) OVER () AS n,
             sum(v4) OVER () AS s
      FROM hourly),
    stats AS (
      SELECT h, k, n,
             CAST(cs AS DOUBLE) / k / 10000 AS mean_left,
             CAST(s - cs AS DOUBLE) / (n - k) / 10000 AS mean_right,
             abs(CAST(cs AS DOUBLE) / k - CAST(s - cs AS DOUBLE) / (n - k))
               / 10000 * sqrt(CAST(k AS DOUBLE) * (n - k) / n) AS shift_stat
      FROM c WHERE k < n)
    SELECT h AS split_after, CAST(k AS BIGINT) AS n_left,
           CAST(n - k AS BIGINT) AS n_right,
           round(mean_left, 6) AS mean_left,
           round(mean_right, 6) AS mean_right,
           round(shift_stat, 6) AS shift_stat
    FROM stats
    ORDER BY shift_stat DESC, h
    LIMIT 1
"""


@register(
    "ts_changepoint_mean_shift",
    oracle=_CHANGEPOINT_SQL.format(ts="CAST(ts AS TIMESTAMP)"),
)
def ts_changepoint_mean_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single mean-shift changepoint detection (binary-segmentation first
    split): evaluate every hour boundary k of the hourly mean series and
    pick the split maximizing |mean_left − mean_right|·√(k(n−k)/n) — the
    CUSUM-equivalent scan statistic that locates the level shift
    ts_cusum_drift only flags. Hourly means accumulate in 4-dp
    fixed-point integers so both engines' cumulative sums are exact (the
    same drift-proofing as win_bollinger_bands). Window input is the
    hour grain (|hours| rows, bounded) — the cumulative/total windows
    never see event rows; one TakeOrdered(1) picks the argmax."""
    return sql_q(spark, sf_dir, _CHANGEPOINT_SQL.format(ts="ts"))


_PEAKS_SQL = """
    WITH hourly AS (
      SELECT date_trunc('hour', {ts}) AS h,
             CAST(round(avg(value) * 10000, 0) AS BIGINT) AS v4
      FROM events GROUP BY date_trunc('hour', {ts})),
    nb AS (
      SELECT h, v4,
             lag(v4, 1) OVER (ORDER BY h) AS l1,
             lag(v4, 2) OVER (ORDER BY h) AS l2,
             lead(v4, 1) OVER (ORDER BY h) AS r1,
             lead(v4, 2) OVER (ORDER BY h) AS r2
      FROM hourly)
    SELECT h AS peak_ts, round(CAST(v4 AS DOUBLE) / 10000, 4) AS value,
           round(CAST(v4 - greatest(l1, l2, r1, r2) AS DOUBLE) / 10000, 4)
             AS prominence
    FROM nb
    WHERE l1 IS NOT NULL AND l2 IS NOT NULL
      AND r1 IS NOT NULL AND r2 IS NOT NULL
      AND v4 > l1 AND v4 > l2 AND v4 > r1 AND v4 > r2
    ORDER BY prominence DESC, peak_ts
    LIMIT 10
"""


@register(
    "ts_peak_detection",
    oracle=_PEAKS_SQL.format(ts="CAST(ts AS TIMESTAMP)"),
)
def ts_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-maximum peak detection on the hourly mean series: an hour is
    a peak when it strictly exceeds its two neighbors on each side
    (5-point window), ranked by a simple prominence (height above the
    tallest of those neighbors) — the alarm-worthy-spike picker that
    complements ts_anomaly's z-score (which flags deviations, not apexes).
    Fixed-point hourly means (the win_bollinger_bands convention) keep
    the strict inequalities engine-exact. One hour-grain aggregation,
    lag/lead over the bounded hour series, TakeOrdered(10)."""
    return sql_q(spark, sf_dir, _PEAKS_SQL.format(ts="ts"))


_SPRT_SQL = """
    WITH daily AS (
      SELECT CAST(extract(day FROM ts) AS INT) AS d,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(count(*) FILTER (WHERE event_type = 'purchase')
                  AS DOUBLE) AS k
      FROM events GROUP BY 1),
    cum AS (
      SELECT d, n, k,
             sum(k * ln(CAST(0.22 AS DOUBLE) / CAST(0.18 AS DOUBLE))
                 + (n - k) * ln(CAST(0.78 AS DOUBLE) / CAST(0.82 AS DOUBLE)))
               OVER (ORDER BY d
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS llr
      FROM daily)
    SELECT d AS day, CAST(n AS BIGINT) AS n_trials,
           CAST(k AS BIGINT) AS n_hits,
           round(llr, 6) AS cum_llr,
           CASE WHEN llr >= ln(19.0) THEN 'accept_h1'
                WHEN llr <= -ln(19.0) THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM cum ORDER BY d
"""


@register("ts_sprt_sequential", oracle=_SPRT_SQL)
def ts_sprt_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test on the daily purchase
    rate (H0: p=0.18 vs H1: p=0.22, α=β=0.05 → log-boundaries ±ln 19):
    the cumulative log-likelihood ratio per day plus the decision the
    experimenter could have taken THAT day — the 'when could we have
    stopped the A/B test' audit, replayed over history in one query.
    Day-grain rollup first (one conditional aggregate), then a running
    sum over ≤31 rows: the sequential analysis itself is free; the only
    corpus-scale work is the first map-side-combinable pass. The ratio
    literals are CAST to DOUBLE before dividing — bare 0.22/0.18 parses
    as DECIMAL and the two engines round decimal division at different
    scales (found via a 2e-3 cum_llr drift in the mirror)."""
    return sql_q(spark, sf_dir, _SPRT_SQL)


def _xcorr_sql(tscol: str, dadd: str) -> str:
    """Shared template; ``dadd`` is the engine's date-shift spelling
    (Spark ``date_add(x.d, l.lag)``, DuckDB ``x.d + l.lag``)."""
    return f"""
    WITH daily AS (
      SELECT CAST({tscol} AS DATE) AS d,
             CAST(count(*) FILTER (WHERE event_type = 'click')
                  AS BIGINT) AS a,
             CAST(count(*) FILTER (WHERE event_type = 'purchase')
                  AS BIGINT) AS b
      FROM events GROUP BY 1),
    lags AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS l(lag)),
    pairs AS (
      SELECT l.lag, x.a AS xa, y.b AS yb
      FROM lags l
      CROSS JOIN daily x
      JOIN daily y ON y.d = {dadd}),
    stats AS (
      SELECT lag, count(*) AS n,
             sum(xa) AS sa, sum(yb) AS sb, sum(xa * yb) AS sab,
             sum(xa * xa) AS saa, sum(yb * yb) AS sbb
      FROM pairs GROUP BY lag)
    SELECT CAST(lag AS INT) AS lag,
           CAST(n AS BIGINT) AS n_days,
           round(CAST(n * sab - sa * sb AS DOUBLE)
                 / sqrt(CAST(n * saa - sa * sa AS DOUBLE)
                        * CAST(n * sbb - sb * sb AS DOUBLE)), 6) AS xcorr
    FROM stats
    ORDER BY lag
    """


@register(
    "ts_cross_correlation",
    oracle=_xcorr_sql(EVENTS_TS_US, "x.d + l.lag"),
)
def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily click series and the
    daily purchase series (lag 0–3 days): does click volume LEAD
    purchase volume, and by how many days — the lead-lag scan run
    before any 'marketing drives revenue' claim, and the distributed
    form of ts_autocorr_lag generalized to two series. Pearson r comes
    out of the closed-form integer sums (counts are exact int64, the
    single sqrt/division at lag grain), so the oracle matches exactly.

    Scale shape (100 TB): ONE map-side-combinable conditional aggregate
    collapses the corpus to day grain; the 4-lag self-join and the
    correlation arithmetic run on ≤31-row inputs — the lag sweep is free
    no matter the corpus size."""
    return sql_q(spark, sf_dir, _xcorr_sql("ts", "date_add(x.d, l.lag)"))


_HURST_SQL = """
    WITH d AS (SELECT date_trunc('day', ts) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY date_trunc('day', ts)),
    r AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS rn FROM d),
    ws AS (SELECT w FROM (VALUES (4), (8), (16)) AS t(w)),
    blk AS (
      SELECT ws.w, CAST(floor((r.rn - 1) / ws.w) AS BIGINT) AS b, r.rn, r.cents
      FROM r CROSS JOIN ws),
    bs AS (
      SELECT w, b FROM blk GROUP BY w, b HAVING count(*) = max(w)),
    kept AS (
      SELECT blk.w, blk.b, blk.rn, blk.cents
      FROM blk JOIN bs ON blk.w = bs.w AND blk.b = bs.b),
    bm AS (
      SELECT w, b, avg(cents) AS mu, stddev_pop(cents) AS s
      FROM kept GROUP BY w, b),
    z AS (
      SELECT kept.w, kept.b,
             sum(kept.cents - bm.mu)
               OVER (PARTITION BY kept.w, kept.b ORDER BY kept.rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS zt
      FROM kept JOIN bm ON kept.w = bm.w AND kept.b = bm.b),
    rng AS (SELECT w, b, max(zt) - min(zt) AS rg FROM z GROUP BY w, b),
    rsj AS (
      SELECT rng.w, avg(rng.rg / bm.s) AS rs_mean,
             CAST(count(*) AS BIGINT) AS n_blocks
      FROM rng JOIN bm ON rng.w = bm.w AND rng.b = bm.b
      WHERE bm.s > 0
      GROUP BY rng.w),
    h AS (
      SELECT covar_pop(ln(w * 1e0), ln(rs_mean))
               / var_pop(ln(w * 1e0)) AS hurst
      FROM rsj)
    SELECT CAST((SELECT count(*) FROM r) AS BIGINT) AS n_days,
           round(max(CASE WHEN w = 4 THEN rs_mean END), 6) AS rs_w4,
           round(max(CASE WHEN w = 8 THEN rs_mean END), 6) AS rs_w8,
           round(max(CASE WHEN w = 16 THEN rs_mean END), 6) AS rs_w16,
           round(max(h.hurst), 6) AS hurst_exponent
    FROM rsj CROSS JOIN h
    """


@register("ts_hurst_rs", oracle=_HURST_SQL)
def ts_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by classical rescaled-range (R/S) analysis over
    the daily revenue series: for block sizes w ∈ {4,8,16}, each
    complete block contributes R/S = (max−min of the cumulative
    mean-deviation walk) / population std; the Hurst exponent is the
    log-log OLS slope of mean R/S against w (H≈0.5 random walk,
    >0.5 trending/persistent, <0.5 mean-reverting) — the long-memory
    diagnostic behind capacity forecasting. Scale shape: one linear
    day rollup, then EVERYTHING runs on the ≤31-row day grain × 3-size
    literal grid; the cumulative-walk window is partitioned by (w,
    block) and the within-block sum order is pinned by rn, so the
    float walk is engine-identical on integer-cents input.

    The oracle text is the plan: Spark inlines the CTEs, so the events
    day rollup appears at every reference of ``d``, but AQE runs its
    exchange once and reuses it."""
    return sql_q(spark, sf_dir, _HURST_SQL)


_PERM_ENTROPY_SQL = """
    WITH d AS (
      SELECT date_trunc('day', ts) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY date_trunc('day', ts)),
    l AS (
      SELECT day, cents,
             lag(cents, 2) OVER (ORDER BY day) AS a,
             lag(cents, 1) OVER (ORDER BY day) AS b
      FROM d),
    pat AS (
      SELECT concat(CASE WHEN a < b THEN '<' WHEN a = b THEN '=' ELSE '>' END,
                    CASE WHEN b < cents THEN '<' WHEN b = cents THEN '='
                         ELSE '>' END,
                    CASE WHEN a < cents THEN '<' WHEN a = cents THEN '='
                         ELSE '>' END) AS pattern
      FROM l WHERE a IS NOT NULL),
    pc AS (
      SELECT pattern, CAST(count(*) AS BIGINT) AS n FROM pat
      GROUP BY pattern),
    tot AS (SELECT sum(n) AS t FROM pc),
    h AS (
      SELECT sum(-(n * 1e0 / t) * ln(n * 1e0 / t)) AS ent,
             CAST(count(*) AS BIGINT) AS n_patterns
      FROM pc CROSS JOIN tot)
    SELECT n_patterns,
           CAST((SELECT t FROM tot) AS BIGINT) AS n_windows,
           round(ent, 6) AS perm_entropy,
           round(ent / ln(6e0), 6) AS normalized_pe,
           CAST(ent / ln(6e0) < 0.9 AS BOOLEAN) AS structured_signal
    FROM h
"""


@register("ts_permutation_entropy", oracle=_PERM_ENTROPY_SQL)
def ts_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (Bandt–Pompe, order 3) of the daily revenue
    series: every 3-day window is classified by the ordinal pattern of
    its comparisons (the '<=>' triple encodes all rank orders including
    ties exactly — integer cents make ties well-defined), then Shannon
    entropy over the ≤13 observed pattern frequencies, normalized by
    ln(3!) — the standard complexity-vs-randomness score regime
    detectors run on metric streams (white noise → 1.0, monotone trend
    → 0). Scale shape: one linear day rollup, two lags on the ≤31-row
    day grain, then constant-size pattern arithmetic; at 100 TB the
    only data-sized stage is the first groupBy."""
    return sql_q(spark, sf_dir, _PERM_ENTROPY_SQL)


# --------------------------------------------------------------------------
# Round 7 — time-series additions (SURVEY.md §2.16)
# --------------------------------------------------------------------------

_DAY_CENTS = """SELECT date_trunc('day', ts) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY date_trunc('day', ts)"""


_LJUNG_SQL = f"""
    WITH d AS ({_DAY_CENTS}),
    r AS (SELECT cents, row_number() OVER (ORDER BY day) AS rn FROM d),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(round(avg(cents)) AS BIGINT) AS mu FROM r),
    dev AS (SELECT r.rn, r.cents - st.mu AS dv FROM r CROSS JOIN st),
    den AS (SELECT sum(dv * dv) AS s0 FROM dev),
    ac AS (
      SELECT k.k, sum(a.dv * b.dv) AS sk
      FROM (SELECT 1 AS k UNION ALL SELECT 2 UNION ALL SELECT 3
            UNION ALL SELECT 4 UNION ALL SELECT 5 UNION ALL SELECT 6
            UNION ALL SELECT 7) k
      JOIN dev a ON 1 = 1
      JOIN dev b ON b.rn = a.rn + k.k
      GROUP BY k.k),
    q AS (
      SELECT sum((ac.sk * 1e0 / den.s0) * (ac.sk * 1e0 / den.s0)
                 / (st.n - ac.k)) AS qsum
      FROM ac CROSS JOIN den CROSS JOIN st)
    SELECT st.n AS n_days,
           CAST(7 AS BIGINT) AS n_lags,
           round(st.n * (st.n + 2) * q.qsum, 6) AS ljung_box_q,
           CAST(st.n * (st.n + 2) * q.qsum > 14.067140449340169 AS BOOLEAN)
             AS reject_white_noise_5pct
    FROM st CROSS JOIN q
"""


@register("ts_ljung_box", oracle=_LJUNG_SQL)
def ts_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau white-noise test on daily revenue (lags
    1..7): Q = n(n+2) * sum r_k^2/(n-k) against the chi-square(7) 5%
    critical value 14.0671 — the 'is there ANY autocorrelation worth
    modeling' gate run before fitting seasonal forecasts. Determinism:
    the series is demeaned on an INTEGER grid (mu = round(mean cents)),
    so every autocovariance numerator and the variance denominator are
    exact int64 sums — the float division happens once per lag on
    identical integers in both engines. Scale shape: one linear day
    rollup; the 7 lag products are self-joins on the <=31-row day
    grain; everything else is 1-row arithmetic."""
    return sql_q(spark, sf_dir, _LJUNG_SQL)


_DFT_SQL = f"""
    WITH d AS ({_DAY_CENTS}),
    r AS (SELECT cents, row_number() OVER (ORDER BY day) AS rn FROM d),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(round(avg(cents)) AS BIGINT) AS mu FROM r),
    dev AS (SELECT r.rn, r.cents - st.mu AS dv FROM r CROSS JOIN st),
    grid AS (
      SELECT p FROM (SELECT 2 AS p UNION ALL SELECT 3 UNION ALL SELECT 4
                     UNION ALL SELECT 5 UNION ALL SELECT 6
                     UNION ALL SELECT 7) g),
    terms AS (
      SELECT g.p,
             sum(dev.dv * CAST(round(cos(6.283185307179586 *
                   (dev.rn % g.p) / g.p) * 1000000) AS BIGINT)) AS cs,
             sum(dev.dv * CAST(round(sin(6.283185307179586 *
                   (dev.rn % g.p) / g.p) * 1000000) AS BIGINT)) AS sn
      FROM grid g CROSS JOIN dev
      GROUP BY g.p),
    pw AS (
      SELECT t.p,
             (t.cs * 1e0 / 1000000 / st.n) * (t.cs * 1e0 / 1000000 / st.n)
             + (t.sn * 1e0 / 1000000 / st.n) * (t.sn * 1e0 / 1000000 / st.n)
               AS power
      FROM terms t CROSS JOIN st),
    tot AS (SELECT sum(power) AS tp FROM pw)
    SELECT pw.p AS period_days,
           round(pw.power / 10000e0, 6) AS power_hundredths,
           round(pw.power / tot.tp, 6) AS power_share,
           CAST(pw.power = (SELECT max(power) FROM pw) AS BOOLEAN)
             AS dominant_period
    FROM pw CROSS JOIN tot
    ORDER BY period_days
"""


@register("ts_dft_power_topk", oracle=_DFT_SQL)
def ts_dft_power_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goertzel-style single-bin DFT power at candidate periods 2..7
    days over demeaned daily revenue — the periodicity detector behind
    'is this metric weekly-seasonal' (period 7 dominating = weekday
    cycle), reported as per-period power share + dominant-period flag.
    Determinism: cos/sin weights are quantized to a 1e-6 integer grid
    BEFORE multiplication (the ml_naive_bayes_langid _LLQ discipline)
    and the deviations are integer cents, so each bin's correlation
    sums are exact int64 in both engines; arguments hit the same <=7
    rational angle classes (rn mod p) so the quantized weights agree.
    Scale shape: one linear day rollup; the 6-period grid crosses the
    <=31-row day grain (<=186 product rows), then 1-row arithmetic."""
    return sql_q(spark, sf_dir, _DFT_SQL)


_BINSEG_SQL = f"""
    WITH d AS ({_DAY_CENTS}),
    r AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS rn FROM d),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n, sum(cents) AS s,
             sum(CAST(cents AS DECIMAL(18,0)) * cents) AS ss FROM r),
    pre AS (
      SELECT rn, day,
             sum(cents) OVER (ORDER BY rn
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS ps,
             sum(CAST(cents AS DECIMAL(18,0)) * cents) OVER (ORDER BY rn
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                               AND CURRENT ROW) AS pss
      FROM r),
    cand AS (
      SELECT p.rn, p.day,
             (p.pss - p.ps * 1e0 * p.ps / p.rn)
             + ((t.ss - p.pss)
                - (t.s - p.ps) * 1e0 * (t.s - p.ps) / (t.n - p.rn))
               AS sse_split,
             t.ss - t.s * 1e0 * t.s / t.n AS sse_total,
             p.ps * 1e0 / p.rn AS mean_left,
             (t.s - p.ps) * 1e0 / (t.n - p.rn) AS mean_right
      FROM pre p CROSS JOIN tot t
      WHERE p.rn < t.n)
    SELECT CAST(rn AS BIGINT) AS split_after_rn,
           day AS split_day,
           round(mean_left / 100, 2) AS mean_before_dollars,
           round(mean_right / 100, 2) AS mean_after_dollars,
           round(sse_total / 1e8, 4) AS sse_total_m,
           round(sse_split / 1e8, 4) AS sse_split_m,
           round(1e0 - sse_split / sse_total, 6) AS sse_reduction_share,
           CAST(1e0 - sse_split / sse_total > 0.3 AS BOOLEAN)
             AS changepoint_detected
    FROM cand
    ORDER BY sse_split, rn
    LIMIT 1
"""


@register("ts_changepoint_binseg", oracle=_BINSEG_SQL)
def ts_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One binary-segmentation step: the single split of the daily
    revenue series that minimizes SSE_left + SSE_right (computed in
    closed form from prefix sums — no per-candidate rescan), with the
    before/after means and the variance-explained share; detection
    fires when the split removes >30% of total SSE. This is the inner
    step every recursive changepoint detector (binseg / PELT-style)
    repeats. Determinism: prefix sums are exact int64 over integer
    cents and sums of squares are exact DECIMAL(38,0) (round 10: int64
    squares overflowed at the 100x corpus, where daily cents reach
    ~1e10 and their squares ~1e20 — decimal keeps every candidate SSE
    exact and order-independent on both engines to 38 digits); argmin
    ties break on rn. Scale shape: one
    linear day rollup, two running-sum windows on the <=31-row day
    grain, LIMIT 1."""
    return sql_q(spark, sf_dir, _BINSEG_SQL)


_M4_SQL = """
    WITH x AS (
      SELECT CAST(event_id % 16 AS BIGINT) AS bucket,
             event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(cents) AS min_cents,
           max(cents) AS max_cents,
           min_by(cents, event_id) AS first_cents,
           max_by(cents, event_id) AS last_cents
    FROM x GROUP BY bucket
    ORDER BY bucket
"""


@register(
    "ts_downsample_m4",
    oracle="""
    WITH x AS (
      SELECT CAST(event_id % 16 AS BIGINT) AS bucket,
             event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(cents) AS min_cents,
           max(cents) AS max_cents,
           min_by(cents, event_id) AS first_cents,
           max_by(cents, event_id) AS last_cents
    FROM x GROUP BY bucket
    ORDER BY bucket
    """,
)
def ts_downsample_m4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 visual downsampling (Jugel et al., VLDB 2014): per pixel-bucket
    the min / max / first / last of the series — the four values that
    make a line chart of N points pixel-identical to the full series,
    and the standard server-side reduction every monitoring stack runs
    before shipping points to a browser. Buckets key on event_id mod 16
    (the corpus's arrival sequence); first/last are min_by/max_by on
    the unique event_id, so every aggregate is tie-free and integer-
    exact on both engines. Scale shape: ONE map-side-combinable groupBy
    carrying 4 int64s + a count per bucket — the shuffle payload is
    O(buckets), not O(rows), exactly how it must behave at 100 TB."""
    return sql_q(spark, sf_dir, _M4_SQL)


_VR_SQL = f"""
    WITH d AS ({_DAY_CENTS}),
    r AS (SELECT cents, row_number() OVER (ORDER BY day) AS rn FROM d),
    d1 AS (
      SELECT b.cents - a.cents AS dv
      FROM r a JOIN r b ON b.rn = a.rn + 1),
    base AS (
      SELECT CAST(count(*) AS BIGINT) AS n1,
             sum(dv) AS s1, sum(dv * dv) AS ss1 FROM d1),
    qs AS (SELECT q FROM (SELECT 2 AS q UNION ALL SELECT 4
                          UNION ALL SELECT 8) g),
    dq AS (
      SELECT qs.q, b.cents - a.cents AS dv
      FROM qs JOIN r a ON 1 = 1
      JOIN r b ON b.rn = a.rn + qs.q),
    aggq AS (
      SELECT q, CAST(count(*) AS BIGINT) AS nq,
             sum(dv) AS sq, sum(dv * dv) AS ssq
      FROM dq GROUP BY q)
    SELECT a.q AS horizon_days,
           a.nq AS n_obs,
           round(((a.ssq * 1e0 / a.nq) - (a.sq * 1e0 / a.nq) * (a.sq * 1e0 / a.nq))
                 / nullif(a.q * ((b.ss1 * 1e0 / b.n1)
                           - (b.s1 * 1e0 / b.n1) * (b.s1 * 1e0 / b.n1)), 0), 6)
             AS variance_ratio,
           CAST(((a.ssq * 1e0 / a.nq) - (a.sq * 1e0 / a.nq) * (a.sq * 1e0 / a.nq))
                / nullif(a.q * ((b.ss1 * 1e0 / b.n1)
                          - (b.s1 * 1e0 / b.n1) * (b.s1 * 1e0 / b.n1)), 0) > 1
                AS BOOLEAN) AS trending_regime
    FROM aggq a CROSS JOIN base b
    ORDER BY horizon_days
"""


@register("ts_variance_ratio", oracle=_VR_SQL)
def ts_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance-ratio test on daily revenue: VR(q) =
    Var(q-day change) / (q * Var(1-day change)) for q in {2, 4, 8} — a
    random walk sits at 1, persistence/trending pushes above, mean
    reversion below; the standard complement to ts_hurst_rs run on the
    same series (two independent long-memory diagnostics should agree).
    Overlapping q-day differences (the Lo-MacKinlay estimator's
    standard choice). Determinism: every difference, sum and sum of
    squares is exact int64 on integer cents; the variance algebra runs
    once per q on identical integers in both engines. A perfectly
    deterministic series (zero 1-day variance) yields NULL ratios via
    NULLIF rather than an ANSI divide-by-zero abort. Scale shape: one
    linear day rollup; the lag joins are on the <=31-row day grain."""
    return sql_q(spark, sf_dir, _VR_SQL)


_STL_SQL = f"""
    WITH d AS ({_DAY_CENTS}),
    r AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS rn FROM d),
    tr AS (
      SELECT day, rn, cents,
             avg(cents * 1e0) OVER (ORDER BY rn
                                    ROWS BETWEEN 3 PRECEDING
                                             AND 3 FOLLOWING) AS trend,
             count(*) OVER (ORDER BY rn
                            ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS nw
      FROM r),
    det AS (
      SELECT day, rn, cents, trend, cents - trend AS detr
      FROM tr WHERE nw = 7),
    seas AS (
      SELECT rn % 7 AS bucket, avg(detr) AS s
      FROM det GROUP BY rn % 7)
    SELECT det.day,
           round(det.cents / 100e0, 2) AS actual_dollars,
           round(det.trend / 100e0, 2) AS trend_dollars,
           round(seas.s / 100e0, 2) AS seasonal_dollars,
           round((det.detr - seas.s) / 100e0, 2) AS residual_dollars
    FROM det JOIN seas ON seas.bucket = det.rn % 7
    ORDER BY det.day
"""


@register("ts_stl_decompose_additive", oracle=_STL_SQL)
def ts_stl_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive trend/seasonal/residual decomposition of daily revenue
    (the classical-decomposition core of STL): trend = centered 7-day
    moving average (full windows only), seasonal = mean of the
    detrended series per weekday slot (rn mod 7 — the
    ts_seasonality_strength bucket convention, no dialect-specific
    dayofweek), residual = the rest — the per-day breakdown behind
    every 'is this dip seasonal or real' question. Integer cents in,
    one float division per output cell, rounded to display grain on
    both engines. Scale shape: one linear day rollup, then windows and
    the 7-row seasonal profile on the <=31-row day grain."""
    return sql_q(spark, sf_dir, _STL_SQL)


_FCEVAL_SQL = f"""
    WITH d AS ({_DAY_CENTS}),
    r AS (SELECT day, cents, row_number() OVER (ORDER BY day) AS rn FROM d),
    j AS (
      SELECT a.day, a.cents AS actual,
             w.cents AS pred_lastweek, n1.cents AS pred_naive1
      FROM r a
      JOIN r w ON w.rn = a.rn - 7
      JOIN r n1 ON n1.rn = a.rn - 1)
    SELECT CAST(count(*) AS BIGINT) AS n_days_scored,
           round(sum(abs(actual - pred_lastweek)) * 1e0
                 / sum(abs(actual)), 6) AS wape_lastweek,
           round(sum(abs(actual - pred_naive1)) * 1e0
                 / sum(abs(actual)), 6) AS wape_naive1,
           round(avg(2e0 * abs(actual - pred_lastweek)
                     / (abs(actual) + abs(pred_lastweek))), 6)
             AS smape_lastweek,
           round(sum(abs(actual - pred_lastweek)) * 1e0
                 / sum(abs(actual - pred_naive1)), 6) AS mase_vs_naive1,
           CAST(sum(abs(actual - pred_lastweek))
                < sum(abs(actual - pred_naive1)) AS BOOLEAN)
             AS lastweek_beats_naive
    FROM j
"""


@register("ts_forecast_eval_naive", oracle=_FCEVAL_SQL)
def ts_forecast_eval_naive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scaffold: the seasonal-naive forecast (same
    weekday last week) scored against actuals with WAPE, sMAPE and
    MASE relative to the naive-1 (yesterday) baseline — the metric
    trio every forecasting platform reports, and the bar any real
    model must clear (MASE < 1 = beats persistence). All numerators
    and denominators are exact int64 sums of absolute cent
    differences; only the final ratios are floats. Scale shape: one
    linear day rollup; the two lag joins run on the <=31-row day
    grain."""
    return sql_q(spark, sf_dir, _FCEVAL_SQL)
