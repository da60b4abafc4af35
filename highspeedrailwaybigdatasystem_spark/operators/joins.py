"""Join operators (SURVEY.md §2.3).

Scale notes (100 TB design intent, per-operator):

* Dimension tables (region/nation/customer-at-small-sf/part/supplier) are
  broadcast — no shuffle of the fact side. ``join_broadcast`` pins this with
  an explicit hint; the star join relies on size-based selection + AQE.
* Fact-fact joins (lineitem ⋈ orders) shuffle on the join key; at cluster
  scale these benefit from bucketing both tables by orderkey — the join is
  written key-first so Catalyst can use either strategy.
* Non-equi joins are kept bounded: the theta join pre-filters the probe side
  to a sliver before the BroadcastNestedLoopJoin; the interval self-join
  carries an equi key (user_id) so Spark plans a shuffled equi join with a
  range residual, not a cartesian product.
* The as-of join is expressed as a window ``last(..., ignoreNulls)`` over the
  event stream — one shuffle by user, no join at all; this is the idiomatic
  Spark formulation and scales linearly.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import plan_memo, register
from ._util import EVENTS_TS_US, money, sql_q, t


# --------------------------------------------------------------------------
# join_multiway — the flagship: 5-way star join, TPC-H Q5 shape
# --------------------------------------------------------------------------
@register(
    "join_multiway",
    oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
@plan_memo
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation for one region and one order year.

    Plan shape at scale: lineitem⋈orders is the only big shuffle;
    nation/region are pinned broadcasts (fixed 25/5-row tables); customer
    is NOT hinted (round 10) — it scales with the corpus, so its join
    strategy must follow measured size: the planner's accurate parquet
    stats broadcast it at every test tier (plan unchanged, pinned by
    tests/test_plans.py), while at 100 TB customer⋈orders correctly
    becomes the second fact shuffle instead of a forced-broadcast OOM.
    Bench headline op — one SQL text (see ``sql_q``).
    """
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT /*+ BROADCAST(nation), BROADCAST(region) */
               n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
        """,
    )


@register(
    "join_broadcast",
    oracle="""
    SELECT p_brand,
           count(*) AS item_cnt,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_size = 1
    GROUP BY p_brand
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact × dim equi join with an explicit broadcast hint — on a
    PRE-FILTERED dim. Round 15 (broadcast_lint's first full measurement):
    the original exhibit broadcast the WHOLE part table, which is
    corpus-scaled — |part| = 20 M rows at sf100, the same cluster-fatal
    class as the r14 tpch_q02 find; the lint flagged it against its own
    declared 1/250 fraction (actual: 1.0). The honest version of the
    pattern a 100 TB user should copy is "broadcast the dim you have
    already cut down": p_size = 1 keeps ~2% of part (measured 38/2000 at
    sf0.01), the hint then pins a genuinely selectivity-bounded build
    side, and the filter itself pushes into the part scan. Declared
    bound: SELECTIVITY_BOUNDS['join_broadcast'] = ('part', 0.03),
    machine-checked by tools/broadcast_lint.py --measure each round."""
    lineitem = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").where(F.col("p_size") == 1)
    return (
        lineitem.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("item_cnt"),
            money(F.sum("l_extendedprice")).alias("sum_price"),
        )
    )


@register(
    "join_shuffle",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large equi join; Spark picks sort-merge/shuffle-hash (AQE may demote
    to broadcast at small sf — semantics identical)."""
    lineitem = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("cnt"), money(F.sum("l_quantity")).alias("sum_qty"))
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, count(o_orderkey) AS urgent_cnt
    FROM customer
    LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') u
      ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every customer with its count of URGENT orders, including zeros
    (count(key) over the null-extended side)."""
    customer = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return (
        customer.join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("urgent_cnt"))
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT coalesce(c.k, s.k) AS nationkey,
           coalesce(c.cust_cnt, 0) AS cust_cnt,
           coalesce(s.supp_cnt, 0) AS supp_cnt
    FROM (SELECT c_nationkey AS k, count(*) AS cust_cnt FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS k, count(*) AS supp_cnt FROM supplier GROUP BY 1) s
    ON c.k = s.k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer rollup of customer vs supplier presence per nation.
    Aggregating before the join keeps both sides tiny (pre-agg pushdown by
    hand — at 100 TB this is the difference between joining rows and keys)."""
    cust = (
        t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cust_cnt"))
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("supp_cnt"))
    )
    return cust.join(supp, "k", "full").select(
        F.col("k").alias("nationkey"),
        F.coalesce("cust_cnt", F.lit(0)).alias("cust_cnt"),
        F.coalesce("supp_cnt", F.lit(0)).alias("supp_cnt"),
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with at least one urgent order (left-semi ≡ EXISTS)."""
    customer = t(spark, sf_dir, "customer")
    urgent = t(spark, sf_dir, "orders").where(F.col("o_orderpriority") == "1-URGENT")
    return customer.join(
        urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '1995-01-01'
                        AND o_orderdate <  TIMESTAMP '1996-01-01')
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no orders in 1995 (left-anti ≡ NOT EXISTS)."""
    customer = t(spark, sf_dir, "customer")
    o95 = t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    return customer.join(
        o95, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_cross",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded cartesian product of two dimensions (125 rows)."""
    return t(spark, sf_dir, "region").crossJoin(t(spark, sf_dir, "nation")).select(
        "r_name", "n_name"
    )


@register(
    "join_theta_range",
    oracle="""
    SELECT o_orderkey, p_partkey
    FROM (SELECT * FROM orders
          WHERE o_orderkey % 1000 = 0 AND o_orderkey < 600000) o
    JOIN part
      ON p_retailprice BETWEEN o_totalprice / 100 AND o_totalprice / 50
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join: broadcast the SMALL side of a theta join and
    let BroadcastNestedLoopJoin evaluate the range predicate against the
    streamed big side. The probe sliver is bounded BY CONSTRUCTION
    (round 13): the modulo filter alone scales linearly with the corpus,
    which made the BNLJ quadratic in SF — the r13 sweep caught it at
    62.7 s / 146× at the 100× tier (it had been squeaking under the
    watchdog since r2). The added fixed key cap (o_orderkey < 600000, the
    sf0.1 domain — a no-op at every test tier, same pattern as
    llm_ann_recall_eval's probe cap) pins the broadcast side at ~150 rows
    at ANY amplification, so BNLJ work is linear in the streamed side.
    That bounded-side discipline IS the lesson of this exhibit: a theta
    join with two corpus-scaled sides has no good plan — bin it
    (join_range_binned, this op's scale twin) instead."""
    orders = t(spark, sf_dir, "orders").where(
        (F.col("o_orderkey") % 1000 == 0) & (F.col("o_orderkey") < 600000)
    )
    part = t(spark, sf_dir, "part")
    cond = F.col("p_retailprice").between(
        F.col("o_totalprice") / 100, F.col("o_totalprice") / 50
    )
    return F.broadcast(orders).join(part, cond).select("o_orderkey", "p_partkey")


@register(
    "join_skew_salted",
    oracle="""
    WITH skewed AS (
      SELECT CASE WHEN event_id % 2 = 0 THEN 0 ELSE user_id END AS hot_user,
             value
      FROM events)
    SELECT n_name, count(*) AS cnt, round(sum(value), 2) AS value_sum
    FROM skewed JOIN nation ON hot_user % 25 = n_nationkey
    GROUP BY n_name
    """,
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via SALTING: half the fact rows are remapped to
    one hot key (manufactured 50% skew), then the fact side gets a random-
    free deterministic salt (event hash mod S) and the dim side is exploded
    ×S, so the hot key's rows spread over S reducer partitions instead of
    one straggler. This is the manual pattern for engines/joins AQE skew
    handling can't reach (broadcast would dodge the demo, hence the salted
    shuffle join is forced with a merge hint)."""
    SALT = 8
    e = t(spark, sf_dir, "events").select(
        F.when(F.col("event_id") % 2 == 0, F.lit(0))
        .otherwise(F.col("user_id"))
        .alias("hot_user"),
        "value",
        F.pmod(F.xxhash64("event_id"), F.lit(SALT)).alias("salt"),
    )
    nation = t(spark, sf_dir, "nation").select(
        "n_nationkey",
        "n_name",
        F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))).alias("salt_r"),
    )
    joined = e.hint("merge").join(
        nation,
        (F.col("hot_user") % 25 == F.col("n_nationkey"))
        & (F.col("salt") == F.col("salt_r")),
    )
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )


@register(
    "join_self_interval",
    oracle=f"""
    SELECT a.user_id, count(*) AS pair_cnt
    FROM (SELECT user_id, event_id, {EVENTS_TS_US} AS ts_us FROM events) a
    JOIN (SELECT user_id, event_id, {EVENTS_TS_US} AS ts_us FROM events) b
      ON a.user_id = b.user_id
     AND b.ts_us > a.ts_us
     AND b.ts_us <= a.ts_us + INTERVAL 5 MINUTE
    GROUP BY a.user_id
    """,
)
def join_self_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event pairs per user within a 5-minute window (interval self-join).
    The equi key (user_id) makes this a shuffled equi join with a range
    residual — NOT a cartesian product; scales with per-user density."""
    e = t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    a = e.alias("a")
    b = e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("pair_cnt"))
    )


@register(
    "join_asof",
    oracle=f"""
    SELECT event_id,
           last_value(CASE WHEN event_type = 'signup' THEN ts_us END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_signup_ts
    FROM (SELECT event_id, user_id, event_type, {EVENTS_TS_US} AS ts_us FROM events) e
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event tagged with the user's most recent STRICTLY
    PRIOR 'signup' event timestamp. Expressed as a window last(ignoreNulls)
    — one shuffle by user_id, no join; the idiomatic Spark as-of
    (SURVEY.md §2.3 join_asof)."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    signup_ts = F.when(F.col("event_type") == "signup", F.col("ts"))
    return e.select(
        "event_id",
        F.last(signup_ts, ignorenulls=True).over(w).alias("prev_signup_ts"),
    )


@register(
    "join_range_binned",
    oracle=f"""
    SELECT a.event_type,
           CAST(count(*) AS BIGINT) AS pair_cnt
    FROM events a JOIN events b
      ON a.event_type = b.event_type
     AND a.event_id < b.event_id
     AND abs(a.value - b.value) <= 0.1
    GROUP BY a.event_type
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join accelerated by BINNING — the scale path for |a.v - b.v| <= w
    predicates. A naive range join degenerates to a per-key cartesian
    product; instead values are exploded into their bin and both
    neighbors (3 rows), the join runs as a pure EQUI join on
    (event_type, bin), and the exact band predicate filters residually.
    Bin width = band width guarantees no candidate is missed. Same trick
    DuckDB/Trino apply internally for range joins (IEJoin-family);
    Spark's SQL planner has no native range join, so the rewrite is
    explicit here.

    Round-13 sufficient-statistics form (sweep find: 88.5 s cold at 100×
    — per-bin row density grows linearly with the corpus, so id-pair
    candidates grew quadratically): the op COUNTS band pairs, and the
    count is exact arithmetic over (event_type, value) multiplicities —
    cross-value pairs contribute m1·m2 (every id-ordered pair between the
    two groups, counted once under a_val < b_val), equal-value pairs
    contribute m·(m-1)/2 (ids are unique). The banded self-join now runs
    over DISTINCT values, whose density per bin does not grow under
    duplicate-heavy amplification; bit-identical doubles group exactly
    and b_val - a_val <= w is the same subtraction the oracle's
    abs() computes. Oracle unchanged (brute-force id-pair self-join).

    Edge parity with the oracle's INNER self-join (r13 ADVICE): NULL
    values are filtered up front (abs(NULL - x) <= w is never true, so
    the oracle never pairs them — without the filter the equal-value arm
    would count a NULL group's m·(m-1)/2), and groups whose total pair
    count is zero are dropped (the oracle emits no row for a type with no
    qualifying pair; the generated corpora never hit either edge, but the
    op must not depend on that)."""
    w = 0.1
    e = (
        t(spark, sf_dir, "events")
        .select("event_type", "value")
        .where(F.col("value").isNotNull())
    )
    cnt = e.groupBy("event_type", "value").agg(F.count(F.lit(1)).alias("m"))
    binz = F.floor(F.col("value") / w)
    a = cnt.select(
        "event_type",
        F.col("value").alias("a_val"),
        F.col("m").alias("a_m"),
        F.explode(F.array(binz - 1, binz, binz + 1)).alias("bin"),
    )
    b = cnt.select(
        "event_type",
        F.col("value").alias("b_val"),
        F.col("m").alias("b_m"),
        binz.alias("bin"),
    )
    cross_pairs = (
        a.join(b, ["event_type", "bin"])
        .where(
            (F.col("a_val") < F.col("b_val"))
            & (F.col("b_val") - F.col("a_val") <= w)
        )
        .groupBy("event_type")
        .agg(F.sum(F.col("a_m") * F.col("b_m")).alias("pc"))
    )
    equal_pairs = cnt.groupBy("event_type").agg(
        F.sum(F.expr("m * (m - 1) DIV 2")).alias("pc")
    )
    return (
        cross_pairs.unionAll(equal_pairs)
        .groupBy("event_type")
        .agg(F.sum("pc").cast("bigint").alias("pair_cnt"))
        .where(F.col("pair_cnt") > 0)
    )


@register(
    "join_asof_nearest",
    oracle=f"""
    WITH marked AS (
        SELECT user_id, event_id, event_type, {EVENTS_TS_US} AS ts_us,
               last_value(CASE WHEN event_type = 'signup' THEN {EVENTS_TS_US} END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY {EVENTS_TS_US}, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_signup,
               first_value(CASE WHEN event_type = 'signup' THEN {EVENTS_TS_US} END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY {EVENTS_TS_US}, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_signup
        FROM events)
    SELECT event_id,
           CAST(CASE
             WHEN prev_signup IS NULL THEN epoch_us(next_signup) - epoch_us(ts_us)
             WHEN next_signup IS NULL THEN epoch_us(ts_us) - epoch_us(prev_signup)
             WHEN epoch_us(ts_us) - epoch_us(prev_signup)
                  <= epoch_us(next_signup) - epoch_us(ts_us)
               THEN epoch_us(ts_us) - epoch_us(prev_signup)
             ELSE epoch_us(next_signup) - epoch_us(ts_us)
           END AS BIGINT) AS gap_us
    FROM marked
    WHERE event_type = 'purchase'
      AND (prev_signup IS NOT NULL OR next_signup IS NOT NULL)
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction AS-OF join: each purchase matched to the
    temporally closest signup of the same user, looking BOTH ways (the
    existing join_asof is backward-only). Realized without any join at
    all: two IGNORE NULLS navigation windows over the single interleaved
    event sequence — one pass, one shuffle on user_id — the idiomatic
    Spark formulation of pandas merge_asof(direction='nearest'). Ties
    (equidistant) break backward."""
    e = t(spark, sf_dir, "events")
    sig = F.when(F.col("event_type") == "signup", F.col("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    marked = e.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros(F.last(sig, ignorenulls=True).over(back)).alias("prev_signup"),
        F.unix_micros(F.first(sig, ignorenulls=True).over(fwd)).alias("next_signup"),
    )
    back_gap = F.col("ts_us") - F.col("prev_signup")
    fwd_gap = F.col("next_signup") - F.col("ts_us")
    gap = (
        F.when(F.col("prev_signup").isNull(), fwd_gap)
        .when(F.col("next_signup").isNull(), back_gap)
        .when(back_gap <= fwd_gap, back_gap)
        .otherwise(fwd_gap)
    )
    return (
        marked.where(
            (F.col("event_type") == "purchase")
            & (F.col("prev_signup").isNotNull() | F.col("next_signup").isNotNull())
        )
        .select("event_id", gap.cast("long").alias("gap_us"))
    )


# Synthetic geo band constants, shared by geo_grid_join / geo_grid_topk and
# their oracles: lat = (md5-int % _GEO_LAT_MOD) / _GEO_COORD_DIV - _GEO_LAT_OFF
# ∈ [-10, 10), lon ∈ [-180, 180). The Python synthesis below is built FROM
# these constants so the completeness bound cannot silently drift from the
# band (r14 ADVICE: the old hardcoded 109.0 km/deg encoded the ±10° band
# invariant invisibly — widening the band to ±20° would have broken the 3×3
# guarantee with no test failing).
_GEO_LAT_MOD, _GEO_COORD_DIV, _GEO_LAT_OFF = 2000, 100.0, 10.0
_GEO_MAX_ABS_LAT = max(_GEO_LAT_OFF, _GEO_LAT_MOD / _GEO_COORD_DIV - _GEO_LAT_OFF)
# Minimum km per degree of LONGITUDE over the band (at |lat| = max): any two
# points within d km differ by < d / _GEO_KM_PER_DEG degrees of longitude, so
# a cell_deg grid's 3×3 neighborhood is complete for radii
# ≤ cell_deg × _GEO_KM_PER_DEG. 111.19 (truncated from π·6371/180 = 111.195)
# keeps the derived bound a hair conservative against the small-angle
# approximation.
_GEO_KM_PER_DEG = 111.19 * math.cos(math.radians(_GEO_MAX_ABS_LAT))
#: Grid tiers the adaptive k-NN may choose from (coarsest = the single-pass
#: 0.5° / 50 km plan; the conf override validates against this tuple).
_GEO_TOPK_TIERS = (0.5, 0.25, 0.125, 0.0625, 0.03125)


@register(
    "geo_grid_join",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               (CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4) AS INT)
                % 2000) / 100.0 - 10 AS lat,
               (CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 5, 4) AS INT)
                % 36000) / 100.0 - 180 AS lon
        FROM customer)
    SELECT a.id AS a_id, b.id AS b_id,
           round(2 * 6371.0 * asin(sqrt(
               sin(radians((b.lat - a.lat) / 2)) ^ 2
               + cos(radians(a.lat)) * cos(radians(b.lat))
                 * sin(radians((b.lon - a.lon) / 2)) ^ 2)), 3) AS dist_km
    FROM pts a JOIN pts b ON a.id < b.id
    WHERE 2 * 6371.0 * asin(sqrt(
              sin(radians((b.lat - a.lat) / 2)) ^ 2
              + cos(radians(a.lat)) * cos(radians(b.lat))
                * sin(radians((b.lon - a.lon) / 2)) ^ 2)) < 50
    """,
)
def geo_grid_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial self-join (all point pairs within 50 km, haversine) via
    RADIUS-MATCHED 0.5°-grid bucketing: each point lands in one cell, the
    probe side explodes to its 3×3 cell neighborhood, candidates equi-join
    ON THE CELL KEY, and the exact haversine runs only inside buckets. The
    oracle is the O(n²) brute force — identical results, because 50 km
    < 0.5° of latitude everywhere (55.5 km) and < 0.5° of longitude for
    |lat| ≤ 10° (≥ 54.6 km, the synthesized band), so no qualifying pair
    can escape adjacency. This is the standard way to make distance-radius
    joins linear at 100 TB: shuffle on cell, O(density²) work per cell,
    never O(n²).

    Grid sizing (round 11): the former 1° grid scanned a 9° cell²
    neighborhood per probe — 14× the true 50 km disc — and timed out the
    100x sweep at 208 points/cell; matching the cell edge to the radius
    (the r-tree/geohash rule of thumb) cuts candidate work 4× to ~3.5× of
    the true pair output, which is the floor any grid can reach. Hot-cell
    subdivision buys nothing here: the md5-derived points are uniform, so
    every cell is equally hot and a static refinement is the same work as
    the adaptive one without mixed-resolution neighbor lookup. Beyond
    this, the op is OUTPUT-bound — the true within-50 km pair count grows
    with density² by geometry (≈1e8 pairs at the 100x corpus).
    Coordinates are md5-derived from the key (engine-identical ints, so
    both sides compute bit-equal doubles)."""
    h = F.md5(F.col("c_custkey").cast("string"))
    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % _GEO_LAT_MOD)
        / _GEO_COORD_DIV - _GEO_LAT_OFF,
        (F.conv(F.substring(h, 5, 4), 16, 10).cast("int") % 36000) / 100.0 - 180,
    ).toDF("id", "lat", "lon")
    # ANTIMERIDIAN WRAP (round 14 — found by geo_grid_topk's sf0.1
    # mirror): the haversine pairs points across lon = ±180 (sin(Δ/2) is
    # periodic), so the lon cell index wraps through the seam via pmod —
    # without it, cells -360 and 359 are geographically adjacent but
    # never joined, and cross-seam pairs (2 exist at sf0.1) are dropped.
    # Latitude needs no wrap (the synthetic band is pole-free).
    cell = lambda df: df.withColumn(
        "cy", F.floor(F.col("lat") * 2).cast("int")
    ).withColumn("cx", F.pmod(F.floor(F.col("lon") * 2), F.lit(720)).cast("int"))
    build = cell(pts).toDF("b_id", "b_lat", "b_lon", "cy", "cx")
    probe = (
        cell(pts)
        .select(
            "id",
            "lat",
            "lon",
            F.explode(
                F.expr(
                    "flatten(transform(sequence(-1, 1), dy ->"
                    " transform(sequence(-1, 1), dx -> struct(cy + dy AS cy,"
                    " pmod(cx + dx, 720) AS cx))))"
                )
            ).alias("nc"),
        )
        .select("id", "lat", "lon", F.col("nc.cy").alias("cy"), F.col("nc.cx").alias("cx"))
    )
    # SHUFFLE_HASH pins the cell equi-join to a shuffle on (cy, cx) — the
    # design the docstring promises. Left to stats, the planner BROADCASTS
    # the corpus-scaled build side (its compressed estimate sits under the
    # 32 MB threshold at the 100x corpus) and inherits the scan's handful
    # of partitions: 114 s on 4 tasks at 100x, and a guaranteed OOM once
    # the point table outgrows the driver. The shuffle spreads the
    # per-cell haversine across all cores (114.8 s → 16.6 s at 100x) and
    # AQE skew-join splits hot cells.
    cand = probe.join(build.hint("shuffle_hash"), ["cy", "cx"]).where(
        F.col("id") < F.col("b_id")
    )
    dist = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians((F.col("b_lat") - F.col("lat")) / 2)), 2)
                + F.cos(F.radians("lat"))
                * F.cos(F.radians("b_lat"))
                * F.pow(F.sin(F.radians((F.col("b_lon") - F.col("lon")) / 2)), 2)
            )
        )
    )
    return (
        cand.withColumn("dist_km", dist)
        .where(F.col("dist_km") < 50)
        .select(
            F.col("id").alias("a_id"),
            "b_id",
            F.round("dist_km", 3).alias("dist_km"),
        )
    )


@register(
    "geo_grid_topk",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               (CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4) AS INT)
                % 2000) / 100.0 - 10 AS lat,
               (CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 5, 4) AS INT)
                % 36000) / 100.0 - 180 AS lon
        FROM customer),
    pairs AS (
        SELECT a.id AS id, b.id AS neighbor_id,
               2 * 6371.0 * asin(sqrt(
                   sin(radians((b.lat - a.lat) / 2)) ^ 2
                   + cos(radians(a.lat)) * cos(radians(b.lat))
                     * sin(radians((b.lon - a.lon) / 2)) ^ 2)) AS d
        FROM pts a JOIN pts b ON a.id <> b.id),
    ranked AS (
        SELECT id, neighbor_id, d,
               row_number() OVER (PARTITION BY id ORDER BY d, neighbor_id) AS rk
        FROM pairs WHERE d < 50)
    SELECT id, neighbor_id,
           round(d, 3) AS dist_km,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def geo_grid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTPUT-BOUNDED sibling of geo_grid_join (r13 verdict task #6): each
    point's k=3 nearest neighbors within the 50 km radius, instead of the
    full within-radius pair dump. geo_grid_join's plan is grid-linear but
    its OUTPUT grows with density-squared by geometry (measured 1.56
    scaling exponent at 1000x — all cardinality, no plan defect); at
    100 TB a full pair dump is itself the scale hazard. Capping per-point
    output at k bounds the result at n*k rows — flat in density — which
    is the form a production pipeline actually consumes (nearest-depot
    lookup, neighbor-list features for GNNs, dedup candidate shortlists).

    Plan shape — DENSITY-ADAPTIVE grid tier with exact escalation (the
    thing that makes k-NN linear where the fixed 0.5° grid is not): a
    fixed-radius grid feeds every within-50 km pair into the per-point
    window, so its window INPUT is the same density²-growing pair set as
    geo_grid_join's output (measured: 22× wall-clock at 10× points).
    Instead the cell edge is chosen from the corpus density so a 3×3
    neighborhood holds ~constant expected points (the r-tree/k-d page
    sizing rule): the fine pass resolves every point whose k=3rd
    neighbor lies inside the tier's GUARANTEED-complete radius
    (cell_deg × _GEO_KM_PER_DEG ≈ cell_deg × 109.5 km, DERIVED from the
    synthesis band's max |lat| — any point within that distance differs
    by < cell_deg in both lat and lon inside the band, so it cannot
    escape the 3×3 neighborhood), and only the residual (points with < k
    neighbors in the fine radius — a density-tail minority) escalates
    to the coarse 0.5° / 50 km grid. Work: n·O(k) fine candidates +
    |residual|·O(density) — linear in points at any density, and the
    tier degrades to the single-pass 0.5° plan on sparse corpora.
    One driver-side count() sizes the tier (a bounded scalar, same
    pattern as the graph-loop convergence reads).

    Both directions survive candidate generation (id <> b_id, no a<b
    cut: a neighbor list is per-endpoint); one hash-partition window
    (row_number over dist, neighbor-id tiebreak) per point prunes to k.
    Rank ties are impossible in the generated corpus (md5-derived
    doubles), but the (d, neighbor_id) sort key makes the result
    deterministic under ANY corpus — and tier choice NEVER changes the
    result, only the plan. Distances computed identically to the
    oracle's brute force (same md5-int inputs, same double ops);
    round(,3) applied to OUTPUT only, never the sort key."""
    K = 3
    h = F.md5(F.col("c_custkey").cast("string"))
    pts = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"),
        (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % _GEO_LAT_MOD)
        / _GEO_COORD_DIV - _GEO_LAT_OFF,
        (F.conv(F.substring(h, 5, 4), 16, 10).cast("int") % 36000) / 100.0 - 180,
    ).toDF("id", "lat", "lon")

    dist = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.pow(F.sin(F.radians((F.col("b_lat") - F.col("lat")) / 2)), 2)
                + F.cos(F.radians("lat"))
                * F.cos(F.radians("b_lat"))
                * F.pow(F.sin(F.radians((F.col("b_lon") - F.col("lon")) / 2)), 2)
            )
        )
    )

    def ranked_within(probe_pts: DataFrame, cell_deg: float, radius_km: float) -> DataFrame:
        """id → (neighbor_id, d, rk, cnt) for neighbors within radius_km,
        candidates via a cell_deg grid 3×3 equi-join. Complete iff
        radius_km ≤ cell_deg × _GEO_KM_PER_DEG (the derived
        guaranteed-coverage bound)."""
        inv = 1.0 / cell_deg
        ncx = int(round(360 * inv))
        # ANTIMERIDIAN WRAP (found by the sf0.1 mirror, round 14): the
        # haversine pairs points across lon = ±180 (sin(Δ/2) is periodic),
        # so the lon cell index must wrap too — pmod folds cx into
        # [0, ncx) and the probe's cx±1 neighborhood wraps through the
        # seam. Latitude needs no wrap (the synthetic band is pole-free).
        cell = lambda df: df.withColumn(
            "cy", F.floor(F.col("lat") * inv).cast("int")
        ).withColumn(
            "cx", F.pmod(F.floor(F.col("lon") * inv), F.lit(ncx)).cast("int")
        )
        build = cell(pts).toDF("b_id", "b_lat", "b_lon", "cy", "cx")
        probe = (
            cell(probe_pts)
            .select(
                "id",
                "lat",
                "lon",
                F.explode(
                    F.expr(
                        "flatten(transform(sequence(-1, 1), dy ->"
                        " transform(sequence(-1, 1), dx -> struct(cy + dy AS cy,"
                        f" pmod(cx + dx, {ncx}) AS cx))))"
                    )
                ).alias("nc"),
            )
            .select("id", "lat", "lon", F.col("nc.cy").alias("cy"), F.col("nc.cx").alias("cx"))
        )
        # shuffle_hash for the same reason as geo_grid_join: stats would
        # broadcast the corpus-scaled build side and inherit the scan's
        # few partitions; the cell shuffle spreads per-cell work and lets
        # AQE split hot cells.
        cand = probe.join(build.hint("shuffle_hash"), ["cy", "cx"]).where(
            F.col("id") != F.col("b_id")
        )
        w = Window.partitionBy("id").orderBy("d", "b_id")
        return (
            cand.withColumn("d", dist)
            .where(F.col("d") < radius_km)
            .withColumn("rk", F.row_number().over(w))
            .withColumn("cnt", F.count(F.lit(1)).over(Window.partitionBy("id")))
        )

    out_cols = lambda df: df.where(F.col("rk") <= K).select(
        "id",
        F.col("b_id").alias("neighbor_id"),
        F.round("d", 3).alias("dist_km"),
        "rk",
    )

    # Tier override (r14 verdict task #1): at every oracle-checked SF the
    # density heuristic picks the single-pass 0.5° tier, so the fine +
    # escalation path would otherwise only ever execute at 100×/1000×
    # where no oracle runs. tests/test_geo_forced_tier.py forces each
    # fine tier here at sf0.01 and asserts bit-equality against BOTH the
    # single-pass output and the numpy brute force — turning the
    # docstring's "tier choice never changes the result" from an
    # assertion into a proven invariant.
    forced = spark.conf.get("spark.graft.geo_topk.force_cell_deg", "auto")
    if forced != "auto":
        cell_deg = float(forced)
        if cell_deg not in _GEO_TOPK_TIERS:
            raise ValueError(
                f"spark.graft.geo_topk.force_cell_deg={forced!r}: "
                f"must be 'auto' or one of {_GEO_TOPK_TIERS}"
            )
    else:
        # Tier selection: smallest cell whose guaranteed radius still holds
        # ≥ 4k expected neighbors (margin keeps the escalation residual a
        # tail, not the norm). Synthetic band is lat ∈ [-10, 10), lon
        # ∈ [-180, 180) by construction → area is a compile-time constant.
        n_pts = pts.count()  # driver-bounded scalar: one long
        area_km2 = (2 * _GEO_MAX_ABS_LAT * 111.19) * (360 * 110.6)
        density = n_pts / area_km2
        r_need = math.sqrt((4 * K) / (math.pi * density)) if density > 0 else 1e9
        cell_deg = 0.5
        for tier in _GEO_TOPK_TIERS[1:]:
            if tier * _GEO_KM_PER_DEG >= r_need and tier * _GEO_KM_PER_DEG < 50.0:
                cell_deg = tier
    if cell_deg == 0.5:
        # sparse corpus (or forced coarse): the coarse grid's guaranteed
        # radius (0.5 × _GEO_KM_PER_DEG ≈ 54.7 km) already covers the
        # full 50 km predicate — single pass.
        return out_cols(ranked_within(pts, 0.5, 50.0))

    fine_r = min(cell_deg * _GEO_KM_PER_DEG, 50.0)
    fine = ranked_within(pts, cell_deg, fine_r)
    resolved = out_cols(fine.where(F.col("cnt") >= K))
    # residual: points with < k neighbors inside the fine radius — their
    # k-th neighbor may lie beyond it, so re-rank them against the FULL
    # 50 km grid. Anti-join keeps it distributed (no id collect).
    resolved_ids = fine.where(F.col("cnt") >= K).select("id").distinct()
    residual_pts = pts.join(resolved_ids, "id", "left_anti")
    escalated = out_cols(ranked_within(residual_pts, 0.5, 50.0))
    return resolved.unionAll(escalated)


@register(
    "join_null_aware_anti",
    oracle="""
    SELECT 'null_free' AS variant, CAST(count(*) AS BIGINT) AS n_cust
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT 'with_null', CAST(count(*) AS BIGINT)
    FROM customer
    WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                                        ELSE o_custkey END
                            FROM orders
                            WHERE o_orderpriority = '1-URGENT')
    """,
)
def join_null_aware_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN is NOT an anti join when the subquery can yield NULL: one
    NULL in the set makes `x NOT IN (...)` UNKNOWN for every x, so the
    with_null variant returns 0 rows — the classic three-valued-logic
    trap. Spark plans the null-free variant as a plain LeftAnti and the
    nullable one as a null-aware anti join (broadcast build side scans
    for NULL before rejecting); both SQL strings are shared verbatim
    with the oracle. At scale the null-free rewrite (filter NULLs out of
    the subquery explicitly when the semantics allow) is the difference
    between a shuffled anti join and a broadcast null-scan."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT 'null_free' AS variant, count(*) AS n_cust
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                WHERE o_orderpriority = '1-URGENT')
        UNION ALL
        SELECT 'with_null', count(*)
        FROM customer
        WHERE c_custkey NOT IN (SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
                                            ELSE o_custkey END
                                FROM orders
                                WHERE o_orderpriority = '1-URGENT')
        """
    )


@register(
    "join_bloom_filter",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 400000
    GROUP BY o_orderpriority
    """,
)
def join_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter semi-join reduction: a selective dimension
    filter (urgent + high-value orders) is turned into a bloom_filter_agg
    that prunes the FACT side during its scan, before the shuffle — at
    100 TB this is the difference between shuffling the whole lineitem
    table and shuffling only the ~0.1% that can match. Thresholds are
    scoped so the optimizer injects the filter at this toy scale (and the
    broadcast path is disabled — a broadcast join would subsume the bloom
    filter); the injected `bloom_filter_agg`/`might_contain` pair is
    asserted in test_plans. Materialized under the scoped confs (the lazy
    frame would re-optimize without them)."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        o = t(spark, sf_dir, "orders").where(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 400000)
        )
        l = t(spark, sf_dir, "lineitem")
        out = (
            l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.round(
                    F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
                ).alias("revenue"),
            )
        )
        # Row-count bound: grouped by o_orderpriority under an equality
        # filter on it — at most ONE group row at any scale; the guard
        # allows slack up to 4 (full o_orderpriority domain is 5) and is a
        # RuntimeError, not assert, so `python -O` cannot strip the
        # documented driver-boundedness check (r13 ADVICE).
        rows = out.collect()
        if len(rows) > 4:
            raise RuntimeError(f"scoped-conf collect grew: {len(rows)} rows")
        return spark.createDataFrame(rows, out.schema)
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


@register(
    "join_asof_forward",
    oracle=f"""
    SELECT event_id,
           first_value(CASE WHEN event_type = 'purchase' THEN ts_us END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_purchase_ts
    FROM (SELECT event_id, user_id, event_type, {EVENTS_TS_US} AS ts_us FROM events) e
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (direction='forward'): each event tagged with the
    user's next STRICTLY LATER 'purchase' timestamp — the
    time-to-conversion primitive. Same window-not-join lowering as
    join_asof, mirrored: first(ignoreNulls) over an unbounded FOLLOWING
    frame, one shuffle by user_id. Completes the as-of family
    (backward = join_asof, nearest = join_asof_nearest)."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    purchase_ts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    return e.select(
        "event_id",
        F.first(purchase_ts, ignorenulls=True).over(w).alias("next_purchase_ts"),
    )


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH marked AS (
      SELECT event_id, event_type, {EVENTS_TS_US} AS ts_us,
             last_value(CASE WHEN event_type = 'signup' THEN {EVENTS_TS_US} END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY {EVENTS_TS_US}, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_signup
      FROM events)
    SELECT event_id,
           CASE WHEN prev_signup IS NOT NULL
                 AND epoch_us(ts_us) - epoch_us(prev_signup) <= 86400000000
                THEN prev_signup END AS signup_within_1d,
           CAST(CASE WHEN prev_signup IS NOT NULL
                      AND epoch_us(ts_us) - epoch_us(prev_signup) <= 86400000000
                     THEN epoch_us(ts_us) - epoch_us(prev_signup) END AS BIGINT)
             AS gap_us
    FROM marked
    WHERE event_type = 'purchase'
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded as-of join — pandas ``merge_asof(tolerance=...)`` semantics:
    each purchase matched to the user's most recent strictly-prior signup
    ONLY if it happened within 24 h, else NULL (a stale match is worse
    than none for attribution). Same window-not-join lowering as
    join_asof — one shuffle on user_id, the tolerance is a map-side
    post-filter on the navigated timestamp — completing the as-of family
    (backward / forward / nearest / bounded)."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sig = F.when(F.col("event_type") == "signup", F.col("ts"))
    marked = e.select(
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.unix_micros(F.last(sig, ignorenulls=True).over(w)).alias("prev_us"),
    )
    within = F.col("prev_us").isNotNull() & (
        (F.col("ts_us") - F.col("prev_us")) <= 86_400_000_000
    )
    return marked.where(F.col("event_type") == "purchase").select(
        "event_id",
        F.when(within, F.timestamp_micros(F.col("prev_us"))).alias("signup_within_1d"),
        F.when(within, F.col("ts_us") - F.col("prev_us")).alias("gap_us"),
    )


@register(
    "join_fuzzy_levenshtein",
    oracle="""
    WITH blocked AS (
      SELECT c_name, substr(c_name, 10, 7) AS blk, count(*) AS n
      FROM customer GROUP BY c_name, substr(c_name, 10, 7))
    SELECT a.c_name AS name_a, b.c_name AS name_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_dist
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.c_name < b.c_name
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY name_a, name_b LIMIT 100
    """,
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join (entity-resolution primitive): candidate
    pairs come from an EQUI-join on a blocking key (a 7-char name prefix
    window), and only within-block pairs pay the edit-distance
    evaluation — the record-linkage shape that keeps fuzzy matching off
    the O(N²) cliff. Exact duplicates are COLLAPSED to distinct values
    with multiplicities BEFORE pairing (the canonicalize-first rule):
    without it, a corpus where each name appears m times pays m² per
    logical pair — measured 100× blowup on the 10×-amplified corpus —
    while the collapsed form's pair count is invariant to duplication
    and the multiplicities still carry the linkage cardinality. Block
    sizes bound per-task work; the block prefix is the shuffle key.
    Both engines compute byte-identical Levenshtein, so the pair set is
    exactly oracle-checkable. The distance uses the THRESHOLD form
    ``levenshtein(a, b, 1)`` (r16, guide §1.2 per-task work): it
    early-exits the DP the moment the banded distance exceeds 1 and
    returns -1, so every within-block pair pays O(threshold·len) instead
    of O(len²) — ``BETWEEN 0 AND 1`` is exactly the old ``<= 1`` set
    because -1 encodes "above threshold", and for every SURVIVING pair
    the threshold value IS the distance, so ``edit_dist`` reuses it
    instead of re-running the full DP. The shuffle(array(..), 0) wrap is
    the §4.4 non-determinism pin (value-identical: the array has one
    element): without it Catalyst pushed the filter into the join
    condition ahead of the cheap name ``<`` conjunct and re-inlined the
    DP per reference — 4.0 s; pinned to one evaluation — 2.0 s, plan
    shows a single levenshtein. The seed is fixed so that the generated
    code, which embeds it, is the same at every call and compiles once
    per session; a seeded shuffle is still non-deterministic."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH blocked AS (
          SELECT c_name, substr(c_name, 10, 7) AS blk, count(*) AS n
          FROM customer GROUP BY c_name, substr(c_name, 10, 7)),
        cand AS (
          SELECT a.c_name AS name_a, b.c_name AS name_b,
                 CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
                 element_at(shuffle(array(
                     levenshtein(a.c_name, b.c_name, 1)), 0), 1) AS d
          FROM blocked a JOIN blocked b
            ON a.blk = b.blk AND a.c_name < b.c_name)
        SELECT name_a, name_b, n_a, n_b, CAST(d AS INT) AS edit_dist
        FROM cand WHERE d BETWEEN 0 AND 1
        ORDER BY name_a, name_b LIMIT 100
        """,
    )


_GEO_DENSITY_SPARK = """
    WITH pts AS (
      SELECT c_custkey AS id,
             (CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 1, 4), 16, 10)
                   AS INT) % 2000) / 100e0 - 10 AS lat,
             (CAST(conv(substr(md5(CAST(c_custkey AS STRING)), 5, 4), 16, 10)
                   AS INT) % 36000) / 100e0 - 180 AS lon
      FROM customer),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
    cells AS (
      SELECT CAST(floor(lat) AS INT) AS cy, CAST(floor(lon) AS INT) AS cx,
             CAST(count(*) AS BIGINT) AS n_points,
             round(avg(lat), 6) AS centroid_lat,
             round(avg(lon), 6) AS centroid_lon
      FROM pts GROUP BY CAST(floor(lat) AS INT), CAST(floor(lon) AS INT))
    SELECT cy, cx, n_points, centroid_lat, centroid_lon,
           round(CAST(n_points AS DOUBLE) / tot.n, 6) AS density_share
    FROM cells CROSS JOIN tot
    ORDER BY n_points DESC, cy, cx
    LIMIT 15
"""

_GEO_DENSITY_DUCK = """
    WITH pts AS (
      SELECT c_custkey AS id,
             (CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 4) AS INT)
              % 2000) / 100.0 - 10 AS lat,
             (CAST('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 5, 4) AS INT)
              % 36000) / 100.0 - 180 AS lon
      FROM customer),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
    cells AS (
      SELECT CAST(floor(lat) AS INT) AS cy, CAST(floor(lon) AS INT) AS cx,
             CAST(count(*) AS BIGINT) AS n_points,
             round(avg(lat), 6) AS centroid_lat,
             round(avg(lon), 6) AS centroid_lon
      FROM pts GROUP BY CAST(floor(lat) AS INT), CAST(floor(lon) AS INT))
    SELECT cy, cx, n_points, centroid_lat, centroid_lon,
           round(CAST(n_points AS DOUBLE) / tot.n, 6) AS density_share
    FROM cells CROSS JOIN tot
    ORDER BY n_points DESC, cy, cx
    LIMIT 15
"""


@register("geo_grid_density", oracle=_GEO_DENSITY_DUCK)
def geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density heatmap: the 15 densest 1°×1° grid cells over the
    geo_grid_join md5-derived point cloud, with point count, centroid,
    and share of all points — the aggregation a mapping layer requests
    before rendering a choropleth, and the skew diagnostic run before
    geo_grid_join itself (a cell this op flags as hot is exactly the
    bucket whose O(density²) pair work dominates the spatial join).
    One linear map-side cell assignment + one cell-grain groupBy; the
    1-row total broadcasts into the share projection (allowlisted
    pattern). Deterministic top-15 via (n_points, cy, cx) ordering."""
    return sql_q(spark, sf_dir, _GEO_DENSITY_SPARK)


_BASKET_B = """SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey"""


def _basket_sql(b_src: str) -> str:
    return f"""
    WITH b AS ({b_src}),
    n AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM b),
    s AS (SELECT brand, CAST(count(*) AS BIGINT) AS nb FROM b GROUP BY brand),
    pr AS (
      SELECT a.brand AS brand_a, c.brand AS brand_b,
             CAST(count(*) AS BIGINT) AS n_co
      FROM b a JOIN b c ON a.ok = c.ok AND a.brand < c.brand
      GROUP BY a.brand, c.brand)
    SELECT brand_a, brand_b, n_co,
           round(n_co * 1e0 / n.n_orders, 6) AS support,
           round(n_co * 1e0 / sa.nb, 6) AS confidence_a_to_b,
           round(n_co * 1e0 * n.n_orders / (sa.nb * sb.nb), 6) AS lift
    FROM pr
    JOIN s sa ON pr.brand_a = sa.brand
    JOIN s sb ON pr.brand_b = sb.brand
    CROSS JOIN n
    ORDER BY lift DESC, brand_a, brand_b
    LIMIT 15
    """


@register("agg_market_basket_lift", oracle=_basket_sql(_BASKET_B))
def agg_market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules at the brand grain: for brand
    pairs co-occurring in the same order, support, confidence(A→B) and
    lift = P(AB)/(P(A)P(B)); top 15 by lift (rounded before ordering so
    the cut is engine-deterministic, ties broken on the pair). The
    within-order self-join is the classic co-occurrence shape: shuffle
    once on l_orderkey, and the per-order item multiplicity is bounded
    (≤7 lineitems in TPC-H), so the 'quadratic' pair step is O(49) per
    order — linear overall, never all-pairs across orders.

    ORDER-GRAIN BASKETS (r16, guide §2.4 'remove shuffles outright'):
    the DISTINCT(ok, brand) shuffle + the ok-keyed pair self-join are
    both replaced by ONE groupBy(ok) building each order's distinct
    brand-set array. collect_set drops NULL brands, which is
    result-identical: NULL never survives the a.brand < c.brand pair
    condition nor the oracle's brand-equality joins, and order rows
    themselves are kept by the groupBy even when every brand is NULL.

    PAIRS FROM TWO GENERATORS: two OUTER posexplodes of the brand set
    cross each order's brands with themselves, and `y.b >= x.a` keeps
    every unordered pair once plus the diagonal. posexplode is a
    codegen'd generator, while the earlier transform/flatten/slice pair
    lambdas ran interpreted, element by element (470 ms of a ~1.1 s call
    at sf0.01). One GROUP BY (a, b) then counts everything the oracle's
    n/s/pr aggregates count: a < b rows are the pair counts, a = b rows
    the per-brand order counts nb, and each order marks exactly one row
    (positions 0/0, or the single NULL row OUTER emits for an order with
    no brand), whose sum is n_orders.

    ONE QUERY, NO CACHE: an unpartitioned window carries n_orders and
    the brand → nb map onto every pair row, replacing the pr ⋈ s ⋈ s × n
    joins. Its input is bounded by the brand domain (1 + B(B+1)/2 rows,
    326 for TPC-H's 25 brands), so the single-task window is never
    corpus-scaled, and nothing is cached or materialized up front: AQE
    measures the aggregate's size at runtime, which is all the planner
    statistics a cached copy used to supply. `_basket_sql(_BASKET_B)`
    stays the DuckDB oracle text."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        f"""
        WITH baskets AS (
          SELECT ok, collect_set(brand) AS brands
          FROM ({_BASKET_B.replace('DISTINCT ', '')}) raw GROUP BY ok),
        agg AS (
          SELECT x.a, y.b, CAST(count(*) AS BIGINT) AS c,
                 CAST(sum(CAST(coalesce(x.i, 0) = 0 AND coalesce(y.j, 0) = 0
                               AS INT)) AS BIGINT) AS m
          FROM baskets
          LATERAL VIEW OUTER posexplode(brands) x AS i, a
          LATERAL VIEW OUTER posexplode(brands) y AS j, b
          WHERE y.j IS NULL OR y.b >= x.a
          GROUP BY x.a, y.b),
        w AS (
          SELECT a, b, c, sum(m) OVER () AS n_orders,
                 map_from_entries(collect_list(
                     CASE WHEN a = b THEN struct(a, c) END) OVER ()) AS nb
          FROM agg)
        SELECT a AS brand_a, b AS brand_b, c AS n_co,
               round(c * 1e0 / n_orders, 6) AS support,
               round(c * 1e0 / nb[a], 6) AS confidence_a_to_b,
               round(c * 1e0 * n_orders / (nb[a] * nb[b]), 6) AS lift
        FROM w
        WHERE a < b
        ORDER BY lift DESC, brand_a, brand_b
        LIMIT 15
        """
    )


_CARD_AUDIT_SQL = """
    WITH lm AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_left
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY user_id),
    rm AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_right
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id),
    k AS (
      SELECT lm.user_id, lm.n_left, rm.n_right,
             lm.n_left * rm.n_right AS predicted_pairs
      FROM lm JOIN rm ON rm.user_id = lm.user_id)
    SELECT user_id, n_left, n_right, predicted_pairs,
           CAST(predicted_pairs > 1000 AS BOOLEAN) AS explosion_risk
    FROM k
    ORDER BY predicted_pairs DESC, user_id
    LIMIT 10
"""


@register("join_cardinality_estimate_audit", oracle=_CARD_AUDIT_SQL)
def join_cardinality_estimate_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pre-join cardinality-explosion audit: per join key the left/right
    multiplicities and their product (the EXACT row count the key will
    emit in the click/view x purchase self-join), top-10 riskiest keys
    flagged — the check a 100 TB pipeline runs BEFORE a many-to-many
    join, because one hot key with 10^4 x 10^4 multiplicity emits 10^8
    rows from a single shuffle partition (the precursor analysis that
    decides whether join_skew_salted's salting is needed). Two
    map-side-combinable key-grain counts + a key-grain join — costs
    two aggregates, predicts the join without running it."""
    return sql_q(spark, sf_dir, _CARD_AUDIT_SQL)


_AGG_PUSH_EQ_SQL = """
    WITH jt AS (
      SELECT c.c_mktsegment AS segment,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment),
    pre AS (
      SELECT o_custkey,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cust_cents,
             CAST(count(*) AS BIGINT) AS cust_orders
      FROM orders GROUP BY o_custkey),
    aj AS (
      SELECT c.c_mktsegment AS segment,
             CAST(sum(p.cust_cents) AS BIGINT) AS rev_cents,
             CAST(sum(p.cust_orders) AS BIGINT) AS n_orders
      FROM customer c JOIN pre p ON p.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment)
    SELECT jt.segment,
           round(jt.rev_cents / 100e0, 2) AS revenue_join_then_agg,
           round(aj.rev_cents / 100e0, 2) AS revenue_agg_then_join,
           jt.n_orders AS orders_join_then_agg,
           aj.n_orders AS orders_agg_then_join,
           CAST(jt.rev_cents = aj.rev_cents
                AND jt.n_orders = aj.n_orders AS BOOLEAN) AS plans_equivalent
    FROM jt JOIN aj ON aj.segment = jt.segment
    ORDER BY jt.segment
"""


@register("join_agg_pushdown_equivalence", oracle=_AGG_PUSH_EQ_SQL)
def join_agg_pushdown_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Aggregate-below-join equivalence proof: segment revenue computed
    join-then-aggregate (the naive plan — the fact table crosses the
    shuffle at ROW grain) versus aggregate-then-join (the 100 TB plan —
    orders pre-collapse to customer grain BEFORE touching the
    dimension), certified equal in exact integer cents. This is the
    rewrite eager-aggregation optimizers apply automatically and data
    engineers apply manually when the optimizer can't prove it; the
    audit certifies it for this schema (valid because custkey is the
    full join key — each fact row joins at most one customer).
    Both plans run here by construction; at scale only the second
    should."""
    return sql_q(spark, sf_dir, _AGG_PUSH_EQ_SQL)


_PK_FANOUT_SQL = """
    SELECT CAST((SELECT count(*) FROM lineitem) AS BIGINT) AS n_lineitem,
           CAST((SELECT count(*) FROM lineitem l
                 JOIN orders o ON l.l_orderkey = o.o_orderkey) AS BIGINT)
             AS n_after_orders,
           CAST((SELECT count(*) FROM lineitem l
                 JOIN part p ON l.l_partkey = p.p_partkey) AS BIGINT)
             AS n_after_part,
           CAST((SELECT count(*) FROM lineitem l
                 JOIN supplier s ON l.l_suppkey = s.s_suppkey) AS BIGINT)
             AS n_after_supplier,
           CAST((SELECT count(*) FROM lineitem)
                = (SELECT count(*) FROM lineitem l
                   JOIN orders o ON l.l_orderkey = o.o_orderkey)
                AND (SELECT count(*) FROM lineitem)
                    = (SELECT count(*) FROM lineitem l
                       JOIN part p ON l.l_partkey = p.p_partkey)
                AND (SELECT count(*) FROM lineitem)
                    = (SELECT count(*) FROM lineitem l
                       JOIN supplier s ON l.l_suppkey = s.s_suppkey)
                AS BOOLEAN) AS all_dims_pk_clean
"""


@register("join_pk_fanout_audit", oracle=_PK_FANOUT_SQL)
def join_pk_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key fan-out audit across the whole star: joining the fact
    to each dimension must preserve the fact row count EXACTLY — a
    higher count means duplicate dimension keys (every denormalization
    silently double-counts revenue from that moment on), a lower one
    means FK orphans (etl_fk_orphan_audit's finding, seen from the
    join side). This is the pre-flight every star-schema rollup should
    run before trusting join-then-aggregate numbers. Three
    broadcast-dimension probe joins, each producing one count — the
    fact scans stay column-pruned to the single FK."""
    return sql_q(spark, sf_dir, _PK_FANOUT_SQL)
