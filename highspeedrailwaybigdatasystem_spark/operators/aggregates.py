"""Aggregation operators (SURVEY.md §2.4).

Scale notes: every groupBy here is a hash aggregate with a map-side partial
phase (Spark splits partial/final automatically); the only full shuffles are
on the grouping keys. ``agg_count_distinct`` is the one to watch at 100 TB —
exact distinct forces a shuffle by (group, value); the approximate variant
(`agg_approx_distinct`) is the scale path and is O(1) state per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import plan_memo, register
from ._util import exact_group_percentiles, money, ratio, sql_q, t


@register(
    "agg_scan_group",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 6) AS avg_qty,
           round(avg(l_extendedprice), 6) AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
@plan_memo
def agg_scan_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered scan + multi-aggregate group-by.

    Bench headline op — built as one SQL text (see ``sql_q``); the plan is
    the same filtered-scan + hash-aggregate Catalyst emits for the
    equivalent groupBy/agg chain, with the shipdate predicate pushed to
    the parquet scan."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_extendedprice), 6) AS avg_price,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-06-01'
        GROUP BY l_returnflag, l_linestatus
        """,
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT o_orderpriority, count(DISTINCT o_custkey) AS distinct_cust
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("distinct_cust"))
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS hll_within_bound
    FROM events GROUP BY event_type
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users per event type (HyperLogLog++), emitted in
    bounded-error audit form: the exact count plus a boolean asserting the
    HLL estimate landed within 3×rsd of it — the encoding that turns an
    engine-specific estimate into a hash-gateable oracle row (r12 verdict
    task #2; rows-only from r1–r12, first oracle-backed r13). At 100 TB the
    production form is the estimate alone (constant-size sketch per group,
    mergeable map-side); the exact side here is the audit yardstick, and
    3×rsd is a ~99.7% normal-regime bound the estimator has never
    approached on this corpus (measured: exact at sf0.01 where groups sit
    in HLL sparse mode; 0.4% err at sf0.1 vs the 6% bound)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                / F.col("exact_users")
                <= 0.06
            ).alias("hll_within_bound"),
        )
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT coalesce(r_name, 'ALL') AS region_name,
           coalesce(n_name, 'ALL') AS nation_name,
           count(*) AS order_cnt,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals region → nation → grand total."""
    df = (
        t(spark, sf_dir, "orders")
        .join(t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t(spark, sf_dir, "nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        df.rollup("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("order_cnt"), money(F.sum("o_totalprice")).alias("revenue"))
        .select(
            F.coalesce("r_name", F.lit("ALL")).alias("region_name"),
            F.coalesce("n_name", F.lit("ALL")).alias("nation_name"),
            "order_cnt",
            "revenue",
        )
    )


@register(
    "agg_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           count(*) AS cnt,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"), money(F.sum("o_totalprice")).alias("revenue"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "cnt",
            "revenue",
        )
    )


@register(
    "agg_filter_clause",
    oracle="""
    SELECT user_id,
           round(sum(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase_sum,
           count(*) FILTER (WHERE event_type = 'error') AS error_cnt,
           count(*) AS total_cnt
    FROM events GROUP BY user_id
    """,
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates — sum/count FILTER as sum(when(...))."""
    e = t(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        money(F.sum(F.when(F.col("event_type") == "purchase", F.col("value")))).alias(
            "purchase_sum"
        ),
        F.count(F.when(F.col("event_type") == "error", F.lit(1))).alias("error_cnt"),
        F.count(F.lit(1)).alias("total_cnt"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 6) AS sd_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        ratio(F.stddev_samp("l_quantity")).alias("sd_qty"),
        ratio(F.var_samp("l_quantity")).alias("var_qty"),
        ratio(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        money(F.min("l_extendedprice")).alias("min_price"),
        money(F.max("l_extendedprice")).alias("max_price"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT c_mktsegment,
           quantile_cont(o_totalprice, 0.5) AS median_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles. UNROUNDED: Spark's percentile() and DuckDB's
    quantile_cont use the same lo+(hi-lo)*frac interpolation and are
    bit-identical on identical inputs (verified), whereas round() diverges
    on .xx5 boundaries. At 100 TB the scale path is approx_percentile.

    r16 optimization round: the built-in percentile() aggregate (per-row
    OpenHashMap updates outside codegen) is replaced by
    ``exact_group_percentiles`` — codegen'd (group, value) count
    aggregate + distinct-value cumulative window + the built-in's own
    interpolation formula. Bit-identical output (see the helper's
    exactness contract), ~7× less aggregate wall-clock measured."""
    df = t(spark, sf_dir, "orders").join(
        t(spark, sf_dir, "customer"), F.col("o_custkey") == F.col("c_custkey")
    )
    return exact_group_percentiles(
        df,
        ["c_mktsegment"],
        "o_totalprice",
        {"median_price": 0.5, "p90_price": 0.9},
    )


@register(
    "agg_collect",
    oracle="""
    SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted list of nation names per region. The surface flattens the
    collected array to a comma-joined string — array cells are not hashable
    by the external canonicalizer (SURVEY.md §5.3)."""
    df = t(spark, sf_dir, "nation").join(
        F.broadcast(t(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey")
    )
    return df.groupBy("r_name").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@register(
    "agg_having",
    oracle="""
    SELECT n_name, count(*) AS cust_cnt
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    HAVING count(*) > (SELECT count(*) / 25.0 FROM customer)
    """,
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter with a scale-invariant threshold (above-average
    nations), expressed as a scalar subquery both sides."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, count(*) AS cust_cnt
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        HAVING count(*) > (SELECT count(*) / 25.0 FROM customer)
        """
    )


@register(
    "agg_distinct_rows",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def agg_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_f,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_o,
           count(*) FILTER (WHERE l_linestatus = 'F') AS cnt_f,
           count(*) FILTER (WHERE l_linestatus = 'O') AS cnt_o
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): linestatus values become columns. The value list
    is given explicitly — at scale, an unlisted pivot forces an extra
    distinct-scan job to discover the columns."""
    p = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            money(F.sum("l_quantity")).alias("qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return p.select(
        "l_returnflag",
        F.col("F_qty").alias("qty_f"),
        F.col("O_qty").alias("qty_o"),
        F.col("F_cnt").alias("cnt_f"),
        F.col("O_cnt").alias("cnt_o"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL') AS status,
           coalesce(o_orderpriority, 'ALL') AS priority,
           CAST(grouping(o_orderstatus, o_orderpriority) AS INT) AS gid,
           count(*) AS cnt
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (neither rollup nor cube) + grouping-id
    bitmask — both engines use the same bit convention (1 = aggregated)."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT) AS gid,
               count(*) AS cnt
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "agg_unpivot",
    oracle="""
    WITH wide AS (
      SELECT l_returnflag,
             round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_f,
             round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_o
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, 'qty_f' AS measure, qty_f AS qty FROM wide
    UNION ALL
    SELECT l_returnflag, 'qty_o' AS measure, qty_o AS qty FROM wide
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long), the inverse of agg_pivot: measure columns melt
    into (measure, value) rows via DataFrame.unpivot (SQL: stack)."""
    wide = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            money(F.sum(F.when(F.col("l_linestatus") == "F", F.col("l_quantity")))).alias("qty_f"),
            money(F.sum(F.when(F.col("l_linestatus") == "O", F.col("l_quantity")))).alias("qty_o"),
        )
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty_f", "qty_o"],
        variableColumnName="measure",
        valueColumnName="qty",
    )


@register(
    "sql_exists_subquery",
    oracle="""
    SELECT o_orderkey FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o.o_orderkey AND l_discount >= 0.09)
      AND NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o.o_orderkey AND l_tax = 0.0)
    """,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS through the SQL surface — Catalyst
    decorrelates both into semi/anti joins (no per-row subquery execution)."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o.o_orderkey AND l_discount >= 0.09)
          AND NOT EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o.o_orderkey AND l_tax = 0.0)
        """
    )


@register(
    "sql_scalar_subquery",
    oracle="""
    SELECT o_orderkey FROM orders o
    WHERE o_totalprice > (SELECT 1.5 * avg(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (orders 1.5× above the customer's own
    average) — decorrelated by Catalyst into an aggregate + join."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey FROM orders o
        WHERE o_totalprice > (SELECT 1.5 * avg(o2.o_totalprice) FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "sql_recursive_cte",
    oracle="""
    WITH RECURSIVE walk(nationkey, depth) AS (
      SELECT CAST(0 AS INT) AS nationkey, 0 AS depth
      UNION ALL
      SELECT CAST((nationkey * 7 + 3) % 25 AS INT), depth + 1
      FROM walk WHERE depth < 24)
    SELECT w.depth, n.n_name
    FROM walk w JOIN nation n ON w.nationkey = n.n_nationkey
    """,
)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4.x): a deterministic 25-step walk over the
    nation keyspace joined back to the dimension — the iterate-until-fixed-
    point surface (org charts, BOM explosions) without resorting to driver
    loops."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE walk(nationkey, depth) AS (
          SELECT CAST(0 AS INT) AS nationkey, 0 AS depth
          UNION ALL
          SELECT CAST((nationkey * 7 + 3) % 25 AS INT), depth + 1
          FROM walk WHERE depth < 24)
        SELECT w.depth, n.n_name
        FROM walk w JOIN nation n ON w.nationkey = n.n_nationkey
        """
    )


@register(
    "agg_minmax_by",
    oracle="""
    SELECT c_nationkey,
           arg_max(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey) AS top_cust,
           arg_min(c_name, CAST(round(c_acctbal * 100) AS BIGINT) * 1000000 + c_custkey) AS bottom_cust,
           round(max(c_acctbal), 2) AS top_bal,
           round(min(c_acctbal), 2) AS bottom_bal
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (arg-max aggregates): per nation, the customer name at
    the extreme balance. The ordering key is integer cents * 1e6 + custkey —
    exact int64 arithmetic making ties deterministic on BOTH engines (bare
    doubles would tie-break arbitrarily). Single hash-agg shuffle; max_by
    carries O(1) state per group vs. the window-rank alternative's full
    sort."""
    c = t(spark, sf_dir, "customer")
    ordkey = (
        F.round(F.col("c_acctbal") * 100).cast("long") * 1000000 + F.col("c_custkey")
    )
    return c.groupBy("c_nationkey").agg(
        F.max_by("c_name", ordkey).alias("top_cust"),
        F.min_by("c_name", ordkey).alias("bottom_cust"),
        money(F.max("c_acctbal")).alias("top_bal"),
        money(F.min("c_acctbal")).alias("bottom_bal"),
    )


@register(
    "agg_mode_median",
    oracle="""
    WITH pr AS (
        SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        FROM orders GROUP BY o_orderstatus, o_orderpriority),
    md AS (
        SELECT o_orderstatus, o_orderpriority AS mode_priority,
               row_number() OVER (PARTITION BY o_orderstatus
                                  ORDER BY cnt DESC, o_orderpriority) AS rn
        FROM pr)
    SELECT s.o_orderstatus, m.mode_priority,
           round(s.med_price, 2) AS med_price,
           s.n_orders
    FROM (SELECT o_orderstatus, median(o_totalprice) AS med_price,
                 CAST(count(*) AS BIGINT) AS n_orders
          FROM orders GROUP BY o_orderstatus) s
    JOIN md m ON m.o_orderstatus = s.o_orderstatus AND m.rn = 1
    """,
)
def agg_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """median() + deterministic mode per order status. Spark's mode(expr)
    breaks ties arbitrarily (engine-dependent), so the mode is computed as
    the canonical two-level aggregate — count per value, argmax with a
    lowest-value tie-break — which both engines replicate exactly. median
    is the built-in interpolating percentile(0.5) on both sides. Two
    narrow shuffles (status+priority, then status)."""
    o = t(spark, sf_dir, "orders")
    pr = o.groupBy("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))
    # argmax with lowest-priority tie-break, O(1) state per group:
    # order key = cnt, tie-broken by max_by on a composite struct is not
    # tie-safe for strings -> rank instead (3-row groups; negligible)
    from pyspark.sql.window import Window

    rn = Window.partitionBy("o_orderstatus").orderBy(F.col("cnt").desc(), "o_orderpriority")
    md = pr.withColumn("rn", F.row_number().over(rn)).where(F.col("rn") == 1).select(
        "o_orderstatus", F.col("o_orderpriority").alias("mode_priority")
    )
    stats = o.groupBy("o_orderstatus").agg(
        money(F.median("o_totalprice")).alias("med_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return stats.join(md, "o_orderstatus").select(
        "o_orderstatus", "mode_priority", "med_price", "n_orders"
    )


@register(
    "sql_group_by_all",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem GROUP BY ALL ORDER BY ALL
    """,
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (modern SQL ergonomics, Spark 3.4+ and
    DuckDB both): the engine infers grouping keys = all non-aggregate select
    items. Identical plan to the explicit form — this row pins the parser
    surface."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               count(*) AS cnt,
               round(sum(l_extendedprice), 2) AS revenue
        FROM lineitem GROUP BY ALL ORDER BY ALL
        """
    )


@register(
    "sql_pivot",
    oracle="""
    SELECT o_orderstatus,
           round(sum(o_totalprice) FILTER (o_orderpriority = '1-URGENT'), 2) AS urgent,
           round(sum(o_totalprice) FILTER (o_orderpriority = '3-MEDIUM'), 2) AS medium,
           round(sum(o_totalprice) FILTER (o_orderpriority = '5-LOW'), 2) AS low
    FROM orders GROUP BY o_orderstatus
    """,
)
def sql_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL PIVOT clause (parser surface; same plan as DataFrame .pivot with
    an explicit value list — no extra distinct-values job). DuckDB's PIVOT
    materializes differently, so the oracle uses the FILTER-agg expansion,
    which is exactly what both planners lower PIVOT to."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT * FROM (
            SELECT o_orderstatus, o_orderpriority, o_totalprice FROM orders)
        PIVOT (round(sum(o_totalprice), 2)
               FOR o_orderpriority IN ('1-URGENT' AS urgent, '3-MEDIUM' AS medium, '5-LOW' AS low))
        """
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(least(floor(o_totalprice / 50000), 9) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS cnt,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders GROUP BY 1
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (10 buckets of 50k, top bucket
    open-ended): the fixed-bucket formulation every engine vectorizes —
    map-side bucket id, one narrow shuffle on the bucket key. The
    width_bucket builtin compiles to the same floor arithmetic; written
    explicitly so both engines share the exact expression."""
    o = t(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000), F.lit(9)).cast("long")
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money(F.min("o_totalprice")).alias("lo"),
            money(F.max("o_totalprice")).alias("hi"),
        )
    )


@register(
    "agg_hll_sketch",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS sketch_within_bound
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__all__' AS event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS sketch_within_bound
    FROM events
    """,
)
def agg_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apache DataSketches HLL surface (Spark 3.5+): per-event-type distinct-
    user sketches merged into a global union — the mergeable-summary pattern
    that makes 100 TB distinct counting cheap (O(2^lgK) state per group,
    re-aggregatable across days/partitions without rescanning raw data).
    Emitted in bounded-error audit form (r12 verdict task #2; rows-only
    r1–r12, first oracle-backed r13): exact distinct count per group plus
    a boolean asserting the sketch estimate is within 5% of it — ~3× the
    lgK=12 RSE of 1.04/sqrt(2^12) ≈ 1.6%. The "__all__" row additionally
    proves SKETCH-UNION CONSISTENCY: the merged union sketch must land
    within the same bound of the GLOBAL exact distinct (not the per-group
    sum), which is the property that makes cross-partition re-aggregation
    sound. Estimate-vs-exact evidence (round 6): exact at sf0.01 (sparse
    mode); worst group 1.33% err at sf0.1, union row 0.8%."""
    e = t(spark, sf_dir, "events")

    def within(est, exact):
        return F.abs(est - exact) / exact <= 0.05

    per_type = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    typed = per_type.select(
        "event_type",
        "exact_users",
        within(
            F.hll_sketch_estimate("sk").cast("long"), F.col("exact_users")
        ).alias("sketch_within_bound"),
    )
    union_row = (
        per_type.agg(F.hll_union_agg("sk").alias("u"))
        .crossJoin(e.agg(F.countDistinct("user_id").alias("exact_users")))
        .select(
            F.lit("__all__").alias("event_type"),
            "exact_users",
            within(
                F.hll_sketch_estimate("u").cast("long"), F.col("exact_users")
            ).alias("sketch_within_bound"),
        )
    )
    return typed.unionAll(union_row)


@register(
    "agg_boolean",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT) AS big_discounts,
           bool_and(l_quantity > 0) AS all_positive_qty,
           bool_or(l_tax = 0) AS any_tax_free,
           CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_boolean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregate battery: count_if / bool_and (every) / bool_or
    (any) — predicate summaries with O(1) state per group."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("big_discounts"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_tax") == 0).alias("any_tax_free"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "sql_hints",
    oracle="""
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_cust,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def sql_hints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL optimizer-hint surface: /*+ BROADCAST(dim) */ pins the join
    strategy and /*+ REPARTITION(n, col) */ pre-shapes the shuffle — the
    explicit knobs for overriding size estimates at 100 TB (e.g. a dim
    that is small but whose stats say otherwise). Hints are semantically
    neutral: the oracle is the plain join."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT /*+ BROADCAST(nation), REPARTITION(8, n_name) */
               n_name,
               count(*) AS n_cust,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@register(
    "sql_distribute_sort_by",
    oracle="""
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem WHERE l_suppkey < 50 GROUP BY l_suppkey
    """,
)
def sql_distribute_sort_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-dialect physical-layout clauses: DISTRIBUTE BY hashes rows to
    partitions, SORT BY orders within each partition (no global sort) —
    the write-path idiom for producing clustered, per-file-sorted output.
    Content is unchanged, so the oracle is the plain aggregate over the
    distributed-sorted subquery."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_suppkey, count(*) AS cnt, round(sum(l_extendedprice), 2) AS revenue
        FROM (
            SELECT l_suppkey, l_extendedprice
            FROM lineitem WHERE l_suppkey < 50
            DISTRIBUTE BY l_suppkey SORT BY l_suppkey, l_extendedprice)
        GROUP BY l_suppkey
        """
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_customers
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-based EXACT distinct counting (Spark 3.5 bitmap functions):
    each key maps to a bucket bit position, per-group bitmaps OR-merge in
    the aggregate, popcount gives the distinct total. Bitmaps are the
    exact-but-mergeable middle ground between count(DISTINCT) (full
    shuffle of values) and HLL (approximate): state is dense bits, merges
    are bitwise OR, and re-aggregation across partitions/days is free.
    The oracle is plain count(DISTINCT) — the op must equal it exactly."""
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority", F.expr("bitmap_bucket_number(o_custkey)").alias("bkt"))
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias("bm"))
        .groupBy("o_orderpriority")
        .agg(F.expr("sum(bitmap_count(bm))").cast("long").alias("exact_customers"))
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag, l_quantity AS v,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS wt
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    cum AS (
        SELECT l_returnflag, v,
               sum(wt) OVER (PARTITION BY l_returnflag ORDER BY v
                             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(wt) OVER (PARTITION BY l_returnflag) AS tw
        FROM w)
    SELECT l_returnflag, min(v) AS weighted_median
    FROM cum WHERE cw * 2 >= tw
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (price-weighted quantity per return flag): the
    smallest value whose cumulative weight reaches half the group total.
    Weights are integer cents, so the frontier is engine-exact — no
    float-accumulation ordering hazard.

    Sufficient-statistics shape (round-12 sweep find): the original
    per-ROW window partitioned by l_returnflag — 3 distinct keys — so at
    the 100× corpus each window task buffered a ~20 M-row partition for
    the whole-partition total frame and the spill read-ahead thread OOMed
    the 8 g heap (the one FAIL of the r12 sweep). The cumulative-weight
    frontier only needs the WEIGHT SUM PER DISTINCT VALUE: pre-aggregate
    to (flag, v) — a partial-agg shuffle that scales with the value
    domain, not the row count — and run both windows over that tiny
    relation (RANGE ≡ ROWS once v is distinct). Identical result, oracle
    unchanged; at a truly continuous 100 TB value domain the same grain
    is where an approx-quantile sketch would slot in."""
    per_v = (
        t(spark, sf_dir, "lineitem")
        # a row with no observed value or weight is outside the sample
        # (r15 wave-2 null sweep: a NULL level's window position differs
        # between engines; NULL weights would poison the cent sums)
        .where(
            F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
        )
        .select(
            "l_returnflag",
            F.col("l_quantity").alias("v"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("wt"),
        )
        .groupBy("l_returnflag", "v")
        .agg(F.sum("wt").alias("wt"))
    )
    cum_w = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("l_returnflag")
    cum = per_v.select(
        "l_returnflag",
        "v",
        F.sum("wt").over(cum_w).alias("cw"),
        F.sum("wt").over(tot_w).alias("tw"),
    )
    return (
        cum.where(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("weighted_median"))
    )


@register(
    "agg_regression",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in OLS aggregates (price ~ quantity per return flag):
    regr_slope / intercept / r² — single-pass moment accumulation with
    map-side partials, so the shuffle carries five sums per group no
    matter the row count. The SQL-standard regr_* family, JVM-side."""
    li = t(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n"),
        ratio(F.regr_slope(y, x)).alias("slope"),
        ratio(F.regr_intercept(y, x)).alias("intercept"),
        ratio(F.regr_r2(y, x)).alias("r2"),
    )


@register(
    "agg_listagg",
    oracle="""
    SELECT c_mktsegment,
           string_agg(n_name, ',' ORDER BY n_name) AS nations_csv,
           CAST(count(DISTINCT n_name) AS BIGINT) AS n_nations
    FROM (SELECT DISTINCT c_mktsegment, n_name
          FROM customer JOIN nation ON c_nationkey = n_nationkey)
    GROUP BY c_mktsegment
    """,
)
def agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LISTAGG ... WITHIN GROUP (SQL:2023, new in Spark 4) — ordered
    delimiter-joined string aggregation (DuckDB spells it string_agg
    ORDER BY). The WITHIN GROUP sort is per-group and explicit, so the
    concatenation is deterministic — the requirement that makes listagg
    oracle-checkable at all."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_mktsegment,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations_csv,
               count(DISTINCT n_name) AS n_nations
        FROM (SELECT DISTINCT c_mktsegment, n_name
              FROM customer JOIN nation ON c_nationkey = n_nationkey)
        GROUP BY c_mktsegment
        """
    )


@register(
    "agg_count_min_sketch",
    oracle="""
    WITH hashed AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS h
      FROM events),
    pos AS (
      SELECT user_id, h, d,
             ((1000003 * (d + 1) * h + 7919 * d + 271) % 4294967291) % 256 AS bucket
      FROM hashed, UNNEST(generate_series(0, 2)) AS t(d)),
    sketch AS (
      SELECT d, bucket, CAST(count(*) AS BIGINT) AS cnt
      FROM pos GROUP BY d, bucket),
    truth AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS true_cnt
      FROM events GROUP BY user_id),
    top20 AS (
      SELECT user_id, true_cnt FROM truth
      ORDER BY true_cnt DESC, user_id LIMIT 20),
    est AS (
      SELECT p.user_id, CAST(min(s.cnt) AS BIGINT) AS est_cnt
      FROM (SELECT DISTINCT user_id, d, bucket FROM pos) p
      JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
      GROUP BY p.user_id)
    SELECT t.user_id, t.true_cnt, e.est_cnt,
           CAST(e.est_cnt - t.true_cnt AS BIGINT) AS overcount
    FROM top20 t JOIN est e ON t.user_id = e.user_id
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hand-rolled Count-Min sketch (d=3 hash rows × w=256 buckets, same
    affine universal-hash family as the MinHash/Bloom ops): frequency
    estimation in FIXED memory regardless of key cardinality — the
    heavy-hitter primitive when exact per-key counts don't fit. Build is
    one explode(d)+groupBy over (row, bucket) — the shuffle carries at
    most d×w = 768 counter rows; estimates are min over the d counters a
    key hashes to (overestimates only, never under). The report joins the
    top-20 true-count users against their estimates so the oracle checks
    BOTH the sketch arithmetic and the overcount column exactly —
    deterministic hashing makes an approximate-by-nature structure
    exactly verifiable. Spark's own count_min_sketch() aggregate returns
    an opaque binary blob; this formulation keeps the counters queryable
    and engine-portable."""
    P, W, D = 4294967291, 256, 3
    ev = t(spark, sf_dir, "events").select("user_id")
    hashed = ev.withColumn(
        "h", F.expr("cast(conv(substr(md5(cast(user_id as string)), 1, 8), 16, 10) as bigint)")
    )
    pos = hashed.select(
        "user_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        (((F.lit(1000003 * (d + 1)) * F.col("h") + F.lit(7919 * d + 271)) % P) % W).alias("bucket"),
                    )
                    for d in range(D)
                ]
            )
        ).alias("p"),
    ).select("user_id", "p.d", "p.bucket")
    sketch = pos.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))
    truth = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    top20 = truth.orderBy(F.col("true_cnt").desc(), "user_id").limit(20)
    est = (
        pos.select("user_id", "d", "bucket")
        .distinct()
        .join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("user_id")
        .agg(F.min("cnt").alias("est_cnt"))
    )
    return (
        top20.join(est, "user_id")
        .select(
            "user_id",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).cast("long").alias("overcount"),
        )
    )


@register(
    "agg_corr_covar",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covs,
           round(covar_pop(l_quantity, l_discount), 6) AS covp_qty_disc,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics battery: Pearson correlation and sample/
    population covariance per group — single-pass co-moment aggregates
    (mergeable partials, same scale shape as avg/stddev: the shuffle
    carries one moment tuple per group, never rows). Rounds follow the
    §5.3 contract: correlation is a ratio (6 dp), covariance of
    price-scaled values is money-like (2 dp)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        ratio(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        money(F.covar_samp("l_quantity", "l_extendedprice")).alias("covs"),
        ratio(F.covar_pop("l_quantity", "l_discount")).alias("covp_qty_disc"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_ols_multivariate",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(count(*) AS DOUBLE) AS n,
             sum(l_quantity) AS sx, sum(l_discount) AS sy, sum(l_extendedprice) AS sz,
             sum(l_quantity * l_quantity) AS sxx,
             sum(l_quantity * l_discount) AS sxy,
             sum(l_discount * l_discount) AS syy,
             sum(l_quantity * l_extendedprice) AS sxz,
             sum(l_discount * l_extendedprice) AS syz
      FROM lineitem GROUP BY l_returnflag),
    c AS (
      SELECT l_returnflag, n,
             sxx - sx * sx / n AS cxx,
             sxy - sx * sy / n AS cxy,
             syy - sy * sy / n AS cyy,
             sxz - sx * sz / n AS cxz,
             syz - sy * sz / n AS cyz,
             sx / n AS mx, sy / n AS my, sz / n AS mz
      FROM m)
    SELECT l_returnflag,
           round((cxz * cyy - cyz * cxy) / (cxx * cyy - cxy * cxy), 6) AS beta_qty,
           round((cyz * cxx - cxz * cxy) / (cxx * cyy - cxy * cxy), 6) AS beta_disc,
           round(mz - (cxz * cyy - cyz * cxy) / (cxx * cyy - cxy * cxy) * mx
                    - (cyz * cxx - cxz * cxy) / (cxx * cyy - cxy * cxy) * my,
                 2) AS intercept
    FROM c
    """,
)
def agg_ols_multivariate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS (price ~ quantity + discount per return flag) in
    ONE distributed pass: accumulate the 9 raw co-moments with mergeable
    sums, then solve the 2×2 normal equations in closed form (Cramer's
    rule on the centered covariance matrix). This is how multivariate
    regression actually runs at 100 TB — no iterative solver, no
    driver-side matrix library, just moment aggregates (the shuffle
    carries 10 doubles per group) and scalar arithmetic on the reduced
    values. Extends agg_regression's built-in univariate regr_* family to
    the multi-feature case Spark has no built-in for. Identical formula
    order on both engines; round-6/round-2 absorbs ulp drift."""
    li = t(spark, sf_dir, "lineitem")
    x, y, z = F.col("l_quantity"), F.col("l_discount"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"), F.sum(z).alias("sz"),
        F.sum(x * x).alias("sxx"), F.sum(x * y).alias("sxy"),
        F.sum(y * y).alias("syy"), F.sum(x * z).alias("sxz"),
        F.sum(y * z).alias("syz"),
    )
    c = m.select(
        "l_returnflag", "n",
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")).alias("cxx"),
        (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")).alias("cxy"),
        (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")).alias("cyy"),
        (F.col("sxz") - F.col("sx") * F.col("sz") / F.col("n")).alias("cxz"),
        (F.col("syz") - F.col("sy") * F.col("sz") / F.col("n")).alias("cyz"),
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        (F.col("sz") / F.col("n")).alias("mz"),
    )
    det = F.col("cxx") * F.col("cyy") - F.col("cxy") * F.col("cxy")
    b1 = (F.col("cxz") * F.col("cyy") - F.col("cyz") * F.col("cxy")) / det
    b2 = (F.col("cyz") * F.col("cxx") - F.col("cxz") * F.col("cxy")) / det
    return c.select(
        "l_returnflag",
        ratio(b1).alias("beta_qty"),
        ratio(b2).alias("beta_disc"),
        money(F.col("mz") - b1 * F.col("mx") - b2 * F.col("my")).alias("intercept"),
    )


@register(
    "sql_unpivot_syntax",
    oracle="""
    SELECT c_custkey, metric, val
    FROM (SELECT c_custkey, round(c_acctbal, 2) AS acctbal,
                 CAST(c_nationkey AS DOUBLE) AS nationkey
          FROM customer WHERE c_custkey < 2000)
    UNPIVOT (val FOR metric IN (acctbal, nationkey))
    """,
)
def sql_unpivot_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-standard UNPIVOT clause (wide→long in pure SQL, Spark 3.4+):
    the syntax twin of the DataFrame-API agg_unpivot — both lower to the
    same Expand node (each input row fans out to |columns| rows map-side,
    no shuffle). Identical clause runs on DuckDB. UNPIVOT drops NULL
    cells by default in both engines; the projected columns here are
    non-null so the surfaces agree without INCLUDE NULLS."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, metric, val
        FROM (SELECT c_custkey, round(c_acctbal, 2) AS acctbal,
                     CAST(c_nationkey AS DOUBLE) AS nationkey
              FROM customer WHERE c_custkey < 2000)
        UNPIVOT (val FOR metric IN (acctbal, nationkey))
        """
    )


@register(
    "agg_percentile_disc",
    oracle="""
    SELECT c_mktsegment,
           quantile_disc(o_totalprice, 0.5) AS median_disc,
           quantile_disc(o_totalprice, 0.9) AS p90_disc,
           mode(o_orderpriority ORDER BY o_orderpriority) AS priority_mode
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2016 ordered-set aggregates, DISCRETE flavor:
    ``percentile_disc`` returns an actual data value (no interpolation —
    the variant regulators usually require for reporting) plus the modal
    order priority. UNROUNDED like agg_percentile: both engines pick the
    same member value, so floats match bit-for-bit. One shuffle; at
    100 TB the scale path swaps in approx_percentile/t-digest."""
    from ._util import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        SELECT c_mktsegment,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice)
                 AS median_disc,
               percentile_disc(0.9) WITHIN GROUP (ORDER BY o_totalprice)
                 AS p90_disc,
               mode(o_orderpriority) AS priority_mode
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
        """,
    )


@register(
    "stat_crosstab",
    oracle="""
    SELECT CAST(l_returnflag AS VARCHAR) AS l_returnflag_l_linestatus,
           CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrameStatFunctions.crosstab``: the contingency-table one-liner
    (pair frequency matrix of two categoricals). Spark lowers it to the
    same groupBy+pivot plan written out in the oracle — one shuffle on
    the row key, counts combined map-side; column names are the distinct
    values of the second column (bounded cardinality by contract)."""
    ct = t(spark, sf_dir, "lineitem").stat.crosstab("l_returnflag", "l_linestatus")
    cols = [c for c in ct.columns if c != "l_returnflag_l_linestatus"]
    return ct.select(
        "l_returnflag_l_linestatus",
        *[F.col(f"`{c}`").alias(c) for c in sorted(cols)],
    )


@register(
    "agg_skew_kurtosis",
    oracle="""
    WITH m AS (
      SELECT event_type, count(*) AS n,
             avg(value) AS m1,
             avg(value * value) AS m2r,
             avg(value * value * value) AS m3r,
             avg(value * value * value * value) AS m4r
      FROM events GROUP BY event_type)
    SELECT event_type, n,
           round(m1, 6) AS mean_v,
           round(m2r - m1 * m1, 6) AS var_pop,
           round((m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1)
                 / power(m2r - m1 * m1, 1.5), 6) AS skewness,
           round((m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * m1 * m1 * m1 * m1)
                 / power(m2r - m1 * m1, 2) - 3, 6) AS excess_kurtosis
    FROM m
    """,
)
def agg_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution shape per group: population variance,
    skewness and excess kurtosis derived from raw power sums (one pass,
    four avg() aggregates) rather than Spark's built-in skewness/kurtosis
    — the raw-moment formulation is engine-portable (identical algebra on
    the DuckDB side) and is the one-pass map-side-combinable shape that
    scales: the shuffle carries 4 doubles + a count per group, never rows.
    At 100 TB this is the same cost as a plain avg()."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH m AS (
          SELECT event_type, count(*) AS n,
                 avg(value) AS m1,
                 avg(value * value) AS m2r,
                 avg(value * value * value) AS m3r,
                 avg(value * value * value * value) AS m4r
          FROM events GROUP BY event_type)
        SELECT event_type, n,
               round(m1, 6) AS mean_v,
               round(m2r - m1 * m1, 6) AS var_pop,
               round((m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1)
                     / power(m2r - m1 * m1, 1.5), 6) AS skewness,
               round((m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r - 3 * m1 * m1 * m1 * m1)
                     / power(m2r - m1 * m1, 2) - 3, 6) AS excess_kurtosis
        FROM m
        """,
    )


@register(
    "agg_entropy_impurity",
    oracle="""
    WITH c AS (
      SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang),
    tot AS (SELECT source, sum(n) AS tn FROM c GROUP BY source)
    SELECT c.source, CAST(tot.tn AS BIGINT) AS n_docs, count(*) AS n_langs,
           round(-sum((CAST(n AS DOUBLE) / tn) * log2(CAST(n AS DOUBLE) / tn)), 6)
             AS shannon_entropy,
           round(1 - sum((CAST(n AS DOUBLE) / tn) * (CAST(n AS DOUBLE) / tn)), 6)
             AS gini_impurity
    FROM c JOIN tot ON c.source = tot.source
    GROUP BY c.source, tot.tn
    """,
)
def agg_entropy_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical-distribution diagnostics per source: Shannon entropy and
    Gini impurity of the language mix. Two chained hash aggregates (the
    inner one already map-side-combined) + a join that Catalyst turns into
    a broadcast once the per-source grain is small — the class-probability
    terms are exact integer ratios, so the only float ops are the final
    log2/square, stable under round-6 canonicalization. A 100 TB corpus
    shuffles |source × lang| rows here, not documents."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH c AS (
          SELECT source, lang, count(*) AS n FROM documents GROUP BY source, lang),
        tot AS (SELECT source, sum(n) AS tn FROM c GROUP BY source)
        SELECT c.source, CAST(tot.tn AS BIGINT) AS n_docs, count(*) AS n_langs,
               round(-sum((CAST(n AS DOUBLE) / tn) * log2(CAST(n AS DOUBLE) / tn)), 6)
                 AS shannon_entropy,
               round(1 - sum((CAST(n AS DOUBLE) / tn) * (CAST(n AS DOUBLE) / tn)), 6)
                 AS gini_impurity
        FROM c JOIN tot ON c.source = tot.source
        GROUP BY c.source, tot.tn
        """,
    )


@register(
    "agg_geo_harmonic_mean",
    oracle="""
    SELECT l_returnflag, count(*) AS n,
           round(exp(avg(ln(l_extendedprice))), 2) AS geo_mean,
           round(count(*) / sum(1.0 / l_extendedprice), 2) AS harmonic_mean,
           round(avg(l_extendedprice), 2) AS arith_mean
    FROM lineitem WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    """,
)
def agg_geo_harmonic_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric and harmonic means per group via the log-sum / reciprocal-sum
    identities — both are plain one-pass sums (map-side combinable), unlike a
    naive product() which over/underflows immediately at scale. The
    arithmetic ≥ geometric ≥ harmonic ordering doubles as a built-in sanity
    invariant (asserted in tests)."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT l_returnflag, count(*) AS n,
               round(exp(avg(ln(l_extendedprice))), 2) AS geo_mean,
               round(count(*) / sum(1.0 / l_extendedprice), 2) AS harmonic_mean,
               round(avg(l_extendedprice), 2) AS arith_mean
        FROM lineitem WHERE l_extendedprice > 0
        GROUP BY l_returnflag
        """,
    )


@register(
    "agg_approx_percentile_exact_regime",
    oracle="""
    SELECT event_type, count(*) AS n,
           round(quantile_disc(value, 0.25), 2) AS p25,
           round(quantile_disc(value, 0.5), 2) AS p50,
           round(quantile_disc(value, 0.9), 2) AS p90
    FROM events GROUP BY event_type
    """,
)
def agg_approx_percentile_exact_regime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quantile-SKETCH path (approx_percentile, Greenwald–Khanna
    variant) exercised in its exactness regime: the sketch's rank error
    is bounded by n/accuracy, so with accuracy ≥ group cardinality it
    degenerates to the exact discrete quantile — which is what makes the
    sketch output oracle-checkable against DuckDB's quantile_disc
    (verified element-equal, not just close). At 100 TB the SAME plan
    holds with accuracy fixed: memory stays O(accuracy) per group while
    the error bound relaxes gracefully — the scale story agg_percentile's
    exact sort-based variant cannot offer. Partial sketches merge
    map-side like any algebraic aggregate."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT event_type, count(*) AS n,
               round(approx_percentile(value, 0.25, 1000000), 2) AS p25,
               round(approx_percentile(value, 0.5, 1000000), 2) AS p50,
               round(approx_percentile(value, 0.9, 1000000), 2) AS p90
        FROM events GROUP BY event_type
        """,
    )


@register(
    "agg_benford_deviation",
    oracle="""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
                         1, 1) AS INT) AS d
      FROM orders WHERE o_totalprice > 0),
    obs AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
    tot AS (SELECT sum(n) AS t FROM obs)
    SELECT d, n, round(t * log10(1 + 1.0 / d), 2) AS expected_n,
           round((n - t * log10(1 + 1.0 / d)) * (n - t * log10(1 + 1.0 / d))
                 / (t * log10(1 + 1.0 / d)), 6) AS chi2_term
    FROM obs CROSS JOIN tot
    """,
)
def agg_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit (the fraud/data-quality screen):
    observed leading-digit counts vs the log10(1+1/d) expectation, with
    per-digit chi-square contributions. The leading digit comes from the
    INTEGER-CENTS string, not floor(log10(x)) — exact on both engines,
    immune to log-of-near-power-of-ten ulp flips. Map-side digit extract,
    one 9-group aggregate, 1-row total broadcast (allowlisted): at 100 TB
    this is a single cheap pass, which is why Benford screens run on
    full ledgers, not samples."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH digits AS (
          SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING),
                             1, 1) AS INT) AS d
          FROM orders WHERE o_totalprice > 0),
        obs AS (SELECT d, count(*) AS n FROM digits GROUP BY d),
        tot AS (SELECT sum(n) AS t FROM obs)
        SELECT d, n, round(t * log10(1 + 1.0 / d), 2) AS expected_n,
               round((n - t * log10(1 + 1.0 / d)) * (n - t * log10(1 + 1.0 / d))
                     / (t * log10(1 + 1.0 / d)), 6) AS chi2_term
        FROM obs CROSS JOIN tot
        """,
    )


@register(
    "sql_order_by_all",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY ALL
    ORDER BY ALL NULLS FIRST
    LIMIT 40
    """,
)
def sql_order_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL + ORDER BY ALL together — the DuckDB-originated
    shorthand adopted by Spark 4: grouping keys inferred from the
    non-aggregate select list, sort keys from the full select list.
    Pure syntax surface (lowering is identical to the explicit forms:
    one hash aggregate + one range-partition sort). The oracle text
    differs by exactly one token (r15 null sweep): Spark sorts ASC
    NULLS FIRST by default, DuckDB NULLS LAST, so under a LIMIT a
    NULL-keyed group sits inside Spark's frontier and outside
    DuckDB's — the shorthand inherits each engine's null ordering, and
    a portable query must pin it explicitly."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT lang, source, count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY ALL
        ORDER BY ALL
        LIMIT 40
        """,
    )


@register(
    "agg_winsorized_trimmed_mean",
    oracle="""
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag, count(*) AS n,
           round(avg(l.l_extendedprice), 2) AS mean_raw,
           round(avg(CASE WHEN l.l_extendedprice BETWEEN c.lo AND c.hi
                          THEN l.l_extendedprice END), 2) AS mean_trimmed,
           round(avg(least(greatest(l.l_extendedprice, c.lo), c.hi)), 2)
             AS mean_winsorized
    FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def agg_winsorized_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust means per group: 5%-trimmed (drop the tails) and winsorized
    (clamp to the p05/p95 cutpoints) alongside the raw mean. The
    cutpoints are one per-group exact-percentile aggregate broadcast back
    to the stream — the same cutpoint-join pattern as
    llm_curriculum_buckets, so the second pass stays map-side. At 100 TB
    the exact percentile swaps for the sketch (see
    agg_approx_percentile_exact_regime) with no other plan change.

    r16 optimization round: the cuts CTE's built-in percentile() is
    replaced by ``exact_group_percentiles`` (bit-identical, ~7× faster —
    see the helper); the trimmed/winsorized expressions are unchanged."""
    li = t(spark, sf_dir, "lineitem")
    cuts = exact_group_percentiles(
        li, ["l_returnflag"], "l_extendedprice", {"lo": 0.05, "hi": 0.95}
    )
    j = li.select("l_returnflag", "l_extendedprice").join(cuts, "l_returnflag")
    price, lo, hi = F.col("l_extendedprice"), F.col("lo"), F.col("hi")
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(price), 2).alias("mean_raw"),
        F.round(
            F.avg(F.when(price.between(lo, hi), price)), 2
        ).alias("mean_trimmed"),
        F.round(
            F.avg(F.least(F.greatest(price, lo), hi)), 2
        ).alias("mean_winsorized"),
    )


@register(
    "agg_chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type AS r, (dayofweek(ts) + 6) % 7 AS c, count(*) AS o
      FROM events GROUP BY event_type, (dayofweek(ts) + 6) % 7),
    rt AS (SELECT r, sum(o) AS ro FROM cells GROUP BY r),
    ct AS (SELECT c, sum(o) AS co FROM cells GROUP BY c),
    n AS (SELECT sum(o) AS t FROM cells)
    SELECT count(*) AS n_cells,
           CAST((count(DISTINCT cells.r) - 1) * (count(DISTINCT cells.c) - 1)
                AS BIGINT) AS dof,
           round(sum((o - CAST(ro AS DOUBLE) * co / t)
                     * (o - CAST(ro AS DOUBLE) * co / t)
                     / (CAST(ro AS DOUBLE) * co / t)), 6) AS chi2
    FROM cells JOIN rt ON cells.r = rt.r JOIN ct ON cells.c = ct.c CROSS JOIN n
    """,
)
def agg_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between two categoricals
    (event type × day-of-week): full contingency table, expected counts
    from the margins, one summed statistic. Day-of-week is normalized to
    Monday=0 on BOTH engines (Spark's dayofweek is Sunday=1, DuckDB's dow
    is Sunday=0 — the classic cross-engine off-by-one). All inputs are
    exact integer counts; the statistic is a sum of IEEE-exact ratios.
    Scale: one |r×c|-cell aggregate + margin broadcasts — the statistic
    never touches raw rows twice."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH cells AS (
          SELECT event_type AS r, (dayofweek(ts) + 5) % 7 AS c, count(*) AS o
          FROM events GROUP BY event_type, (dayofweek(ts) + 5) % 7),
        rt AS (SELECT r, sum(o) AS ro FROM cells GROUP BY r),
        ct AS (SELECT c, sum(o) AS co FROM cells GROUP BY c),
        n AS (SELECT sum(o) AS t FROM cells)
        SELECT count(*) AS n_cells,
               CAST((count(DISTINCT cells.r) - 1) * (count(DISTINCT cells.c) - 1)
                    AS BIGINT) AS dof,
               round(sum((o - CAST(ro AS DOUBLE) * co / t)
                         * (o - CAST(ro AS DOUBLE) * co / t)
                         / (CAST(ro AS DOUBLE) * co / t)), 6) AS chi2
        FROM cells JOIN rt ON cells.r = rt.r JOIN ct ON cells.c = ct.c CROSS JOIN n
        """,
    )


@register(
    "agg_hash_sample_error_audit",
    oracle="""
    WITH tagged AS (
      SELECT event_type, value,
             CASE WHEN substr(md5(CAST(event_id AS VARCHAR)), 1, 2) < '1a'
                  THEN 1 ELSE 0 END AS in_sample
      FROM events)
    SELECT event_type,
           count(*) AS n_exact,
           CAST(sum(in_sample) AS BIGINT) AS n_sampled,
           round(sum(value), 2) AS sum_exact,
           round(sum(CASE WHEN in_sample = 1 THEN value ELSE 0 END) * 256.0 / 26,
                 2) AS sum_estimated,
           round(abs(sum(CASE WHEN in_sample = 1 THEN value ELSE 0 END) * 256.0 / 26
                     - sum(value)) / sum(value), 6) AS rel_error
    FROM tagged GROUP BY event_type
    """,
)
def agg_hash_sample_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% hash sample (md5 bucket < 26/256) with the
    Horvitz–Thompson scale-up estimate audited against the exact answer
    per group. The content-stable sample is the production pattern for
    cheap dashboard estimates over 100 TB — same rows sampled on every
    run and every cluster, no RNG state — and this op IS the calibration
    harness: it reports the realized relative error so the sample rate
    can be sized to the KPI's tolerance. One map-side tag + one
    conditional aggregate; the exact and estimated sums share a single
    scan."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH tagged AS (
          SELECT event_type, value,
                 CASE WHEN substr(md5(CAST(event_id AS STRING)), 1, 2) < '1a'
                      THEN 1 ELSE 0 END AS in_sample
          FROM events)
        SELECT event_type,
               count(*) AS n_exact,
               CAST(sum(in_sample) AS BIGINT) AS n_sampled,
               round(sum(value), 2) AS sum_exact,
               round(sum(CASE WHEN in_sample = 1 THEN value ELSE 0 END) * 256.0 / 26,
                     2) AS sum_estimated,
               round(abs(sum(CASE WHEN in_sample = 1 THEN value ELSE 0 END) * 256.0 / 26
                         - sum(value)) / sum(value), 6) AS rel_error
        FROM tagged GROUP BY event_type
        """,
    )


@register(
    "agg_welch_t_test",
    oracle="""
    WITH grp AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END AS g,
             count(*) AS n, avg(value) AS mu, var_samp(value) AS s2
      FROM events GROUP BY 1),
    w AS (
      SELECT max(CASE WHEN g = 'treat' THEN n END) AS n1,
             max(CASE WHEN g = 'treat' THEN mu END) AS mu1,
             max(CASE WHEN g = 'treat' THEN s2 END) AS s21,
             max(CASE WHEN g = 'control' THEN n END) AS n2,
             max(CASE WHEN g = 'control' THEN mu END) AS mu2,
             max(CASE WHEN g = 'control' THEN s2 END) AS s22
      FROM grp)
    SELECT CAST(n1 AS BIGINT) AS n_treat, CAST(n2 AS BIGINT) AS n_control,
           round(mu1 - mu2, 6) AS mean_diff,
           round((mu1 - mu2) / sqrt(s21 / n1 + s22 / n2), 6) AS t_stat,
           round(power(s21 / n1 + s22 / n2, 2)
                 / (power(s21 / n1, 2) / (n1 - 1)
                    + power(s22 / n2, 2) / (n2 - 1)), 2) AS welch_dof
    FROM w
    """,
)
def agg_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test (unequal variances): t statistic and the
    Welch–Satterthwaite effective degrees of freedom between the parity
    cohorts — the significance readout that pairs with ts_diff_in_diff's
    point estimate. Inputs are the two groups' (n, mean, sample variance)
    from ONE conditional aggregate pass; the statistic is closed-form
    arithmetic on those six numbers, so the full test costs a single
    map-side scan at any scale."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH grp AS (
          SELECT CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END AS g,
                 count(*) AS n, avg(value) AS mu, var_samp(value) AS s2
          FROM events GROUP BY 1),
        w AS (
          SELECT max(CASE WHEN g = 'treat' THEN n END) AS n1,
                 max(CASE WHEN g = 'treat' THEN mu END) AS mu1,
                 max(CASE WHEN g = 'treat' THEN s2 END) AS s21,
                 max(CASE WHEN g = 'control' THEN n END) AS n2,
                 max(CASE WHEN g = 'control' THEN mu END) AS mu2,
                 max(CASE WHEN g = 'control' THEN s2 END) AS s22
          FROM grp)
        SELECT CAST(n1 AS BIGINT) AS n_treat, CAST(n2 AS BIGINT) AS n_control,
               round(mu1 - mu2, 6) AS mean_diff,
               round((mu1 - mu2) / sqrt(s21 / n1 + s22 / n2), 6) AS t_stat,
               round(power(s21 / n1 + s22 / n2, 2)
                     / (power(s21 / n1, 2) / (n1 - 1)
                        + power(s22 / n2, 2) / (n2 - 1)), 2) AS welch_dof
        FROM w
        """,
    )


#: cumulative Poisson(1) probabilities — the inverse-CDF table both engines
#: share for deterministic Poisson-bootstrap multiplicities.
def _pois1_case(u: str) -> str:
    return (
        f"CASE WHEN {u} < 0.3678794412 THEN 0 WHEN {u} < 0.7357588823 THEN 1 "
        f"WHEN {u} < 0.9196986029 THEN 2 WHEN {u} < 0.9810118431 THEN 3 "
        f"WHEN {u} < 0.9963401532 THEN 4 ELSE 5 END"
    )


_B = 32  # bootstrap replicates
_P32 = 4294967291  # largest 32-bit prime (the minhash affine-family modulus)


def _bootstrap_sql(hash_expr: str, unpivot: str) -> str:
    """Shared lane-structured bootstrap SQL; only the md5→int64 idiom and
    the wide→long reshape differ per engine."""
    ucols = ",\n               ".join(
        f"(({1000003 * (b + 1)} * h + {7919 * b + 271}) % {_P32})"
        f" / {_P32}e0 AS u{b}"
        for b in range(_B)
    )
    mcols = ",\n               ".join(
        f"{_pois1_case(f'u{b}')} AS m{b}" for b in range(_B)
    )
    sums = ",\n               ".join(
        f"round(sum(m{b} * value) / sum(m{b}), 4) AS mean{b}" for b in range(_B)
    )
    return f"""
    WITH hashed AS (
      SELECT event_type, value, {hash_expr} AS h
      FROM events),
    lanes AS (
      SELECT event_type, {sums}
      FROM (SELECT event_type, value,
               {mcols}
            FROM (SELECT event_type, value,
                     {ucols}
                  FROM hashed))
      GROUP BY event_type),
    long AS ({unpivot}),
    base AS (SELECT event_type, round(avg(value), 4) AS mean_full FROM events
             GROUP BY event_type)
    SELECT l.event_type, max(b2.mean_full) AS mean_full,
           {{q05}} AS ci_lo,
           {{q95}} AS ci_hi,
           count(*) AS n_resamples
    FROM long l JOIN base b2 ON l.event_type = b2.event_type
    GROUP BY l.event_type
    """


_MEANS = ", ".join(f"mean{b}" for b in range(_B))
_STACK = ", ".join(f"{b}, mean{b}" for b in range(_B))


@register(
    "agg_poisson_bootstrap_ci",
    oracle=_bootstrap_sql(
        "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)",
        f"SELECT event_type, mean_b FROM lanes "
        f"UNPIVOT (mean_b FOR bi IN ({_MEANS}))",
    ).format(
        q05="round(quantile_disc(l.mean_b, 0.05), 4)",
        q95="round(quantile_disc(l.mean_b, 0.95), 4)",
    ),
)
def agg_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence intervals — the resampling scheme that
    actually works at 100 TB (classical bootstrap needs n draws WITH
    replacement per resample = a shuffle per replicate; the Poisson
    approximation gives every row an independent Poisson(1) multiplicity
    per replicate, so ALL 32 resamples ride ONE pass over the data).
    Multiplicities are DETERMINISTIC: ONE content-stable md5 per row,
    mixed into 32 per-replicate uniforms by the affine universal-hash
    family (llm_minhash_banding's trick) through a shared Poisson(1)
    inverse-CDF table — no RNG state, bit-reproducible across engines.
    LANE-STRUCTURED on purpose: the replicates are 32 map-side sum lanes
    inside whole-stage codegen, NOT a rows×32 explode — the exploded
    formulation materialized 192 M intermediate rows at ≈sf1 (34 s);
    lanes keep the shuffle at |groups| × 64 partial sums (~4 s). The 90%
    CI is the 5th/95th discrete quantile of the 32 replicate means."""
    return sql_q(
        spark,
        sf_dir,
        _bootstrap_sql(
            "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT)",
            f"SELECT event_type, mean_b FROM lanes "
            f"LATERAL VIEW stack({_B}, {_STACK}) AS bi, mean_b",
        ).format(
            q05="round(approx_percentile(l.mean_b, 0.05, 1000000), 4)",
            q95="round(approx_percentile(l.mean_b, 0.95, 1000000), 4)",
        ),
    )


@register(
    "agg_simpsons_paradox_audit",
    oracle="""
    WITH pooled AS (
      SELECT round(regr_slope(o_totalprice, o_custkey % 100), 6) AS slope_pooled
      FROM orders),
    per_seg AS (
      SELECT c.c_mktsegment,
             round(regr_slope(o.o_totalprice, o.o_custkey % 100), 6) AS slope_seg,
             count(*) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment)
    SELECT s.c_mktsegment, s.n, s.slope_seg, p.slope_pooled,
           CASE WHEN sign(s.slope_seg) <> sign(p.slope_pooled)
                THEN 1 ELSE 0 END AS sign_flip
    FROM per_seg s CROSS JOIN pooled p
    """,
)
def agg_simpsons_paradox_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: the pooled regression slope next to each
    segment's within-group slope, flagging sign reversals — the
    aggregation trap every metrics review should run before trusting a
    pooled trend (a positive overall slope can hide uniformly negative
    within-segment slopes when group sizes confound). Built on the
    mergeable regr_slope aggregate: one pooled pass + one segmented
    pass, the 1-row pooled slope broadcast back (allowlisted). Nothing
    here rescans per segment."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH pooled AS (
          SELECT round(regr_slope(o_totalprice, o_custkey % 100), 6) AS slope_pooled
          FROM orders),
        per_seg AS (
          SELECT c.c_mktsegment,
                 round(regr_slope(o.o_totalprice, o.o_custkey % 100), 6) AS slope_seg,
                 count(*) AS n
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment)
        SELECT s.c_mktsegment, s.n, s.slope_seg, p.slope_pooled,
               CASE WHEN sign(s.slope_seg) <> sign(p.slope_pooled)
                    THEN 1 ELSE 0 END AS sign_flip
        FROM per_seg s CROSS JOIN pooled p
        """,
    )


@register(
    "agg_iqr_outlier_fences",
    oracle="""
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag, count(*) AS n,
           round(c.q1, 2) AS q1, round(c.q3, 2) AS q3,
           round(c.q3 - c.q1, 2) AS iqr,
           round(c.q1 - 1.5 * (c.q3 - c.q1), 2) AS lo_fence,
           round(c.q3 + 1.5 * (c.q3 - c.q1), 2) AS hi_fence,
           CAST(sum(CASE WHEN l.l_extendedprice < c.q1 - 1.5 * (c.q3 - c.q1)
                           OR l.l_extendedprice > c.q3 + 1.5 * (c.q3 - c.q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM lineitem l JOIN cuts c ON l.l_returnflag = c.l_returnflag
    GROUP BY l.l_returnflag, c.q1, c.q3
    """,
)
def agg_iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences per group: Q1/Q3, IQR, the 1.5·IQR fences and
    the outlier count beyond them — the distribution-free outlier
    definition every BI boxplot encodes, as a first-class operator. Same
    two-pass cutpoint-broadcast shape as agg_winsorized_trimmed_mean:
    the quantile aggregate is |groups| rows, the fence test is map-side
    on the second pass. Fence comparisons use the UNROUNDED cutpoints on
    both engines (round only in the report columns), so boundary rows
    classify identically.

    r16 optimization round: the cuts CTE's built-in percentile() is
    replaced by ``exact_group_percentiles`` (bit-identical, ~7× faster —
    see the helper); the fence arithmetic and the second pass are
    unchanged expression for expression, so boundary rows still classify
    identically on both engines."""
    li = t(spark, sf_dir, "lineitem")
    cuts = exact_group_percentiles(
        li, ["l_returnflag"], "l_extendedprice", {"q1": 0.25, "q3": 0.75}
    )
    j = li.select("l_returnflag", "l_extendedprice").join(cuts, "l_returnflag")
    q1, q3, price = F.col("q1"), F.col("q3"), F.col("l_extendedprice")
    lo = q1 - 1.5 * (q3 - q1)
    hi = q3 + 1.5 * (q3 - q1)
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.max(q1), 2).alias("q1"),
        F.round(F.max(q3), 2).alias("q3"),
        F.round(F.max(q3 - q1), 2).alias("iqr"),
        F.round(F.max(lo), 2).alias("lo_fence"),
        F.round(F.max(hi), 2).alias("hi_fence"),
        F.sum(
            F.when((price < lo) | (price > hi), 1).otherwise(0)
        ).cast("bigint").alias("n_outliers"),
    )


@register(
    "agg_histogram_2d",
    oracle="""
    SELECT CAST(least(floor(value / 50), 9) AS INT) AS value_bin,
           CAST(hour(ts) AS INT) AS hour_bin,
           count(*) AS n,
           round(sum(value), 2) AS bin_value_sum
    FROM events
    GROUP BY least(floor(value / 50), 9), hour(ts)
    """,
)
def agg_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D histogram (value band × hour of day) — the heatmap feed behind
    every operational dashboard: one hash aggregate over two binned
    dimensions, cells bounded at |bins_x × bins_y| regardless of volume.
    Bin edges are fixed-width integer arithmetic (floor/least), so the
    cell assignment is exact on both engines; a production variant swaps
    the fixed edges for quantile-sketch cutpoints (the
    llm_curriculum_buckets pattern) without changing the plan."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT CAST(least(floor(value / 50), 9) AS INT) AS value_bin,
               CAST(hour(ts) AS INT) AS hour_bin,
               count(*) AS n,
               round(sum(value), 2) AS bin_value_sum
        FROM events
        GROUP BY least(floor(value / 50), 9), hour(ts)
        """,
    )


@register(
    "agg_ks_test_two_sample",
    oracle="""
    WITH lab AS (
      SELECT round(value, 2) AS v,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp
      FROM events WHERE value IS NOT NULL),
    lev AS (
      SELECT v, sum(grp) AS a, count(*) - sum(grp) AS b FROM lab GROUP BY v),
    tot AS (SELECT sum(a) AS ta, sum(b) AS tb FROM lev),
    cum AS (
      SELECT v,
             sum(a) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
             sum(b) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
      FROM lev)
    SELECT CAST(tot.ta AS BIGINT) AS n_treat, CAST(tot.tb AS BIGINT) AS n_control,
           CAST(count(*) AS BIGINT) AS n_levels,
           round(max(abs(CAST(ca AS DOUBLE) / tot.ta
                         - CAST(cb AS DOUBLE) / tot.tb)), 6) AS ks_d,
           round(1.36 * sqrt((tot.ta + tot.tb) / (CAST(tot.ta AS DOUBLE) * tot.tb)),
                 6) AS crit_05
    FROM cum CROSS JOIN tot
    GROUP BY tot.ta, tot.tb
    """,
)
def agg_ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: D = max |ECDF_a − ECDF_b|
    between the parity cohorts, with the 5% asymptotic critical value —
    the distribution-free "did the whole DISTRIBUTION shift" complement
    to agg_welch_t_test's mean comparison. Same scale trick as
    ml_roc_auc: values collapse to DISTINCT LEVELS first, so the ECDF
    cumulative window runs over the bounded level grain (≤49k
    two-decimal levels), never a per-row global sort; all cumulative
    counts are exact integers until the final divisions."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH lab AS (
          SELECT round(value, 2) AS v,
                 CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS grp
          FROM events WHERE value IS NOT NULL),
        lev AS (
          SELECT v, sum(grp) AS a, count(*) - sum(grp) AS b FROM lab GROUP BY v),
        tot AS (SELECT sum(a) AS ta, sum(b) AS tb FROM lev),
        cum AS (
          SELECT v,
                 sum(a) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
                 sum(b) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
          FROM lev)
        SELECT CAST(tot.ta AS BIGINT) AS n_treat, CAST(tot.tb AS BIGINT) AS n_control,
               CAST(count(*) AS BIGINT) AS n_levels,
               round(max(abs(CAST(ca AS DOUBLE) / tot.ta
                             - CAST(cb AS DOUBLE) / tot.tb)), 6) AS ks_d,
               round(1.36 * sqrt((tot.ta + tot.tb) / (CAST(tot.ta AS DOUBLE) * tot.tb)),
                     6) AS crit_05
        FROM cum CROSS JOIN tot
        GROUP BY tot.ta, tot.tb
        """,
    )


_MWU_SQL = """
    WITH s AS (
      SELECT round(value, 2) AS v,
             CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a
      FROM events
      WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
    lev AS (SELECT v, sum(a) AS na, count(*) AS nt FROM s GROUP BY v),
    cum AS (
      SELECT v, na, nt,
             sum(nt) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt AS below
      FROM lev),
    agg AS (
      SELECT sum(na * (below + (nt + 1) / 2.0)) AS r1,
             sum(na) AS n1, sum(nt) - sum(na) AS n2, sum(nt) AS n,
             sum(CAST(nt AS DOUBLE) * nt * nt - nt) AS tie3
      FROM cum)
    SELECT CAST(n1 AS BIGINT) AS n_click, CAST(n2 AS BIGINT) AS n_view,
           round(CAST(r1 - n1 * (n1 + 1) / 2.0 AS DOUBLE), 2) AS u_stat,
           round((r1 - n1 * (n1 + 1) / 2.0 - n1 * n2 / 2.0)
                 / sqrt(n1 * n2 / 12.0
                        * ((n + 1) - tie3 / (CAST(n AS DOUBLE) * (n - 1)))), 6)
             AS z_score
    FROM agg
"""


@register("agg_mann_whitney_u", oracle=_MWU_SQL)
def agg_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test between the click and view value
    distributions — the nonparametric sibling of ``agg_welch_t_test`` (and
    the population-level statistic whose pairwise form IS the ROC AUC, see
    ``test_auc_equals_mann_whitney_bruteforce``). Rank sums come from the
    level grain: group by the two-decimal value level (the same bounded
    domain convention as ml_roc_auc / agg_ks_test_two_sample — ≤49k levels
    by construction), one cumulative window over levels gives every
    level's midrank, so the window input is the bounded level set, never
    the event count, and ties get the exact midrank + the standard
    tie-corrected normal variance. Closed form after one scan + one level
    aggregation at any scale."""
    return sql_q(spark, sf_dir, _MWU_SQL)


_SPEARMAN_SQL = """
    WITH r AS (
      SELECT event_type,
             rank() OVER (PARTITION BY event_type ORDER BY value)
               + (count(*) OVER (PARTITION BY event_type, value) - 1) / 2e0
               AS rx,
             rank() OVER (PARTITION BY event_type ORDER BY {ts_expr})
               + (count(*) OVER (PARTITION BY event_type, {ts_expr}) - 1) / 2e0
               AS ry
      FROM events WHERE value IS NOT NULL)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           round(corr(rx, ry), 6) AS spearman_rho
    FROM r GROUP BY event_type ORDER BY event_type
"""


@register(
    "agg_spearman_rho",
    oracle=_SPEARMAN_SQL.format(ts_expr="epoch_us(CAST(ts AS TIMESTAMP))"),
)
def agg_spearman_rho(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between event value and event time per
    event type — the monotone-trend detector that is robust where Pearson
    (``agg_corr_covar``) is linear-only. Midranks (rank() + (ties-1)/2)
    make tied values exact; rho is then Pearson's corr of the two rank
    columns in the same partitioned window pass — two windows + one agg,
    all on the event_type shuffle key, no global sort. At 100 TB the
    per-type rank would shard via the _range_prefix partition-offset
    pattern (operators/windows.py) instead of one window task per type;
    the statistic is unchanged."""
    return sql_q(spark, sf_dir, _SPEARMAN_SQL.format(ts_expr="unix_micros(ts)"))


_PAIRED_T_SQL = """
    WITH per_user AS (
      SELECT user_id,
             avg(CASE WHEN event_type = 'click' THEN value END) AS mc,
             avg(CASE WHEN event_type = 'view' THEN value END) AS mv
      FROM events GROUP BY user_id),
    d AS (
      SELECT mc - mv AS diff FROM per_user
      WHERE mc IS NOT NULL AND mv IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(diff), 6) AS mean_diff,
           round(stddev_samp(diff), 6) AS sd_diff,
           round(avg(diff) / (stddev_samp(diff) / sqrt(count(*))), 6) AS t_stat
    FROM d
"""


@register("agg_paired_t_test", oracle=_PAIRED_T_SQL)
def agg_paired_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test on per-user click-vs-view mean values (users with both
    behaviors form the pairs) — the within-subject design that removes
    between-user variance, complementing the unpaired ``agg_welch_t_test``.
    One user_id aggregation builds the pairs (conditional means fold
    map-side), then the t statistic is closed-form over the difference
    column — two hash aggregates, no join, no window."""
    return sql_q(spark, sf_dir, _PAIRED_T_SQL)


_COHENS_SQL = """
    WITH grp AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'treat' ELSE 'control' END AS g,
             count(*) AS n, avg(value) AS mu, var_samp(value) AS s2
      FROM events GROUP BY 1),
    w AS (
      SELECT max(CASE WHEN g = 'treat' THEN n END) AS n1,
             max(CASE WHEN g = 'treat' THEN mu END) AS mu1,
             max(CASE WHEN g = 'treat' THEN s2 END) AS s21,
             max(CASE WHEN g = 'control' THEN n END) AS n2,
             max(CASE WHEN g = 'control' THEN mu END) AS mu2,
             max(CASE WHEN g = 'control' THEN s2 END) AS s22
      FROM grp)
    SELECT CAST(n1 AS BIGINT) AS n_treat, CAST(n2 AS BIGINT) AS n_control,
           round(mu1 - mu2, 6) AS mean_diff,
           round((mu1 - mu2)
                 / sqrt(((n1 - 1) * s21 + (n2 - 1) * s22) / (n1 + n2 - 2)), 6)
             AS cohens_d,
           round((mu1 - mu2)
                 / sqrt(((n1 - 1) * s21 + (n2 - 1) * s22) / (n1 + n2 - 2))
                 * (1 - 3.0 / (4 * (n1 + n2) - 9)), 6) AS hedges_g
    FROM w
"""


@register("agg_cohens_d_effect_size", oracle=_COHENS_SQL)
def agg_cohens_d_effect_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size (pooled-variance) with the
    Hedges' g small-sample correction between the parity cohorts — the
    magnitude readout that belongs next to agg_welch_t_test's
    significance (a tiny p with a trivial d is the classic big-data
    trap: everything is 'significant' at n=10^9, effect size is what
    matters). Same single conditional-aggregate pass as the t-test;
    closed form over six numbers."""
    return sql_q(spark, sf_dir, _COHENS_SQL)


_BH_SQL = """
    WITH grp AS (
      SELECT event_type,
             count(*) AS n, avg(value) AS mu, var_samp(value) AS s2
      FROM events GROUP BY event_type),
    gtot AS (
      SELECT sum(n) AS n_all, sum(n * mu) / sum(n) AS mu_all FROM grp),
    z AS (
      SELECT g.event_type,
             (g.mu - gtot.mu_all) / sqrt(g.s2 / g.n) AS z_stat
      FROM grp g CROSS JOIN gtot),
    p AS (
      SELECT event_type, z_stat,
             -- two-sided normal p via the logistic approximation of Φ
             -- (max abs err 9.5e-4; both engines share the closed form,
             -- so the comparison is exact at 6 dp)
             round(2.0 / (1.0 + exp(1.702 * abs(z_stat))), 6) AS p_value
      FROM z),
    ranked AS (
      SELECT event_type, z_stat, p_value,
             row_number() OVER (ORDER BY p_value, event_type) AS rnk,
             count(*) OVER () AS m
      FROM p),
    stepped AS (
      -- the BH step-up: adjusted p is the running MIN of p*m/rank taken
      -- from the LARGEST rank downward (enforces monotonicity; rejecting
      -- by adjusted<=alpha is then exactly the step-up decision rule)
      SELECT event_type, z_stat, p_value, rnk,
             min(p_value * m / rnk) OVER (ORDER BY rnk DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adj
      FROM ranked)
    SELECT event_type, round(z_stat, 6) AS z_stat, p_value,
           CAST(rnk AS INT) AS p_rank,
           round(least(1.0, adj), 6) AS bh_adjusted,
           CASE WHEN adj <= 0.05 THEN 1 ELSE 0 END AS significant_fdr05
    FROM stepped ORDER BY p_rank
"""


@register("agg_benjamini_hochberg", oracle=_BH_SQL)
def agg_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction across the per-event-type
    mean-vs-gtotal z-test family — the multiple-comparisons guard that
    belongs next to the single-test ops (run 10 000 segment tests at
    α=0.05 uncorrected and ~500 'discoveries' are noise; BH caps the
    expected false-discovery fraction instead). p-values use the
    logistic approximation of the normal CDF so both engines share one
    closed form. The rank window runs over the |event_type| test family
    (bounded grain); everything upstream is one conditional aggregate
    pass + a 1-row gtotal broadcast."""
    return sql_q(spark, sf_dir, _BH_SQL)


_LIFT_SQL = """
    WITH scored AS (
      SELECT CAST(floor(value * 2) AS INT) AS s,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events),
    lev AS (SELECT s, sum(y) AS p, count(*) AS n FROM scored GROUP BY s),
    tot AS (SELECT sum(p) AS tp, sum(n) AS tn FROM lev),
    cum AS (
      SELECT s,
             sum(p) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
             sum(n) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
      FROM lev),
    deciled AS (
      SELECT least(9, CAST(floor(CAST(cn - 1 AS DOUBLE) / tot.tn * 10)
                           AS INT)) AS decile,
             max(cp) AS cum_pos, max(cn) AS cum_n
      FROM cum CROSS JOIN tot
      GROUP BY least(9, CAST(floor(CAST(cn - 1 AS DOUBLE) / tot.tn * 10)
                             AS INT)))
    SELECT d.decile,
           CAST(d.cum_n AS BIGINT) AS cum_rows,
           CAST(d.cum_pos AS BIGINT) AS cum_positives,
           round(CAST(d.cum_pos AS DOUBLE) / tot.tp, 6) AS gain,
           round(CAST(d.cum_pos AS DOUBLE) / d.cum_n
                 / (CAST(tot.tp AS DOUBLE) / tot.tn), 6) AS lift
    FROM deciled d CROSS JOIN tot
    ORDER BY d.decile
"""


@register("agg_lift_gain_table", oracle=_LIFT_SQL)
def agg_lift_gain_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative lift / gains table (decile grain) for ranking events by
    value as a purchase-propensity score — the campaign-targeting readout
    ('the top decile captures X% of purchases at Y× random'). Score
    levels (half-unit buckets of value — a bounded integer domain) carry
    the cumulative window, deciles form on the cumulative row count, so
    no row-grain sort exists anywhere; 1-row totals broadcast closes
    gain/lift. Decile boundaries land identically in both engines because
    the cumulative counts are exact integers.

    The oracle text is the plan: ``lev`` is read by tot and cum, and AQE
    reuses its one events scan + aggregate exchange at runtime."""
    return sql_q(spark, sf_dir, _LIFT_SQL)


_ANOVA_SQL = """
    WITH grp AS (
      SELECT event_type, count(*) AS n, avg(value) AS mu,
             var_samp(value) AS s2
      FROM events GROUP BY event_type),
    tot AS (
      SELECT sum(n) AS n_all, sum(n * mu) / sum(n) AS gm,
             count(*) AS k
      FROM grp),
    ss AS (
      SELECT sum(n * (mu - tot.gm) * (mu - tot.gm)) AS ssb,
             sum((n - 1) * s2) AS ssw,
             max(tot.k) AS k, max(tot.n_all) AS n_all
      FROM grp CROSS JOIN tot)
    SELECT CAST(k AS INT) AS n_groups,
           CAST(n_all AS BIGINT) AS n_rows,
           round(ssb, 6) AS ss_between,
           round(ssw, 6) AS ss_within,
           CAST(k - 1 AS INT) AS df_between,
           CAST(n_all - k AS BIGINT) AS df_within,
           round((ssb / (k - 1)) / (ssw / (n_all - k)), 6) AS f_stat,
           round(ssb / (ssb + ssw), 6) AS eta_squared
    FROM ss
"""


@register("agg_anova_oneway", oracle=_ANOVA_SQL)
def agg_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of event value across event_type groups: F statistic,
    between/within sums of squares, and eta-squared effect size — the
    k-group generalization of agg_welch_t_test. The entire test is
    closed-form arithmetic on each group's (n, mean, sample variance)
    from ONE aggregate pass over the fact table, so at 100 TB it costs a
    single map-side-combinable shuffle of |groups| rows; the CROSS JOINs
    are 1-row broadcasts."""
    return sql_q(spark, sf_dir, _ANOVA_SQL)


_LEVENE_SQL = """
    WITH med AS (
      SELECT event_type, median(value) AS m FROM events GROUP BY event_type),
    z AS (
      SELECT e.event_type, abs(e.value - med.m) AS z
      FROM events e JOIN med ON med.event_type = e.event_type),
    grp AS (
      SELECT event_type, count(*) AS n, avg(z) AS mu, var_samp(z) AS s2
      FROM z GROUP BY event_type),
    tot AS (
      SELECT sum(n) AS n_all, sum(n * mu) / sum(n) AS gm, count(*) AS k
      FROM grp),
    ss AS (
      SELECT sum(n * (mu - tot.gm) * (mu - tot.gm)) AS ssb,
             sum((n - 1) * s2) AS ssw,
             max(tot.k) AS k, max(tot.n_all) AS n_all
      FROM grp CROSS JOIN tot)
    SELECT CAST(k AS INT) AS n_groups,
           CAST(n_all AS BIGINT) AS n_rows,
           CAST(k - 1 AS INT) AS df_between,
           CAST(n_all - k AS BIGINT) AS df_within,
           round((ssb / (k - 1)) / (ssw / (n_all - k)), 6) AS w_stat
    FROM ss
"""


@register("agg_levene_test", oracle=_LEVENE_SQL)
def agg_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's test for homogeneity of variances, Brown–Forsythe variant
    (deviations from the group MEDIAN — robust to heavy tails): W is the
    one-way ANOVA F computed on z_ij = |x_ij − median_j|. Checks the
    equal-variance assumption the classical pooled t-test / ANOVA make
    (pairs with agg_anova_oneway). Plan: one |groups|-row exact-median
    aggregate, broadcast back for the |x − m| pass, then the same
    closed-form ANOVA arithmetic — two shuffles of group-grain rows
    total; median() interpolates identically in both engines."""
    return sql_q(spark, sf_dir, _LEVENE_SQL)


_CRAMERS_SQL = """
    WITH cells AS (
      SELECT event_type AS a,
             CAST(extract(day FROM ts) AS INT) % 7 AS b,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2),
    marg AS (
      SELECT a, b, n,
             sum(n) OVER (PARTITION BY a) AS ra,
             sum(n) OVER (PARTITION BY b) AS cb,
             sum(n) OVER () AS nn
      FROM cells),
    chi AS (
      SELECT sum((n - ra * cb / nn) * (n - ra * cb / nn) / (ra * cb / nn))
               AS chi2,
             count(DISTINCT a) AS r, count(DISTINCT b) AS c, max(nn) AS nn
      FROM marg)
    SELECT round(chi2, 6) AS chi2,
           CAST((r - 1) * (c - 1) AS INT) AS dof,
           CAST(nn AS BIGINT) AS n,
           round(sqrt(chi2 / (nn * (least(r, c) - 1))), 6) AS cramers_v
    FROM chi
"""


@register("agg_cramers_v", oracle=_CRAMERS_SQL)
def agg_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association strength between two categoricals
    (event_type × day-of-month-mod-7 cohort): the chi-square statistic of
    the full contingency table normalized to [0, 1] — the readout that
    makes chi2 comparable across table shapes (complements
    agg_chi_square_independence, which stops at the raw statistic). The
    contingency table is one |r×c|-grain aggregate; marginals come from
    windows OVER the tiny cell set, so nothing touches row grain twice.
    extract(day …) is engine-portable (dayofweek is NOT — Spark counts
    Sunday=1, DuckDB Sunday=0)."""
    return sql_q(spark, sf_dir, _CRAMERS_SQL)


_JSD_SQL = """
    WITH lev AS (
      SELECT CAST(floor(value * 2) AS INT) AS b,
             CAST(count(*) FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS ca,
             CAST(count(*) FILTER (WHERE user_id % 2 = 1) AS DOUBLE) AS cb
      FROM events GROUP BY 1),
    tot AS (
      SELECT sum(ca) AS na, sum(cb) AS nb, count(*) AS dom FROM lev),
    pq AS (
      SELECT (ca + 1) / (tot.na + tot.dom) AS p,
             (cb + 1) / (tot.nb + tot.dom) AS q
      FROM lev CROSS JOIN tot)
    SELECT CAST(max(tot.dom) AS INT) AS n_buckets,
           round(sum(0.5 * p * ln(2 * p / (p + q))
                     + 0.5 * q * ln(2 * q / (p + q))), 6) AS jsd_nats,
           round(sqrt(sum(0.5 * p * ln(2 * p / (p + q))
                          + 0.5 * q * ln(2 * q / (p + q)))), 6)
             AS js_distance
    FROM pq CROSS JOIN tot
"""


@register("agg_js_divergence", oracle=_JSD_SQL)
def agg_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the even-user and odd-user
    value-bucket distributions (half-unit buckets, add-1 smoothing over
    the union domain): the SYMMETRIC, always-finite drift metric —
    llm_kl_divergence_split's KL blows up when the held-out side misses a
    bucket; JSD is bounded by ln 2 and is a metric after sqrt
    (js_distance). One bucket-grain conditional aggregate builds both
    distributions in a single corpus pass; everything after is
    |buckets|-grain arithmetic with 1-row broadcast totals."""
    return sql_q(spark, sf_dir, _JSD_SQL)


_KENDALL_SQL = """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS x,
             sum(CAST(round(value * 100) AS BIGINT)) AS y
      FROM events GROUP BY CAST(ts AS DATE)),
    n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM d),
    p AS (
      SELECT CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) > 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(sum(CASE WHEN (a.x - b.x) * (a.y - b.y) < 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM d a JOIN d b ON a.day < b.day),
    tx AS (SELECT coalesce(sum(k * (k - 1) / 2), 0e0) AS n1
           FROM (SELECT count(*) AS k FROM d GROUP BY x) g),
    ty AS (SELECT coalesce(sum(k * (k - 1) / 2), 0e0) AS n2
           FROM (SELECT count(*) AS k FROM d GROUP BY y) g)
    SELECT n.nd AS n_days, p.c AS concordant, p.d AS discordant,
           round((p.c - p.d)
                 / sqrt((n.nd * (n.nd - 1) / 2 - tx.n1)
                        * (n.nd * (n.nd - 1) / 2 - ty.n2)), 6) AS tau_b
    FROM p CROSS JOIN n CROSS JOIN tx CROSS JOIN ty
"""


@register("agg_kendall_tau", oracle=_KENDALL_SQL)
def agg_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall rank correlation (tau-b, tie-corrected) between daily
    event volume and daily revenue — the robust monotone-association
    companion to agg_spearman_rho, preferred when the series is short
    and ties matter (tau's pairwise definition has no rank-interpolation
    ambiguity). Concordant/discordant pairs are counted over the
    DAY-grain rollup (≤31 rows — the ts_cross_correlation bounded-grain
    discipline), so the O(n²) pair join is a constant-size broadcast
    nested loop over ~500 pairs no matter the corpus scale; the only
    corpus-sized pass is the linear day rollup with exact integer-cents
    sums. Tie terms n1/n2 use the standard Σk(k−1)/2 per tied-value
    group; all arithmetic is integer until the final tau division."""
    return sql_q(spark, sf_dir, _KENDALL_SQL)


_BLOOM_M = 16384  # filter width in bits
_BLOOM_K = 3      # hash functions

_BLOOM_SPARK = f"""
    WITH mem AS (SELECT DISTINCT o_custkey AS key FROM orders),
    probes AS (
      SELECT c_custkey + (SELECT max(key) FROM mem) AS key FROM customer),
    mpos AS (
      SELECT DISTINCT
             pmod(CAST(conv(substr(md5(concat(CAST(key AS STRING), '#',
                                              CAST(i AS STRING))), 1, 8),
                            16, 10) AS BIGINT), {_BLOOM_M}) AS pos
      FROM mem LATERAL VIEW explode(sequence(1, {_BLOOM_K})) s AS i),
    ppos AS (
      SELECT key,
             pmod(CAST(conv(substr(md5(concat(CAST(key AS STRING), '#',
                                              CAST(i AS STRING))), 1, 8),
                            16, 10) AS BIGINT), {_BLOOM_M}) AS pos
      FROM probes LATERAL VIEW explode(sequence(1, {_BLOOM_K})) s AS i),
    hits AS (
      SELECT p.key, count(b.pos) AS nhit
      FROM ppos p LEFT JOIN mpos b ON p.pos = b.pos
      GROUP BY p.key)
    SELECT CAST((SELECT count(*) FROM mem) AS BIGINT) AS n_members,
           CAST((SELECT count(*) FROM mpos) AS BIGINT) AS n_bits_set,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN nhit = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos,
           round(CAST(sum(CASE WHEN nhit = {_BLOOM_K} THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS fpr_measured,
           round(power(1e0 - exp(-({_BLOOM_K}e0 * (SELECT count(*) FROM mem))
                                 / {_BLOOM_M}), {_BLOOM_K}), 6) AS fpr_expected
    FROM hits
"""

_BLOOM_DUCK = f"""
    WITH mem AS (SELECT DISTINCT o_custkey AS key FROM orders),
    probes AS (
      SELECT c_custkey + (SELECT max(key) FROM mem) AS key FROM customer),
    mpos AS (
      SELECT DISTINCT
             CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || '#'
                                      || CAST(i AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_BLOOM_M} AS pos
      FROM mem, UNNEST(generate_series(1, {_BLOOM_K})) AS s(i)),
    ppos AS (
      SELECT key,
             CAST(('0x' || substr(md5(CAST(key AS VARCHAR) || '#'
                                      || CAST(i AS VARCHAR)), 1, 8))
                  AS BIGINT) % {_BLOOM_M} AS pos
      FROM probes, UNNEST(generate_series(1, {_BLOOM_K})) AS s(i)),
    hits AS (
      SELECT p.key, count(b.pos) AS nhit
      FROM ppos p LEFT JOIN mpos b ON p.pos = b.pos
      GROUP BY p.key)
    SELECT CAST((SELECT count(*) FROM mem) AS BIGINT) AS n_members,
           CAST((SELECT count(*) FROM mpos) AS BIGINT) AS n_bits_set,
           CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(CASE WHEN nhit = {_BLOOM_K} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos,
           round(CAST(sum(CASE WHEN nhit = {_BLOOM_K} THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS fpr_measured,
           round(power(1e0 - exp(-({_BLOOM_K}e0 * (SELECT count(*) FROM mem))
                                 / {_BLOOM_M}), {_BLOOM_K}), 6) AS fpr_expected
    FROM hits
"""


@register("agg_bloom_fpr_audit", oracle=_BLOOM_DUCK)
def agg_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter false-positive audit, exactly oracle-checkable
    because the filter is built IN SQL from deterministic md5-prefix
    hashes (k=3 functions over a 16384-bit domain) instead of an opaque
    sketch object: members = customers with orders, probes = customer
    keys offset past the member-key domain (max member key + c_custkey)
    so every probe is a GUARANTEED non-member on any corpus — the
    original customers-without-orders probe set was EMPTY on this corpus
    at every SF (every customer has an order), so the audit measured
    nothing (r9 fix, found by the r10-window property tests); a probe is
    a false positive iff all k of its bit positions
    were set by some member. Reports measured FPR against the textbook
    expectation (1 − e^{-kn/m})^k — the calibration check a platform
    runs before trusting join_bloom_filter-style semi-join pruning at
    100 TB. Scale shape: the distinct bit-position table is ≤ m rows
    (16384) → broadcast to the probe side; both hash expansions are
    map-side lateral explodes, one shuffle each for the DISTINCT and
    the per-probe count."""
    return sql_q(spark, sf_dir, _BLOOM_SPARK)


_CRONBACH_SQL = """
    WITH types AS (SELECT DISTINCT event_type FROM events),
    users AS (SELECT DISTINCT user_id FROM events),
    cnt AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, event_type),
    m AS (
      SELECT u.user_id, t.event_type, coalesce(c.n, 0) AS score
      FROM users u CROSS JOIN types t
      LEFT JOIN cnt c ON c.user_id = u.user_id
                     AND c.event_type = t.event_type),
    iv AS (
      SELECT event_type, var_samp(score) AS v
      FROM m GROUP BY event_type),
    tv AS (
      SELECT var_samp(total) AS v
      FROM (SELECT user_id, sum(score) AS total FROM m GROUP BY user_id) t)
    SELECT CAST((SELECT count(*) FROM users) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS k_items,
           round(sum(iv.v), 6) AS sum_item_var,
           round(max(tv.v), 6) AS total_var,
           round((count(*) * 1e0 / (count(*) - 1))
                 * (1e0 - sum(iv.v) / max(tv.v)), 6) AS cronbach_alpha
    FROM iv CROSS JOIN tv
"""


@register("agg_cronbach_alpha", oracle=_CRONBACH_SQL)
def agg_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha internal-consistency reliability over the
    user × event-type count matrix (each event type is an 'item', a
    user's per-type activity count is the item score): alpha =
    k/(k−1) · (1 − Σ item variances / variance of user totals) — the
    metrics-health check an analytics platform runs on a composite
    engagement score before publishing it. The dense matrix is
    densified with a users × 5-type spine (the type side is a bounded
    enum → broadcast; zeros must be REAL rows or every variance is
    biased). One linear count groupBy, spine left-join at user grain,
    then item-grain and user-grain variance aggregates — all
    map-side-combinable."""
    return sql_q(spark, sf_dir, _CRONBACH_SQL)


_JARQUE_BERA_SQL = """
    WITH m AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             avg(value) AS m1,
             avg(value * value) AS m2r,
             avg(value * value * value) AS m3r,
             avg(value * value * value * value) AS m4r
      FROM events GROUP BY event_type),
    sk AS (
      SELECT event_type, n,
             (m3r - 3 * m1 * m2r + 2 * m1 * m1 * m1)
               / power(m2r - m1 * m1, 1.5) AS s,
             (m4r - 4 * m1 * m3r + 6 * m1 * m1 * m2r
                  - 3 * m1 * m1 * m1 * m1)
               / power(m2r - m1 * m1, 2) - 3 AS k
      FROM m)
    SELECT event_type, n,
           round(s, 6) AS skewness,
           round(k, 6) AS excess_kurtosis,
           round(n * (s * s + k * k / 4) / 6, 6) AS jb_stat,
           CAST(n * (s * s + k * k / 4) / 6 > 5.991464547107979 AS BOOLEAN)
             AS reject_normality_5pct
    FROM sk
    ORDER BY event_type
"""


@register("agg_jarque_bera", oracle=_JARQUE_BERA_SQL)
def agg_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test per event type: JB = n/6 * (S^2 +
    K^2/4) from population skewness S and excess kurtosis K, with the
    5% chi-square(2) rejection decision (critical value 5.9915) — the
    gate a metrics platform runs before applying z-score thresholds
    that assume Gaussian tails. Moments come from raw power sums (the
    agg_skew_kurtosis formulation) rather than builtin skewness()/
    kurtosis(), because the raw-moment algebra is engine-portable AND
    one-pass map-side-combinable: the shuffle carries 4 doubles + a
    count per group regardless of row count — at 100 TB this costs the
    same as a plain avg()."""
    return sql_q(spark, sf_dir, _JARQUE_BERA_SQL)


_HHI_SQL = """
    WITH rev AS (
      SELECT 'Manufacturer#' || substr(p.p_brand, 7, 1) AS mfgr,
             p.p_brand AS brand,
             sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 'Manufacturer#' || substr(p.p_brand, 7, 1), p.p_brand),
    tot AS (
      SELECT mfgr, sum(cents) AS tot_cents,
             CAST(count(*) AS BIGINT) AS n_brands
      FROM rev GROUP BY mfgr)
    SELECT r.mfgr AS mfgr, t.n_brands,
           round(t.tot_cents / 100e0, 2) AS mfgr_revenue,
           round(sum((r.cents * 1e0 / t.tot_cents)
                     * (r.cents * 1e0 / t.tot_cents)), 6) AS hhi,
           round(1e0 / sum((r.cents * 1e0 / t.tot_cents)
                           * (r.cents * 1e0 / t.tot_cents)), 6)
             AS effective_n_brands,
           CASE WHEN sum((r.cents * 1e0 / t.tot_cents)
                         * (r.cents * 1e0 / t.tot_cents)) > 0.25
                THEN 'concentrated'
                WHEN sum((r.cents * 1e0 / t.tot_cents)
                         * (r.cents * 1e0 / t.tot_cents)) > 0.15
                THEN 'moderate' ELSE 'competitive' END AS hhi_band
    FROM rev r JOIN tot t ON r.mfgr = t.mfgr
    GROUP BY r.mfgr, t.n_brands, t.tot_cents
    ORDER BY mfgr
"""


@register("agg_herfindahl_index", oracle=_HHI_SQL)
def agg_herfindahl_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of brand revenue within
    each manufacturer (derived from p_brand 'Brand#MN', M = mfgr digit —
    this corpus carries no p_mfgr column): HHI = sum of squared revenue
    shares, plus the
    effective number of brands (1/HHI) and the DOJ-style concentration
    band — the market-structure rollup a marketplace analytics team
    ships weekly. Two-level reaggregation: one linear lineitem⋈part
    join (fact shuffled once on l_partkey, part is the small build
    side), a (mfgr, brand)-grain revenue rollup (25 mfgr x brand cells),
    then the 5-row mfgr totals join back — everything past the first
    rollup is bounded-enum grain. Revenue summed in integer cents so
    both engines square identical shares."""
    return sql_q(spark, sf_dir, _HHI_SQL)


_THEIL_SQL = """
    WITH x AS (
      SELECT c_mktsegment AS segment, c_acctbal AS v
      FROM customer WHERE c_acctbal > 0),
    m AS (
      SELECT segment, CAST(count(*) AS BIGINT) AS n,
             avg(v) AS mu, sum(v * ln(v)) AS sxlx
      FROM x GROUP BY segment)
    SELECT segment, n,
           round(mu, 2) AS mean_balance,
           round(sxlx / (n * mu) - ln(mu), 6) AS theil_t,
           round(1e0 - exp(-(sxlx / (n * mu) - ln(mu))), 6)
             AS atkinson_equiv
    FROM m
    ORDER BY segment
"""


@register("agg_theil_index", oracle=_THEIL_SQL)
def agg_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of positive account balances per market
    segment, via the decomposable one-pass identity T = Σx·ln(x) /
    (n·μ) − ln(μ) (the form that needs only two sums — no second pass
    over deviations), plus the Atkinson(1) equivalent 1 − e^{−T}. The
    Theil index is the inequality measure that decomposes exactly into
    within-group + between-group terms, which is why economics pipelines
    prefer it to Gini at warehouse scale: the shuffle carries (count,
    Σx, Σx·ln x) per group — map-side-combinable, same cost as avg().
    Negative/zero balances excluded by definition of the log form
    (pushed-down filter). Complements agg_gini_concentration."""
    return sql_q(spark, sf_dir, _THEIL_SQL)


_HELLINGER_SQL = """
    WITH b AS (
      SELECT source, least(CAST(floor(n_chars / 250e0) AS INT), 9) AS bucket
      FROM documents),
    src AS (
      SELECT source, bucket, CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY source, bucket),
    st AS (SELECT source, sum(n) AS tot FROM src GROUP BY source),
    corp AS (
      SELECT bucket, CAST(count(*) AS BIGINT) AS n
      FROM b GROUP BY bucket),
    ct AS (SELECT sum(n) AS tot FROM corp),
    bc AS (
      SELECT s.source,
             sum(sqrt((s.n * 1e0 / st.tot) * (c.n * 1e0 / ct.tot))) AS coef
      FROM src s
      JOIN st ON s.source = st.source
      JOIN corp c ON s.bucket = c.bucket
      CROSS JOIN ct
      GROUP BY s.source)
    SELECT source,
           round(coef, 6) AS bhattacharyya_coef,
           round(sqrt(1e0 - least(coef, 1e0)), 6) AS hellinger_dist,
           round(-ln(coef), 6) AS bhattacharyya_dist
    FROM bc
    ORDER BY source
"""


@register("agg_hellinger_distance", oracle=_HELLINGER_SQL)
def agg_hellinger_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger + Bhattacharyya distance between each source's
    document-length distribution (10 fixed 250-char buckets, top bucket
    open) and the whole-corpus distribution — the drift/skew measure a
    data-curation pipeline uses to decide whether a source needs
    resampling before training (bounded [0,1], symmetric, unlike KL it
    tolerates empty buckets). Two linear bucket rollups (source grain
    and corpus grain), then all arithmetic on the ≤ sources×10 bucket
    cells; the 10-row corpus distribution broadcasts. Complements
    etl_psi_drift (PSI) and agg_js_divergence (JS) with the metric that
    is a true metric."""
    return sql_q(spark, sf_dir, _HELLINGER_SQL)


# --------------------------------------------------------------------------
# Round 7 — statistical-audit additions (SURVEY.md §2.16)
# --------------------------------------------------------------------------

_TUKEY_SQL = """
    WITH g AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             avg(value) AS mu, var_samp(value) AS v
      FROM events GROUP BY event_type),
    w AS (
      SELECT sum((n - 1) * v) / (sum(n) - count(*)) AS msw FROM g)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.n AS n_a, b.n AS n_b,
           round(a.mu - b.mu, 6) AS mean_diff,
           round(abs(a.mu - b.mu)
                 / sqrt(w.msw * (1e0 / a.n + 1e0 / b.n) / 2), 6) AS q_stat,
           CAST(abs(a.mu - b.mu)
                / sqrt(w.msw * (1e0 / a.n + 1e0 / b.n) / 2)
                > 3.858 AS BOOLEAN) AS significant_5pct
    FROM g a JOIN g b ON a.event_type < b.event_type
    CROSS JOIN w
    ORDER BY type_a, type_b
"""


@register("agg_tukey_hsd", oracle=_TUKEY_SQL)
def agg_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc pairwise comparison after agg_anova_oneway:
    for every event-type pair the mean difference and the studentized
    range statistic q = |mu_a - mu_b| / sqrt(MSW/2 * (1/n_a + 1/n_b)),
    flagged against the k=5, df=inf 5% critical value 3.858 — the
    follow-up every metrics review runs once ANOVA rejects ('WHICH
    groups differ?'). Scale shape: one map-side-combinable (n, mean,
    var) pass over the fact, then all arithmetic on the C(5,2) = 10
    pair rows; the 1-row mean-square-within broadcasts. Shared SQL text
    on both engines; only round-6 floats cross the comparison."""
    return sql_q(spark, sf_dir, _TUKEY_SQL)


_DIVERSITY_SQL = """
    WITH c AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang),
    t AS (
      SELECT source, sum(n) AS tot, CAST(count(*) AS BIGINT) AS k
      FROM c GROUP BY source)
    SELECT c.source, max(t.k) AS n_langs,
           round(sum(-(c.n * 1e0 / t.tot) * ln(c.n * 1e0 / t.tot)), 6)
             AS shannon_h,
           round(CASE WHEN max(t.k) = 1 THEN 1e0
                      ELSE sum(-(c.n * 1e0 / t.tot) * ln(c.n * 1e0 / t.tot))
                           / ln(max(t.k)) END, 6) AS pielou_evenness,
           round(1e0 - sum((c.n * 1e0 / t.tot) * (c.n * 1e0 / t.tot)), 6)
             AS gini_simpson,
           round(1e0 / sum((c.n * 1e0 / t.tot) * (c.n * 1e0 / t.tot)), 6)
             AS inverse_simpson
    FROM c JOIN t ON c.source = t.source
    GROUP BY c.source
    ORDER BY c.source
"""


@register("agg_shannon_diversity", oracle=_DIVERSITY_SQL)
def agg_shannon_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-diversity profile per source: Shannon entropy H, Pielou
    evenness H/ln(k), Gini-Simpson 1-sum(p^2) and inverse-Simpson
    effective language count — the corpus-composition card a
    multilingual curation pipeline tracks per crawl source (a source
    whose evenness collapses is drifting monolingual). Scale shape: one
    linear (source, lang) count rollup, then every index is arithmetic
    on the <= sources x langs bounded cell grid. Single-language edge
    pinned: evenness defined as 1 (maximal) when k = 1."""
    return sql_q(spark, sf_dir, _DIVERSITY_SQL)


_HILL_SQL = """
    WITH top_m AS (
      SELECT o_totalprice AS v FROM orders
      ORDER BY o_totalprice DESC LIMIT 101),
    thr AS (SELECT min(v) AS xm FROM top_m),
    hs AS (
      SELECT avg(ln(t.v / thr.xm)) AS hill_h
      FROM (SELECT v FROM top_m ORDER BY v DESC LIMIT 100) t
      CROSS JOIN thr)
    SELECT CAST(100 AS BIGINT) AS m_order_stats,
           round((SELECT xm FROM thr), 2) AS threshold,
           round(hill_h, 6) AS hill_h,
           round(1e0 / hill_h, 6) AS tail_alpha,
           CAST(1e0 / hill_h < 2 AS BOOLEAN) AS infinite_variance_regime
    FROM hs
"""


@register("agg_hill_tail_index", oracle=_HILL_SQL)
def agg_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the Pareto tail index over order values: with
    the top m = 100 order statistics, H = mean ln(x_(i) / x_(m+1)) and
    alpha = 1/H, plus the alpha < 2 infinite-variance flag — the
    heavy-tail diagnostic that decides whether mean-based SLAs/alerts
    are even meaningful on a revenue stream. Tie-safe: a boundary value
    tied with the threshold contributes ln(1) = 0 whichever copy the
    LIMIT keeps, so the estimate is deterministic under ties. Scale
    shape: TakeOrdered(101) is the only corpus-touching step (no global
    sort); everything after runs on 100 driver-side-bounded rows."""
    return sql_q(spark, sf_dir, _HILL_SQL)


_BOWLEY_SQL = """
    WITH q AS (
      SELECT c_mktsegment AS segment,
             CAST(count(*) AS BIGINT) AS n,
             {q1} AS q1, {q2} AS q2, {q3} AS q3
      FROM customer GROUP BY c_mktsegment)
    SELECT segment, n, q1, q2, q3,
           round((q3 + q1 - 2 * q2) / nullif(q3 - q1, 0), 6)
             AS bowley_skew,
           round((q3 - q1) / nullif(q3 + q1, 0), 6)
             AS quartile_coeff_dispersion
    FROM q ORDER BY segment
"""


@register(
    "agg_bowley_quartile_skew",
    oracle=_BOWLEY_SQL.format(
        q1="quantile_disc(c_acctbal, 0.25)",
        q2="quantile_disc(c_acctbal, 0.50)",
        q3="quantile_disc(c_acctbal, 0.75)",
    ),
)
def agg_bowley_quartile_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bowley (quartile) skewness and the quartile coefficient of
    dispersion of account balances per market segment — the robust
    shape summary that, unlike moment skewness (agg_skew_kurtosis),
    cannot be hijacked by a single whale account. DISCRETE quantiles on
    both engines (actual member values, no interpolation) so the
    quartiles match bit-for-bit and the only floats are two rounded
    ratios. One shuffle to the segment grain; at 100 TB the exact
    quantiles swap for approx_percentile with the same downstream
    algebra."""
    return sql_q(
        spark,
        sf_dir,
        _BOWLEY_SQL.format(
            q1="percentile_disc(0.25) WITHIN GROUP (ORDER BY c_acctbal)",
            q2="percentile_disc(0.50) WITHIN GROUP (ORDER BY c_acctbal)",
            q3="percentile_disc(0.75) WITHIN GROUP (ORDER BY c_acctbal)",
        ),
    )


_MADZ_SQL = """
    WITH med AS (
      SELECT event_type, median(value) AS m
      FROM events GROUP BY event_type),
    mad AS (
      SELECT e.event_type, max(med.m) AS m,
             median(abs(e.value - med.m)) AS mad
      FROM events e JOIN med ON e.event_type = med.event_type
      GROUP BY e.event_type)
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(max(mad.m), 6) AS median_value,
           round(max(mad.mad), 6) AS mad,
           CAST(sum(CASE WHEN abs(0.6745 * (e.value - mad.m)
                             / nullif(mad.mad, 0)) > 3.5
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(sum(CASE WHEN abs(0.6745 * (e.value - mad.m)
                              / nullif(mad.mad, 0)) > 3.5
                          THEN 1e0 ELSE 0e0 END) / count(*), 6)
             AS outlier_share
    FROM events e JOIN mad ON e.event_type = mad.event_type
    GROUP BY e.event_type
    ORDER BY e.event_type
"""


@register("agg_mad_robust_z", oracle=_MADZ_SQL)
def agg_mad_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outlier detection per event type: modified
    z-score 0.6745 * (x - median) / MAD with the Iglewicz-Hoaglin 3.5
    cutoff — the outlier gate that survives the exact contamination
    that breaks mean/stddev z-scores (agg_iqr_outlier_fences'
    breakdown-point sibling). Exact medians on both engines (the
    agg_levene_test discipline); zero-MAD degenerate groups emit zero
    outliers via NULLIF. Scale shape: two median passes + one counting
    pass, each one shuffle on the same |types| key; the 5-row
    median/MAD table broadcasts into the scoring scan. At 100 TB the
    medians swap for approx_percentile, cutoff algebra unchanged."""
    return sql_q(spark, sf_dir, _MADZ_SQL)


_HASH_UNIF_SQL = """
    WITH b AS (
      SELECT CAST({hx} AS BIGINT) % 256 AS bucket
      FROM (SELECT DISTINCT user_id FROM events) u),
    o AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY bucket),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
                 CAST(count(*) AS BIGINT) AS k FROM o)
    SELECT t.tot AS n_keys,
           t.k AS n_buckets_hit,
           round(sum((o.n - t.tot / 256e0) * (o.n - t.tot / 256e0)
                     / (t.tot / 256e0))
                 + (256 - t.k) * (t.tot / 256e0), 6) AS chi_square,
           CAST(sum((o.n - t.tot / 256e0) * (o.n - t.tot / 256e0)
                    / (t.tot / 256e0))
                + (256 - t.k) * (t.tot / 256e0)
                > 293.2478350807001 AS BOOLEAN) AS reject_uniform_5pct,
           round(max(o.n) * 256e0 / t.tot, 6) AS max_bucket_load_ratio
    FROM o CROSS JOIN t
    GROUP BY t.tot, t.k
"""


@register(
    "agg_hash_uniformity_chisq",
    oracle=_HASH_UNIF_SQL.format(
        hx="('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 2))"
    ),
)
def agg_hash_uniformity_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square uniformity test of the repo's own md5-bucket hashing
    discipline: the first md5 byte of every distinct user key lands in
    one of 256 buckets; chi-square against the uniform expectation
    (including empty buckets) with the chi2(255) 5% critical value
    293.25, plus the max-bucket load ratio — the pre-flight check that
    certifies hash splits (llm_hash_split, ml_kfold_assignment,
    filt_hash_sample) and salted-key schemes are actually balanced
    before a 100 TB shuffle bets on it. One distinct-key pass, a
    256-row bucket grain, 1-row algebra."""
    return sql_q(
        spark,
        sf_dir,
        _HASH_UNIF_SQL.format(
            hx="conv(substr(md5(CAST(user_id AS STRING)), 1, 2), 16, 10)"
        ),
    )


_TRYCAST_SQL = """
    WITH dirty AS (
      SELECT o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0
                  THEN 'x' || CAST(o_totalprice AS {st})
                  WHEN o_orderkey % 11 = 0 THEN ''
                  ELSE CAST(o_totalprice AS {st}) END AS raw
      FROM orders),
    parsed AS (
      SELECT o_orderstatus, raw, try_cast(raw AS DOUBLE) AS v FROM dirty)
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unparseable,
           round(sum(CASE WHEN v IS NULL THEN 0e0 ELSE 1e0 END)
                 / count(*), 6) AS parse_rate,
           round(sum(coalesce(v, 0)) , 2) AS parsed_total
    FROM parsed GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@register(
    "sql_try_cast_audit", oracle=_TRYCAST_SQL.format(st="VARCHAR")
)
def sql_try_cast_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safe-parsing audit with try_cast over a deterministically dirtied
    numeric column (every 7th key gets a stray prefix, every 11th goes
    empty — the two classic ingest corruptions): per status the
    unparseable count, parse rate and the total that survives — the
    ANSI-mode-safe pattern that replaces 'cast and pray' when Spark
    runs with spark.sql.ansi.enabled (a plain CAST would abort the
    whole job on row one). try_cast exists verbatim in both engines;
    integer-key modular corruption keeps the verdict exact. One
    map-side scan + |status| grain."""
    return sql_q(spark, sf_dir, _TRYCAST_SQL.format(st="STRING"))


_WELFORD_SQL = """
    WITH h AS (
      SELECT event_type,
             CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS half,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    st AS (
      SELECT event_type, half,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(cents * cents) AS BIGINT) AS ss
      FROM h GROUP BY event_type, half),
    m2 AS (
      SELECT event_type, half, n, s,
             ss - s * 1e0 * s / n AS m2
      FROM st),
    merged AS (
      SELECT a.event_type,
             a.n + b.n AS n,
             a.m2 + b.m2
               + (a.s * 1e0 / a.n - b.s * 1e0 / b.n)
                 * (a.s * 1e0 / a.n - b.s * 1e0 / b.n)
                 * a.n * b.n / (a.n + b.n) AS m2_merged
      FROM m2 a JOIN m2 b ON a.event_type = b.event_type
                         AND a.half = 1 AND b.half = 2),
    fullagg AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(cents * cents) AS BIGINT) AS ss
      FROM h GROUP BY event_type)
    SELECT m.event_type, m.n AS n_rows,
           round(m.m2_merged / m.n / 1e4, 4) AS var_merged_dollars,
           round((f.ss - f.s * 1e0 * f.s / f.n) / f.n / 1e4, 4)
             AS var_full_dollars,
           CAST(abs(m.m2_merged - (f.ss - f.s * 1e0 * f.s / f.n))
                <= 1e-6 * (f.ss - f.s * 1e0 * f.s / f.n) AS BOOLEAN)
             AS merge_consistent
    FROM merged m JOIN fullagg f ON f.event_type = m.event_type
    ORDER BY m.event_type
"""


@register("agg_welford_merge_audit", oracle=_WELFORD_SQL)
def agg_welford_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chan/Welford variance-state MERGE identity, proven on real data:
    M2_total = M2_a + M2_b + (mu_a - mu_b)^2 * n_a*n_b/n — the
    correction term every distributed/parallel variance (including
    Spark's own partial aggregation) relies on; a pipeline that merges
    variance states without it silently underestimates spread. Each
    half-month M2 derives from exact int64 (n, sum, sum-of-squares),
    so the identity check is pure double arithmetic on identical
    inputs, certified at 1e-6 relative. Extends
    etl_incremental_state_merge_audit from the easy mergeable states
    (count/sum/min/max) to the quadratic one."""
    return sql_q(spark, sf_dir, _WELFORD_SQL)


_GRPSAMPLE_SQL = """
    WITH pre AS (
      SELECT o_orderstatus, o_orderkey,
             md5(CAST(o_orderkey AS {st})) AS h
      FROM orders
      WHERE substr(md5(CAST(o_orderkey AS {st})), 1, 2) <= '10'),
    ranked AS (
      SELECT o_orderstatus, o_orderkey,
             row_number() OVER (PARTITION BY o_orderstatus
                                ORDER BY h, o_orderkey) AS rn
      FROM pre),
    tot AS (
      SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows
      FROM orders GROUP BY o_orderstatus)
    SELECT t.o_orderstatus, t.n_rows,
           CAST(count(r.o_orderkey) AS BIGINT) AS sample_size,
           CAST(sum(r.o_orderkey) AS BIGINT) AS sample_key_sum,
           min(r.o_orderkey) AS sample_min_key,
           max(r.o_orderkey) AS sample_max_key
    FROM tot t
    JOIN ranked r ON r.o_orderstatus = t.o_orderstatus AND r.rn <= 5
    GROUP BY t.o_orderstatus, t.n_rows
    ORDER BY t.o_orderstatus
"""


@register(
    "agg_deterministic_group_sample",
    oracle=_GRPSAMPLE_SQL.format(st="VARCHAR"),
)
def agg_deterministic_group_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic uniform k-per-group sampling by hash rank: the 5
    orders with the smallest md5(key) per status ARE a uniform random
    sample (md5 is uniform over keys) yet reproducible across runs,
    engines and retries — the sampling discipline a debugging/eval
    pipeline needs where rand() would break retry idempotency. The
    window sorts each group by hash with a key tiebreak; the audit row
    carries the sample's key checksum so two engines prove they chose
    the SAME rows, not just the same count. At 100 TB the same rule
    runs exactly as written: the hash PRE-FILTER (md5 prefix <= '10',
    ~6.6% of keys) bounds the windowed rows before the per-group rank,
    so no group is ever fully sorted — the min-k candidates are a
    uniform hash slice and the k smallest hashes are provably inside
    it for any group with >=5 surviving keys (both engines apply the
    identical filter, so the audit stays exact regardless)."""
    return sql_q(spark, sf_dir, _GRPSAMPLE_SQL.format(st="STRING"))


_LEARNING_CURVE_SQL = """
    WITH base AS (
      SELECT o_orderkey, o_totalprice,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             CAST({hx} AS BIGINT) % 100 AS bucket
      FROM orders),
    fr AS (SELECT f FROM (SELECT 20 AS f UNION ALL SELECT 40
                          UNION ALL SELECT 60 UNION ALL SELECT 80) g),
    thr AS (SELECT t FROM (SELECT 50000e0 AS t UNION ALL SELECT 100000e0
                           UNION ALL SELECT 150000e0 UNION ALL SELECT 200000e0
                           UNION ALL SELECT 250000e0 UNION ALL SELECT 300000e0
                           UNION ALL SELECT 350000e0 UNION ALL SELECT 400000e0
                           UNION ALL SELECT 450000e0) g),
    train_acc AS (
      SELECT fr.f, thr.t,
             sum(CASE WHEN (b.o_totalprice > thr.t) = (b.y = 1)
                      THEN 1 ELSE 0 END) * 1e0 / count(*) AS acc,
             CAST(count(*) AS BIGINT) AS n_train
      FROM fr CROSS JOIN thr
      JOIN base b ON b.bucket < fr.f
      GROUP BY fr.f, thr.t),
    best AS (
      SELECT f, t, acc, n_train,
             row_number() OVER (PARTITION BY f
                                ORDER BY acc DESC, t) AS rk
      FROM train_acc),
    test_acc AS (
      SELECT best.f, best.t,
             sum(CASE WHEN (b.o_totalprice > best.t) = (b.y = 1)
                      THEN 1 ELSE 0 END) * 1e0 / count(*) AS acc_test,
             CAST(count(*) AS BIGINT) AS n_test
      FROM best JOIN base b ON b.bucket >= 80
      WHERE best.rk = 1
      GROUP BY best.f, best.t)
    SELECT b.f AS train_pct, b.n_train, te.n_test,
           round(b.t, 0) AS best_threshold,
           round(b.acc, 6) AS train_accuracy,
           round(te.acc_test, 6) AS test_accuracy,
           round(b.acc - te.acc_test, 6) AS generalization_gap
    FROM best b JOIN test_acc te ON te.f = b.f AND te.t = b.t
    WHERE b.rk = 1
    ORDER BY train_pct
"""


@register(
    "ml_learning_curve_stump",
    oracle=_LEARNING_CURVE_SQL.format(
        hx="('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4))"
    ),
)
def ml_learning_curve_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for the decision-stump classifier (fulfilled ~
    value > t): train on hash-bucket fractions 20/40/60/80% of orders,
    always evaluate on the fixed held-out 20% (buckets >= 80) — per
    fraction the selected threshold, train/test accuracy and the
    generalization gap, i.e. the 'will more data help' diagnostic
    every training run consults before buying more labels. All
    accuracies are exact integer count ratios; threshold selection is
    a 9-literal grid argmax with a deterministic tiebreak; the split
    is the content-stable md5-bucket convention, so the curve is
    bit-reproducible. Scale shape: one 4x9-grid conditional aggregate
    over the fact (map-side), a 4-row argmax, one held-out eval pass."""
    return sql_q(
        spark,
        sf_dir,
        _LEARNING_CURVE_SQL.format(
            hx="conv(substr(md5(CAST(o_orderkey AS STRING)), 1, 4), 16, 10)"
        ),
    )


_GUMBEL_SQL = """
    WITH dm AS (
      SELECT date_trunc('day', ts) AS day,
             max(CAST(round(value * 100) AS BIGINT)) AS mx
      FROM events GROUP BY date_trunc('day', ts)),
    st AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             avg(mx * 1e0) AS m,
             stddev_samp(mx * 1e0) AS s,
             max(mx) AS observed_max
      FROM dm)
    SELECT n AS n_blocks,
           round(m / 100, 2) AS mean_block_max_dollars,
           round(s * 2.449489742783178 / 3.141592653589793 / 100, 2)
             AS gumbel_beta_dollars,
           round((m - 0.5772156649015329 * s * 2.449489742783178
                      / 3.141592653589793) / 100, 2)
             AS gumbel_mu_dollars,
           round((m - 0.5772156649015329 * s * 2.449489742783178
                      / 3.141592653589793
                  - s * 2.449489742783178 / 3.141592653589793
                    * ln(-ln(0.99))) / 100, 2) AS return_level_99_dollars,
           round(observed_max / 100e0, 2) AS observed_max_dollars
    FROM st
"""


@register("agg_extreme_value_gumbel", oracle=_GUMBEL_SQL)
def agg_extreme_value_gumbel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value capacity planning: daily block maxima of event
    value fitted to a Gumbel distribution by method of moments
    (beta = s*sqrt(6)/pi, mu = m - gamma*beta) with the 99% return
    level mu - beta*ln(-ln .99) — 'how big a spike should we
    provision for' — next to the observed maximum for the sanity
    check. Block maxima are exact integer cents; the moment fit runs
    on the <=31-row day grain; sqrt(6) and the Euler-Mascheroni
    constant are double literals so both engines evaluate the same
    expression tree. One linear day-max rollup; 1-row algebra after."""
    return sql_q(spark, sf_dir, _GUMBEL_SQL)


_KMV_SQL = """
    WITH hv AS (
      SELECT CAST({hx} AS BIGINT) AS h
      FROM (SELECT DISTINCT user_id FROM events) u),
    kmin AS (SELECT h FROM hv ORDER BY h LIMIT 256),
    kth AS (SELECT max(h) AS hk, CAST(count(*) AS BIGINT) AS k FROM kmin),
    truth AS (SELECT CAST(count(*) AS BIGINT) AS n FROM hv)
    SELECT truth.n AS true_distinct,
           kth.k AS k_used,
           CAST(round((kth.k - 1) * 4294967296e0 / kth.hk) AS BIGINT)
             AS kmv_estimate,
           round(abs((kth.k - 1) * 4294967296e0 / kth.hk - truth.n)
                 / truth.n, 6) AS rel_error,
           CAST(abs((kth.k - 1) * 4294967296e0 / kth.hk - truth.n)
                / truth.n < 0.15 AS BOOLEAN) AS within_15pct
    FROM kth CROSS JOIN truth
"""


@register(
    "agg_kmv_distinct_estimate",
    oracle=_KMV_SQL.format(
        hx="('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))"
    ),
)
def agg_kmv_distinct_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count estimator built in SQL and audited
    against exact truth: the 256 smallest 32-bit md5 hash values of the
    key domain give estimate (k-1)/u_(k) with u_(k) = h_k/2^32 — the
    order-statistics sketch underlying Theta sketches, here fully
    deterministic (md5, not a seeded hash) so BOTH the estimate and its
    measured relative error are exactly oracle-checkable, unlike
    approx_count_distinct's opaque HLL (agg_approx_distinct stays
    rows-only for that reason). Scale shape: TakeOrdered(256) over a
    map-side hash projection — no global sort; truth is one exact
    distinct for the audit only."""
    return sql_q(
        spark,
        sf_dir,
        _KMV_SQL.format(
            hx="conv(substr(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
        ),
    )


_DISTINCT_MERGE_SQL = """
    WITH h AS (
      SELECT event_type,
             CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS half,
             user_id
      FROM events),
    parts AS (
      SELECT event_type, half,
             CAST(count(DISTINCT user_id) AS BIGINT) AS d
      FROM h GROUP BY event_type, half),
    naive AS (
      SELECT event_type, CAST(sum(d) AS BIGINT) AS d_sum
      FROM parts GROUP BY event_type),
    truth AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS d_true
      FROM h GROUP BY event_type)
    SELECT t.event_type,
           n.d_sum AS naive_summed_distinct,
           t.d_true AS true_distinct,
           CAST(n.d_sum - t.d_true AS BIGINT) AS overlap_double_counted,
           CAST(n.d_sum >= t.d_true AS BOOLEAN) AS inequality_holds,
           CAST(n.d_sum > t.d_true AS BOOLEAN) AS merge_would_overcount
    FROM truth t JOIN naive n ON n.event_type = t.event_type
    ORDER BY t.event_type
"""


@register("agg_distinct_merge_inequality", oracle=_DISTINCT_MERGE_SQL)
def agg_distinct_merge_inequality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The NON-mergeable-state exhibit, closing the state-merge trilogy
    (etl_incremental_state_merge_audit: trivially mergeable;
    agg_welford_merge_audit: mergeable with a correction term; this:
    NOT mergeable at all): summing per-partition distinct counts
    overcounts by exactly the cross-partition overlap, proven per
    event type on real data — the 'why incremental pipelines need HLL/
    Theta sketches instead of count(distinct) per increment' receipt,
    with agg_kmv_distinct_estimate as the mergeable replacement two
    rows up the file. Two distinct aggregations; exact integer
    accounting."""
    return sql_q(spark, sf_dir, _DISTINCT_MERGE_SQL)


_LARGEST_REMAINDER_SQL = """
    WITH rev AS (
      SELECT c_mktsegment AS segment,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c_mktsegment),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS t FROM rev),
    quota AS (
      SELECT r.segment, r.cents,
             r.cents * 100e0 / tot.t AS q,
             CAST(floor(r.cents * 100e0 / tot.t) AS BIGINT) AS fl,
             r.cents * 100e0 / tot.t
               - floor(r.cents * 100e0 / tot.t) AS rem
      FROM rev r CROSS JOIN tot),
    short AS (
      SELECT CAST(100 - sum(fl) AS BIGINT) AS missing FROM quota),
    ranked AS (
      SELECT segment, q, fl, rem,
             row_number() OVER (ORDER BY rem DESC, segment) AS rk
      FROM quota)
    SELECT r.segment,
           round(r.q, 6) AS exact_share_pct,
           r.fl AS floor_pct,
           CAST(r.fl + CASE WHEN r.rk <= s.missing THEN 1 ELSE 0 END
                AS BIGINT) AS allocated_pct
    FROM ranked r CROSS JOIN short s
    ORDER BY r.segment
"""


@register("agg_largest_remainder_allocation", oracle=_LARGEST_REMAINDER_SQL)
def agg_largest_remainder_allocation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Largest-remainder (Hare-quota) percentage allocation of revenue
    share across segments: floor each exact share, then hand the
    missing points to the largest fractional remainders
    (deterministic segment tiebreak) — the rounding-reconciliation
    rule that makes a reported percentage column sum to EXACTLY 100
    (naive per-row rounding drifts by ±(k-1)/2 points, and finance
    dashboards bounce at 99/101). Revenue in exact cents; the
    allocation runs on the 5-row segment grain; Σ allocated = 100 by
    construction."""
    return sql_q(spark, sf_dir, _LARGEST_REMAINDER_SQL)
