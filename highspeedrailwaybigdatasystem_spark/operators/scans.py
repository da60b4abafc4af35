"""Scan operators (SURVEY.md §2.1 — the parquet read path).

Scale notes: these three exist to pin the scan-side guarantees every other
operator depends on — count pushdown into parquet metadata, column pruning
to the reader's ReadSchema, and predicate pushdown to row-group statistics.
tests/test_plans.py asserts the explain() evidence for each.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..schemas import SCHEMAS
from ._util import money, sql_q, t


@register("scan_full", oracle="SELECT count(*) AS cnt FROM lineitem")
def scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-table count; Spark answers this from parquet row-group metadata."""
    return t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "scan_project",
    oracle="SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem",
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-pruned scan: only 3 of 11 columns reach the reader."""
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


@register(
    "scan_partition_prune",
    oracle="""
    SELECT count(*) AS cnt, round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-07-01'
    """,
)
def scan_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range scan; the predicate is sargable so it pushes down to
    parquet row-group min/max stats (skips non-qualifying row groups)."""
    return (
        t(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money(F.sum("l_extendedprice")).alias("sum_price"),
        )
    )


@register(
    "scan_metadata_cols",
    oracle="""
    SELECT 'lineitem.parquet' AS file_name,
           CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem
    """,
)
def scan_metadata_cols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden file-metadata columns (_metadata.file_name et al.): per-file
    row accounting straight from the scan — the lineage/debugging surface
    for multi-file tables (which files fed this partition, how fresh).
    The corpus ships one parquet file per table, so the oracle pins the
    constant name; on a real multi-file table the same query audits every
    file. Zero extra I/O: metadata is attached at the reader, not joined."""
    # the file itself, not the corpus view: _metadata belongs to the file
    # source, and a view does not expose it
    li = spark.read.schema(SCHEMAS["lineitem"]).parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.select(F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "scan_agg_pushdown",
    oracle="""
    SELECT 'lineitem' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_key,
           CAST(max(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem
    UNION ALL
    SELECT 'orders', CAST(count(*) AS BIGINT),
           CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT)
    FROM orders
    """,
)
def scan_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet aggregate pushdown (spark.sql.parquet.aggregatePushdown):
    COUNT(*)/MIN/MAX answered from row-group footer statistics without
    decoding a single data page — the plan shows PushedAggregation and an
    empty data ReadSchema. At 100 TB this turns full-table audits (row
    counts, key ranges) from an I/O storm into a footer walk. Pushdown
    only exists on the DSv2 read path, so BOTH confs are scoped here and
    restored after: aggregatePushdown on, parquet off the V1 source list
    (plan then shows BatchScan + PushedAggregation — asserted in
    test_plans)."""
    prev = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    prev_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    spark.conf.set(
        "spark.sql.sources.useV1SourceList",
        ",".join(s for s in prev_v1.split(",") if s and s != "parquet"),
    )
    try:
        def audit(name: str, key: str) -> DataFrame:
            # read straight from the file (no schema cast: pushdown needs
            # the physical column type) — keys are int64 in every table
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            return df.agg(
                F.lit(name).alias("tbl"),
                F.count(F.lit(1)).alias("n_rows"),
                F.min(key).alias("min_key"),
                F.max(key).alias("max_key"),
            )

        out = audit("lineitem", "l_orderkey").unionAll(audit("orders", "o_orderkey"))
        # materialize ONCE under the scoped conf and hand back the rows —
        # returning the lazy frame would re-optimize (and re-execute) under
        # the caller's restored confs, silently dropping the pushdown.
        # Row-count bound: exactly 2 rows at ANY scale (one global agg per
        # audited table) — guarded (with slack to 4) so a future edit that
        # widens the audit grain can't silently grow a driver-side collect.
        # RuntimeError, not assert: `python -O` must not strip it.
        rows = out.collect()
        if len(rows) > 4:
            raise RuntimeError(f"scoped-conf collect grew: {len(rows)} rows")
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", prev)
        spark.conf.set("spark.sql.sources.useV1SourceList", prev_v1)


@register(
    "api_observe_metrics",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_value
    FROM orders GROUP BY o_orderstatus
    """,
)
def api_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DataFrame.observe`` / ``Observation``: named metrics collected as
    a side effect of the SAME action that computes the query — the
    production pattern for row-count / checksum telemetry without paying
    a second scan (a ``CollectMetrics`` node in the plan accumulates
    map-side, costing ~nothing). The returned result is the ordinary
    per-status aggregate (exact-oracle-checked); the observed metrics
    (global count + value checksum) materialize driver-side when the
    caller acts on it."""
    from pyspark.sql import Observation

    obs = Observation("ingest_telemetry")
    o = t(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("rows_seen"),
        F.round(F.sum("o_totalprice"), 2).alias("value_checksum"),
    )
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        money(F.sum("o_totalprice")).alias("total_value"),
    )


@register(
    "sql_cache_table",
    oracle="""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_value
    FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    GROUP BY o_orderstatus
    """,
)
def sql_cache_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CACHE TABLE`` / ``UNCACHE TABLE``: the SQL surface of the
    columnar in-memory cache. The query is materialized while the cached
    view is live (the plan carries the in-memory relation — asserted here)
    and the cache is released in the same call so no state leaks into
    other operators. Caveat recorded in BASELINE.md: at sf0.1 the
    in-memory scan LOST to the vectorized parquet reader (8.56 s vs
    6.71 s bench A/B) — caching pays only for repeatedly-read hot subsets
    comfortably smaller than executor memory."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    spark.sql(
        """
        CACHE TABLE __hot_orders AS
        SELECT o_orderstatus, o_totalprice, o_orderdate FROM orders
        WHERE o_orderdate >= TIMESTAMP '1998-01-01'
        """
    )
    try:
        out = spark.sql(
            """
            SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_value
            FROM __hot_orders GROUP BY o_orderstatus
            """
        )
        rows = out.collect()  # AQE finalizes the plan on execution
        plan = out._jdf.queryExecution().executedPlan().toString()
        # node prints as "Scan In-memory table"/"InMemoryRelation" (the
        # physical toString never says InMemoryTableScan — ADVICE r3 lesson).
        # RuntimeError, not assert: the cache-hit evidence IS the op's
        # point, and `python -O` must not strip it.
        if "InMemoryRelation" not in plan:
            raise RuntimeError(f"cache not in executed plan: {plan[:500]}")
        return spark.createDataFrame(rows, out.schema)
    finally:
        spark.sql("UNCACHE TABLE IF EXISTS __hot_orders")
        spark.catalog.dropTempView("__hot_orders") if spark.catalog.tableExists(
            "__hot_orders"
        ) else None


_PRED_CORR_SQL = """
    WITH f AS (
      SELECT CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS p_qty,
             CASE WHEN l_extendedprice > 30000 THEN 1 ELSE 0 END AS p_price,
             CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END AS p_disc
      FROM lineitem),
    s AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             sum(p_qty) AS a, sum(p_price) AS b, sum(p_disc) AS c,
             sum(p_qty * p_price) AS ab,
             sum(p_qty * p_disc) AS ac,
             sum(p_price * p_disc) AS bc
      FROM f)
    SELECT pred_pair,
           CAST(n AS BIGINT) AS n_rows,
           round(sel_and, 6) AS actual_and_selectivity,
           round(indep, 6) AS independence_estimate,
           round(sel_and / indep, 6) AS correlation_factor,
           CAST(sel_and / indep > 1.2 OR sel_and / indep < 0.8 AS BOOLEAN)
             AS correlated
    FROM (
      SELECT 'qty_x_price' AS pred_pair, n,
             ab * 1e0 / n AS sel_and,
             (a * 1e0 / n) * (b * 1e0 / n) AS indep FROM s
      UNION ALL
      SELECT 'qty_x_discount', n, ac * 1e0 / n,
             (a * 1e0 / n) * (c * 1e0 / n) FROM s
      UNION ALL
      SELECT 'price_x_discount', n, bc * 1e0 / n,
             (b * 1e0 / n) * (c * 1e0 / n) FROM s) u
    ORDER BY pred_pair
"""


@register("scan_predicate_correlation_audit", oracle=_PRED_CORR_SQL)
def scan_predicate_correlation_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Predicate-correlation audit for cost-based planning: for each
    pair of common filter predicates, the ACTUAL conjunctive
    selectivity vs the independence assumption every textbook CBO
    multiplies with, and the correlation factor between them — the
    measurement that explains why a planner misestimates AND-chains
    (factor >> 1 = positively correlated predicates, the classic
    cardinality-underestimate source at 100 TB). One map-side
    conditional-moment pass (7 exact int sums) covers all three pairs;
    everything after is 3-row arithmetic."""
    return sql_q(spark, sf_dir, _PRED_CORR_SQL)
