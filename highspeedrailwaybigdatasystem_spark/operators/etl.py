"""ETL / warehouse operators — the publish-side surface of the reference's
domain (SURVEY.md §0.1: "ETL (ingest, cleanse, dedup, aggregate, publish)"):
SCD upserts, change-history intervals, data-quality auditing, schema
evolution, and partition-pruned reads.

Scale notes (100 TB):
* SCD-1 upsert is one full-outer join on the business key — the snapshot
  side stays partitioned/bucketed by that key so only the delta shuffles.
* SCD-2 history build is a per-key window (lead) — one shuffle, linear.
* DQ audit is a single pass of conditional aggregates per table — map-side
  combine means the shuffle carries one row per metric.
* Schema evolution (mergeSchema) is a reader-side union of footers — no
  rewrite of old files when columns are added.
* Partition-pruned scans skip whole directories; dynamic partition pruning
  derives the pruning set from the dim filter at runtime.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..sources._scratch import scratch_dir
from ._util import money, sql_q, t


@register(
    "etl_scd1_upsert",
    oracle="""
    WITH delta AS (
        SELECT c_custkey, c_name, round(c_acctbal + 100, 2) AS c_acctbal
        FROM customer WHERE c_custkey % 10 = 0),
    merged AS (
        SELECT coalesce(d.c_custkey, s.c_custkey) AS c_custkey,
               coalesce(d.c_name, s.c_name) AS c_name,
               round(coalesce(d.c_acctbal, s.c_acctbal), 2) AS c_acctbal,
               CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS updated
        FROM customer s FULL OUTER JOIN delta d ON s.c_custkey = d.c_custkey)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(updated) AS BIGINT) AS n_updated,
           round(sum(c_acctbal), 2) AS total_bal
    FROM merged
    """,
)
def etl_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-1 upsert (MERGE-into emulation for plain tables): a delta
    frame (every 10th customer, balance bumped) full-outer-joins the
    snapshot on the business key; delta wins where present. This is
    exactly what MERGE INTO lowers to on engines without Delta/Iceberg
    ACID — at scale the snapshot is bucketed by c_custkey so the join
    co-locates and only the delta moves."""
    s = t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    d = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 10 == 0)
        .select(
            "c_custkey",
            "c_name",
            F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
        )
    )
    merged = s.alias("s").join(d.alias("d"), "c_custkey", "full_outer").select(
        F.coalesce(F.col("d.c_name"), F.col("s.c_name")).alias("c_name"),
        F.round(F.coalesce(F.col("d.c_acctbal"), F.col("s.c_acctbal")), 2).alias("c_acctbal"),
        F.when(F.col("d.c_name").isNotNull(), 1).otherwise(0).alias("updated"),
    )
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("updated").cast("long").alias("n_updated"),
        money(F.sum("c_acctbal")).alias("total_bal"),
    )


@register(
    "etl_scd2_history",
    oracle="""
    WITH changes AS (
        SELECT o_custkey, o_orderdate AS valid_from, o_totalprice, o_orderkey
        FROM orders WHERE o_custkey < 100 AND o_orderdate IS NOT NULL)
    SELECT o_custkey, o_orderkey, valid_from,
           lead(valid_from) OVER (PARTITION BY o_custkey
                                  ORDER BY valid_from, o_orderkey) AS valid_to,
           CAST(CASE WHEN lead(valid_from) OVER (PARTITION BY o_custkey
                     ORDER BY valid_from, o_orderkey) IS NULL
                THEN 1 ELSE 0 END AS INT) AS is_current,
           round(o_totalprice, 2) AS attr_price
    FROM changes
    """,
)
def etl_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build: each change record becomes a validity
    interval [valid_from, valid_to) via lead() over the per-key change
    sequence; the open interval is the current row. One shuffle on the
    business key — the standard warehouse dimension-history pattern.
    Change records with a NULL effective date cannot form an interval
    and are excluded on both sides (r15 wave-2 null sweep: their
    position in the lead() sequence differed between engines, shifting
    neighbors' valid_to and the is_current flag) — production routes
    them to quarantine, not into the history."""
    c = (
        t(spark, sf_dir, "orders")
        .where((F.col("o_custkey") < 100) & F.col("o_orderdate").isNotNull())
        .select(
            "o_custkey",
            F.col("o_orderdate").alias("valid_from"),
            "o_totalprice",
            "o_orderkey",
        )
    )
    w = Window.partitionBy("o_custkey").orderBy("valid_from", "o_orderkey")
    return c.select(
        "o_custkey",
        "o_orderkey",
        "valid_from",
        F.lead("valid_from").over(w).alias("valid_to"),
        F.when(F.lead("valid_from").over(w).isNull(), 1).otherwise(0).cast("int").alias("is_current"),
        money("o_totalprice").alias("attr_price"),
    )


@register(
    "etl_dq_audit",
    oracle="""
    SELECT 'orders' AS tbl,
           CAST((SELECT count(*) FROM orders) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT) AS bad_price,
           CAST((SELECT count(*) FROM orders o LEFT JOIN customer c
                 ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) AS BIGINT) AS fk_orphans,
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderstatus NOT IN ('O','F','P')) AS BIGINT) AS bad_status
    UNION ALL
    SELECT 'lineitem',
           CAST((SELECT count(*) FROM lineitem) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem WHERE l_quantity <= 0) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem l LEFT JOIN orders o
                 ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS BIGINT),
           CAST((SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
    """,
)
def etl_dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality audit: per table one row of (row count, domain
    violations, FK orphans, enum violations) — the cleanse-gate every
    ingest pipeline runs before publish. Violations are conditional
    aggregates (one scan per table); FK orphans are left-anti counts.
    All-zero violation columns on this corpus is itself the assertion
    (FIXTURES.md §3 measured FK closure)."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey")
    li = t(spark, sf_dir, "lineitem")
    ok = t(spark, sf_dir, "orders").select("o_orderkey").distinct()

    orders_row = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("fk_orphans"))
        .crossJoin(
            o.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_if(F.col("o_totalprice") <= 0).alias("bad_price"),
                F.count_if(~F.col("o_orderstatus").isin("O", "F", "P")).alias("bad_status"),
            )
        )
        .select(
            F.lit("orders").alias("tbl"), "n_rows", "bad_price", "fk_orphans", "bad_status"
        )
    )
    li_row = (
        li.join(ok, li.l_orderkey == ok.o_orderkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("fk_orphans"))
        .crossJoin(
            li.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count_if(F.col("l_quantity") <= 0).alias("bad_price"),
                F.count_if(
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
                ).alias("bad_status"),
            )
        )
        .select(
            F.lit("lineitem").alias("tbl"), "n_rows", "bad_price", "fk_orphans", "bad_status"
        )
    )
    return orders_row.unionAll(li_row)


@register(
    "src_schema_evolution",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(count(o_clerk_v2) AS BIGINT) AS with_new_col,
           round(sum(o_totalprice), 2) AS total
    FROM (
        SELECT o_orderstatus, o_totalprice, NULL AS o_clerk_v2
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderstatus, o_totalprice, o_orderpriority AS o_clerk_v2
        FROM orders WHERE o_orderkey % 2 = 1)
    GROUP BY o_orderstatus
    """,
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution via mergeSchema: generation-1 files lack a column
    that generation-2 files carry; a merged read unions the footers and
    null-fills the missing column — additive evolution with no rewrite of
    old data (the only sane policy at 100 TB). The oracle replays the
    union with explicit NULL padding."""
    out = scratch_dir("evolve_orders")
    shutil.rmtree(out, ignore_errors=True)
    o = t(spark, sf_dir, "orders")
    o.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderstatus", "o_totalprice"
    ).write.mode("overwrite").parquet(os.path.join(out, "gen=1"))
    o.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderstatus", "o_totalprice", F.col("o_orderpriority").alias("o_clerk_v2")
    ).write.mode("overwrite").parquet(os.path.join(out, "gen=2"))
    merged = spark.read.option("mergeSchema", True).parquet(
        os.path.join(out, "gen=1"), os.path.join(out, "gen=2")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count("o_clerk_v2").alias("with_new_col"),
        money(F.sum("o_totalprice")).alias("total"),
    )


@register(
    "scan_dpp",
    oracle="""
    WITH yrs AS (
        SELECT DISTINCT CAST(extract(year FROM o_orderdate) AS INT) AS yr
        FROM orders
        WHERE o_orderpriority = '1-URGENT'
          AND extract(year FROM o_orderdate) IN (1994, 1995))
    SELECT CAST(extract(year FROM l_shipdate) AS INT) AS ship_year,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN yrs ON CAST(extract(year FROM l_shipdate) AS INT) = yrs.yr
    GROUP BY 1
    """,
)
def scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: lineitem re-published partitioned by
    ship_year (the ingest layout), then JOINED ON THE PARTITION COLUMN
    against a filtered year dim — Catalyst derives the partition set from
    the dim at runtime (dynamicpruning subquery on the scan, asserted in
    test_plans) and skips whole directories. At 100 TB this is the
    date-partitioned-fact × filtered-calendar pattern: I/O scales with the
    selected partitions, not the table."""
    # per-SF scratch: a cached layout from another scale factor must not leak
    out = scratch_dir(f"lineitem_by_year_{os.path.basename(sf_dir.rstrip('/'))}")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        shutil.rmtree(out, ignore_errors=True)
        li = t(spark, sf_dir, "lineitem")
        li.withColumn("ship_year", F.year("l_shipdate")).write.mode(
            "overwrite"
        ).partitionBy("ship_year").parquet(out)
    part = spark.read.parquet(out)
    yrs = (
        t(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderpriority") == "1-URGENT")
            & F.year("o_orderdate").isin(1994, 1995)
        )
        .select(F.year("o_orderdate").alias("yr"))
        .distinct()
    )
    return (
        part.join(yrs, part.ship_year == yrs.yr)
        .groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money(F.sum("l_extendedprice")).alias("revenue"),
        )
    )


@register(
    "etl_dynamic_overwrite",
    oracle="""
    WITH adjusted AS (
        SELECT CAST(year(o_orderdate) AS INT) AS order_year,
               CASE WHEN year(o_orderdate) = 1997
                    THEN round(o_totalprice + 10, 2)
                    ELSE o_totalprice END AS o_totalprice
        FROM orders)
    SELECT order_year,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM adjusted GROUP BY order_year
    """,
)
def etl_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (INSERT OVERWRITE of ONE partition):
    publish orders partitioned by year, then overwrite only year 1997
    with restated totals under partitionOverwriteMode=dynamic — every
    other partition's files are untouched (the daily-restatement pattern;
    static mode would wipe the whole table). The read-back aggregate
    proves 1997 changed and the rest survived. At 100 TB the rewrite I/O
    is one partition, not the table."""
    out = scratch_dir(f"orders_by_year_{os.path.basename(sf_dir.rstrip('/'))}")
    orders = t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    # full publish (fresh each run — the op is idempotent end-to-end)
    orders.write.mode("overwrite").partitionBy("order_year").parquet(out)
    restated = orders.where(F.col("order_year") == 1997).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") + 10, 2)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        restated.write.mode("overwrite").partitionBy("order_year").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return (
        spark.read.parquet(out)
        .groupBy("order_year")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money(F.sum("o_totalprice")).alias("total"),
        )
    )


@register(
    "etl_compaction",
    oracle="""
    SELECT 'small' AS stage, CAST(64 AS BIGINT) AS n_files,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    UNION ALL
    SELECT 'compacted', CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
           round(sum(l_extendedprice), 2)
    FROM lineitem
    """,
)
def etl_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — THE operational hazard of long-lived 100 TB
    tables (every tiny file costs a task + a namenode entry + a footer
    read): a 64-file fragmented publish is rewritten via coalesce(4) —
    coalesce, not repartition, so the rewrite is shuffle-free — and both
    layouts are audited from the data itself with countDistinct on the
    ``_metadata.file_path`` hidden column: file counts 64 → 4 with
    byte-identical content sums."""
    frag = scratch_dir(f"lineitem_frag_{os.path.basename(sf_dir.rstrip('/'))}")
    compact = scratch_dir(f"lineitem_compact_{os.path.basename(sf_dir.rstrip('/'))}")
    cols = ["l_orderkey", "l_linenumber", "l_extendedprice"]
    t(spark, sf_dir, "lineitem").select(cols).repartition(64).write.mode(
        "overwrite"
    ).parquet(frag)
    # One read split per fragment file, so coalesce(4) always has at least
    # 4 inputs: Spark packs small files into minPartitionNum splits, which
    # defaults to the core count (2 splits, so 2 output files, at 2 cores).
    fragment = spark.read.parquet(frag)
    prev = spark.conf.get("spark.sql.files.minPartitionNum", None)
    spark.conf.set("spark.sql.files.minPartitionNum", str(len(fragment.inputFiles())))
    try:
        fragment.coalesce(4).write.mode("overwrite").parquet(compact)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.files.minPartitionNum")
        else:
            spark.conf.set("spark.sql.files.minPartitionNum", prev)

    def audit(path: str, stage: str) -> DataFrame:
        return (
            spark.read.parquet(path)
            .select("l_extendedprice", F.col("_metadata.file_path").alias("fp"))
            .agg(
                F.lit(stage).alias("stage"),
                F.countDistinct("fp").alias("n_files"),
                F.count(F.lit(1)).alias("n_rows"),
                money(F.sum("l_extendedprice")).alias("sum_price"),
            )
        )

    return audit(frag, "small").unionAll(audit(compact, "compacted"))


def _z_interleave(dialect: str) -> str:
    """16-bit Z-order key from two 8-bit dims (u8, v8), bit-interleaved
    u odd / v even — identical integer arithmetic in Spark SQL and DuckDB."""
    if dialect == "spark":
        terms = [
            f"shiftleft(shiftright(u8, {b}) & 1, {2 * b + 1})"
            f" + shiftleft(shiftright(v8, {b}) & 1, {2 * b})"
            for b in range(8)
        ]
    else:
        terms = [
            f"(((u8 >> {b}) & 1) << {2 * b + 1}) + (((v8 >> {b}) & 1) << {2 * b})"
            for b in range(8)
        ]
    return " + ".join(terms)


@register(
    "etl_zorder_layout",
    oracle=f"""
    WITH q AS (
        SELECT CAST(user_id % 256 AS INT) AS u8,
               least(255, CAST(floor(value / 2.5) AS INT)) AS v8
        FROM events),
    z AS (SELECT u8, v8, {_z_interleave('duck')} AS zkey FROM q),
    zb AS (
        SELECT zkey // 256 AS b,
               max(u8) - min(u8) AS su, max(v8) - min(v8) AS sv
        FROM z GROUP BY 1),
    vb AS (
        SELECT v8 AS b,
               max(u8) - min(u8) AS su, max(v8) - min(v8) AS sv
        FROM z GROUP BY 1)
    SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
           round(avg(su), 6) AS avg_u_span, round(avg(sv), 6) AS avg_v_span
    FROM zb
    UNION ALL
    SELECT 'linear' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
           round(avg(su), 6) AS avg_u_span, round(avg(sv), 6) AS avg_v_span
    FROM vb
    """,
)
def etl_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) multi-dimensional layout clustering — the
    data-skipping pattern behind Delta OPTIMIZE ZORDER / Iceberg sort
    orders, built from plain integer arithmetic. Two query dims (user,
    value) are quantized to 8 bits and bit-interleaved into a 16-bit
    Morton key; rows clustered into fixed-width key-range "files" (zkey
    div 256 — the stand-in for 128 MB file boundaries). The audit compares
    per-file min/max spans of BOTH dims for the Z layout vs a linear
    single-dim sort: linear bounds only its own sort dim (the other dim's
    span stays ~full-range, so file-level min/max stats prune nothing);
    Z-order bounds both at once, which is exactly why footer-stats
    skipping works for two-dimensional predicates at 100 TB. Map-side
    expressions + one small agg per layout — no sort or shuffle of the
    fact table is needed to *measure* the layouts."""
    q = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 256).cast("int").alias("u8"),
        F.least(F.lit(255), F.floor(F.col("value") / 2.5).cast("int")).alias("v8"),
    )
    z = q.withColumn("zkey", F.expr(_z_interleave("spark")))
    zb = z.groupBy((F.col("zkey") / 256).cast("long").alias("b")).agg(
        (F.max("u8") - F.min("u8")).alias("su"),
        (F.max("v8") - F.min("v8")).alias("sv"),
    )
    vb = z.groupBy(F.col("v8").alias("b")).agg(
        (F.max("u8") - F.min("u8")).alias("su"),
        (F.max("v8") - F.min("v8")).alias("sv"),
    )

    def audit(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.round(F.avg("su"), 6).alias("avg_u_span"),
            F.round(F.avg("sv"), 6).alias("avg_v_span"),
        ).select(F.lit(name).alias("layout"), "n_buckets", "avg_u_span", "avg_v_span")

    return audit(zb, "zorder").unionByName(audit(vb, "linear"))


@register(
    "join_temporal_scd2",
    oracle="""
    WITH dim AS (
        SELECT o_custkey AS user_key, o_orderdate AS valid_from, o_orderkey,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey) AS valid_to,
               round(o_totalprice, 2) AS attr_price
        FROM orders WHERE o_custkey < 100),
    fact AS (
        SELECT event_id, user_id % 100 AS user_key, ts FROM events)
    SELECT f.event_id, d.o_orderkey AS version_key, d.attr_price
    FROM fact f JOIN dim d
      ON f.user_key = d.user_key
     AND f.ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ts < d.valid_to)
    """,
)
def join_temporal_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (SCD2 as-of) dimension join: each fact row picks the ONE
    dimension version whose [valid_from, valid_to) interval contains its
    event time — the canonical warehouse join against a slowly-changing
    dimension. The dimension's intervals come from the same lead()-closed
    history etl_scd2_history builds. Physical shape: an EQUI join on the
    business key (hash-partitioned both sides — never a cartesian) with
    the interval predicate applied as a post-join filter; because versions
    of one key are disjoint, each fact row matches at most one version.
    At 100 TB the dim history is orders of magnitude smaller than the
    fact, so it broadcasts; if it doesn't fit, the equi key still gives a
    standard shuffle join — the interval filter costs only |versions per
    key| comparisons per row either way."""
    dim_w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = (
        t(spark, sf_dir, "orders")
        .where(F.col("o_custkey") < 100)
        .select(
            F.col("o_custkey").alias("user_key"),
            F.col("o_orderdate").alias("valid_from"),
            "o_orderkey",
            F.lead("o_orderdate").over(dim_w).alias("valid_to"),
            money(F.col("o_totalprice")).alias("attr_price"),
        )
    )
    fact = t(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 100).alias("user_key"), "ts"
    )
    cond = (
        (fact["user_key"] == dim["user_key"])
        & (fact["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (fact["ts"] < dim["valid_to"]))
    )
    return fact.join(F.broadcast(dim), cond).select(
        "event_id",
        F.col("o_orderkey").alias("version_key"),
        "attr_price",
    )


@register(
    "etl_gdpr_delete_audit",
    oracle="""
    WITH del AS (
      SELECT user_id FROM (SELECT DISTINCT user_id FROM events) u
      WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) = '0'),
    kept AS (
      SELECT e.* FROM events e LEFT JOIN del d ON e.user_id = d.user_id
      WHERE d.user_id IS NULL)
    SELECT event_type,
           CAST((SELECT count(*) FROM events WHERE event_type = k.event_type)
                - count(*) AS BIGINT) AS purged,
           CAST(count(*) AS BIGINT) AS retained
    FROM kept k GROUP BY event_type
    """,
)
def etl_gdpr_delete_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge with a compliance audit: a deletion
    list of subjects (here: users whose id-hash starts with '0' — a
    deterministic ~1/16 sample standing in for real erasure requests) is
    anti-joined out of the fact table, and the audit reports purged vs
    retained row counts per event type — the evidence record a deletion
    job must emit. Scale shape: the deletion list is small by nature, so
    the anti-join broadcasts it (no fact shuffle — each executor drops its
    own rows on the map side); the audit is two partial-agg passes. On a
    real lakehouse the kept-rows write is the partition/file rewrite step
    (Delta DELETE); the dataflow above it is exactly this."""
    ev = t(spark, sf_dir, "events")
    del_list = (
        ev.select("user_id")
        .distinct()
        .where(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1) == "0")
    )
    kept = ev.join(F.broadcast(del_list), "user_id", "left_anti")
    before = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_before"))
    after = kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("retained"))
    return (
        before.join(after, "event_type")
        .select(
            "event_type",
            (F.col("n_before") - F.col("retained")).cast("long").alias("purged"),
            "retained",
        )
    )


@register(
    "etl_missing_partition_detect",
    oracle="""
    WITH spine AS (
      SELECT t.et AS event_type, CAST(d.d AS DATE) AS day
      FROM (SELECT DISTINCT event_type AS et FROM events) t
      CROSS JOIN (SELECT unnest(generate_series(DATE '2024-01-01',
                                                DATE '2024-01-30',
                                                INTERVAL 1 DAY)) AS d) d),
    actual AS (
      SELECT DISTINCT event_type, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events)
    SELECT s.event_type, s.day
    FROM spine s LEFT JOIN actual a
      ON s.event_type = a.event_type AND s.day = a.day
    WHERE a.event_type IS NULL
    """,
)
def etl_missing_partition_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-completeness monitoring: which (event_type, day) partitions
    that SHOULD exist (the expected calendar spine over the documented
    corpus window) have no data? The daily freshness check every ingest
    pipeline runs before publishing. Scale shape: the spine is
    |types|×|days| rows built from literals (no corpus scan), the actual
    side collapses the corpus to distinct type-days first, and the
    anti-join is spine-sized — detection cost is independent of fact
    volume beyond one distinct pass."""
    types = t(spark, sf_dir, "events").select("event_type").distinct()
    spine = types.crossJoin(
        F.broadcast(
            t(spark, sf_dir, "events")
            .sparkSession.range(1)
            .select(
                F.explode(
                    F.expr(
                        "sequence(DATE '2024-01-01', DATE '2024-01-30', interval 1 day)"
                    )
                ).alias("day")
            )
        )
    )
    actual = (
        t(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .distinct()
    )
    return spine.join(actual, ["event_type", "day"], "left_anti")


@register(
    "etl_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT event_id, md5(concat_ws('|', user_id, event_type, round(value, 2))) AS row_hash
      FROM events),
    b AS (
      SELECT event_id,
             md5(concat_ws('|', user_id, event_type,
                 round(CASE WHEN event_id % 41 = 0 THEN value + 1 ELSE value END, 2))) AS row_hash
      FROM events WHERE user_id % 37 <> 0),
    j AS (
      SELECT a.event_id AS a_id, b.event_id AS b_id,
             a.row_hash AS a_hash, b.row_hash AS b_hash
      FROM a FULL OUTER JOIN b ON a.event_id = b.event_id)
    SELECT CAST(count(*) FILTER (a_id IS NULL) AS BIGINT) AS n_added,
           CAST(count(*) FILTER (b_id IS NULL) AS BIGINT) AS n_removed,
           CAST(count(*) FILTER (a_id IS NOT NULL AND b_id IS NOT NULL
                                 AND a_hash <> b_hash) AS BIGINT) AS n_changed,
           CAST(count(*) FILTER (a_hash = b_hash) AS BIGINT) AS n_same
    FROM j
    """,
)
def etl_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (table diff): yesterday's extract vs
    today's, compared by key + full-row content hash — added / removed /
    changed / unchanged counts, the audit every CDC backfill and
    migration cutover runs. Snapshot B is derived deterministically from A
    (drop users ≡0 mod 37, perturb value on event_id ≡0 mod 41) so the
    diff is exactly oracle-checkable. Scale shape: row hashes are
    map-side; the FULL OUTER join shuffles both sides once on the key
    (bucketed snapshots would co-locate it shuffle-free, see
    sink_bucketed); the audit is a single partial-agg pass. Hash compare
    beats column-wise comparison at wide schemas — one string per row
    crosses the shuffle, not every column."""
    ev = t(spark, sf_dir, "events")
    row_hash = F.md5(
        F.concat_ws("|", "user_id", "event_type", F.round(F.col("value"), 2).cast("string"))
    )
    a = ev.select("event_id", row_hash.alias("row_hash"))
    b_val = F.when(F.col("event_id") % 41 == 0, F.col("value") + 1).otherwise(
        F.col("value")
    )
    b = (
        ev.where(F.col("user_id") % 37 != 0)
        .select(
            "event_id",
            F.md5(
                F.concat_ws(
                    "|", "user_id", "event_type", F.round(b_val, 2).cast("string")
                )
            ).alias("row_hash"),
        )
    )
    j = a.select(
        F.col("event_id").alias("a_id"), F.col("row_hash").alias("a_hash")
    ).join(
        b.select(F.col("event_id").alias("b_id"), F.col("row_hash").alias("b_hash")),
        F.col("a_id") == F.col("b_id"),
        "full_outer",
    )
    return j.agg(
        F.count(F.when(F.col("a_id").isNull(), 1)).alias("n_added"),
        F.count(F.when(F.col("b_id").isNull(), 1)).alias("n_removed"),
        F.count(
            F.when(
                F.col("a_id").isNotNull()
                & F.col("b_id").isNotNull()
                & (F.col("a_hash") != F.col("b_hash")),
                1,
            )
        ).alias("n_changed"),
        F.count(F.when(F.col("a_hash") == F.col("b_hash"), 1)).alias("n_same"),
    )


@register(
    "etl_watermark_ingest",
    oracle="""
    WITH ingested AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events
      WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-25'),
    bookmark AS (SELECT max(ts) AS bm FROM ingested),
    fresh AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events, bookmark
      WHERE CAST(ts AS TIMESTAMP) > bookmark.bm)
    SELECT CAST(count(*) AS BIGINT) AS n_new_rows,
           min(ts) AS first_new_ts,
           max(ts) AS new_bookmark,
           round(sum(value), 2) AS new_value_sum
    FROM fresh
    """,
)
def etl_watermark_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-watermark incremental ingest — the bread-and-butter batch-ETL
    pattern: the previous load's bookmark (max ingested event time,
    stood in by the pre-2024-01-25 slice) is computed as a 1-row
    aggregate, and today's run ingests ONLY rows strictly past it,
    emitting the new bookmark for the next run. The bookmark comparison
    is an uncorrelated scalar subquery — Spark runs it as its own tiny
    job and injects the literal, so the incremental scan is a plain
    pushed-down range filter, never a join. At 100 TB this is what keeps
    daily ingest proportional to the DELTA, not the table."""
    from ._util import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH bookmark AS (
          SELECT max(ts) AS bm FROM events WHERE ts < TIMESTAMP '2024-01-25')
        SELECT CAST(count(*) AS BIGINT) AS n_new_rows,
               min(ts) AS first_new_ts,
               max(ts) AS new_bookmark,
               round(sum(value), 2) AS new_value_sum
        FROM events
        WHERE ts > (SELECT bm FROM bookmark)
        """,
    )


@register(
    "etl_merge_cdc_apply",
    oracle="""
    WITH snap AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders),
    changes AS (
      SELECT o_orderkey, cents, 1 AS seq, 'I' AS op FROM snap
      UNION ALL
      SELECT o_orderkey, cents + cents // 10, 2, 'U'
      FROM snap WHERE o_orderkey % 3 = 0
      UNION ALL
      SELECT o_orderkey, NULL, 3, 'D'
      FROM snap WHERE o_orderkey % 7 = 0),
    latest AS (
      SELECT o_orderkey, cents, op,
             row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      FROM changes)
    SELECT CAST(count(*) AS BIGINT) AS n_live_rows,
           round(sum(cents) / 100.0, 2) AS total_value,
           CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_updated_rows
    FROM latest WHERE rn = 1 AND op <> 'D'
    """,
)
def etl_merge_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE application — the Delta/Iceberg ``MERGE INTO`` semantics
    emulated on plain DataFrames (this environment ships neither): a
    change stream of ordered I/U/D operations (synthesized
    deterministically from orders: every 3rd key updated +10%, every 7th
    deleted — the 10% bump is integer-cents ``cents + cents div 10`` so
    no per-row float round can drift between engines — sequence I<U<D)
    collapses to the LAST operation per key —
    one row_number window over the key — and deletes drop out. Unlike
    etl_scd1_upsert (one upsert batch) this handles multiple competing
    ops per key with explicit ordering, the shape a streaming CDC apply
    job has. One hash-shuffle on the merge key; the verification agg
    proves row liveness and value state after the merge."""
    from ._util import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH snap AS (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
          FROM orders),
        changes AS (
          SELECT o_orderkey, cents, 1 AS seq, 'I' AS op FROM snap
          UNION ALL
          SELECT o_orderkey, cents + cents DIV 10, 2, 'U'
          FROM snap WHERE o_orderkey % 3 = 0
          UNION ALL
          SELECT o_orderkey, NULL, 3, 'D'
          FROM snap WHERE o_orderkey % 7 = 0),
        latest AS (
          SELECT o_orderkey, cents, op,
                 row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
          FROM changes)
        SELECT CAST(count(*) AS BIGINT) AS n_live_rows,
               -- double(100), not the literal 100.0: Spark SQL types that
               -- literal DECIMAL(4,1) and the division would come back decimal
               round(sum(cents) / double(100), 2) AS total_value,
               CAST(sum(CASE WHEN op = 'U' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_updated_rows
        FROM latest WHERE rn = 1 AND op <> 'D'
        """,
    )


@register(
    "etl_time_travel_snapshots",
    oracle="""
    WITH v0 AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders),
    v1 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 4 = 0 THEN cents + cents // 20
                  ELSE cents END AS cents
      FROM v0 WHERE o_orderkey % 9 <> 0),
    both_v AS (
      SELECT 0 AS version, o_orderkey, cents FROM v0
      UNION ALL
      SELECT 1, o_orderkey, cents FROM v1)
    SELECT version,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(cents) / 100.0, 2) AS total_value
    FROM both_v GROUP BY version
    """,
)
def etl_time_travel_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on plain parquet — the Delta/Iceberg ``VERSION AS OF``
    pattern emulated with versioned snapshot directories (neither table
    format ships in this environment): v0 = the base table, v1 = v0 with
    every 4th key price-bumped (+5% in integer cents) and every 9th key
    deleted, each version written to its own scratch dir. "AS OF"
    reads are then plain directory reads — the physical layout Delta's
    log resolves to. The verification agg reads BOTH versions back and
    proves row counts and value totals per version; at 100 TB the same
    layout gives O(1) version resolution plus ordinary pruned scans."""
    base = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    v1 = base.where(F.col("o_orderkey") % 9 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 4 == 0,
            F.col("cents") + F.expr("cents div 20"),
        )
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    tag = os.path.basename(sf_dir)
    reads = []
    for version, df in ((0, base), (1, v1)):
        d = scratch_dir(f"tt_v{version}_{tag}")
        shutil.rmtree(d, ignore_errors=True)
        df.write.mode("overwrite").parquet(d)
        reads.append(
            spark.read.parquet(d).select(F.lit(version).alias("version"), "cents")
        )
    both = reads[0].unionByName(reads[1])
    return both.groupBy("version").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("cents") / F.expr("double(100)"), 2).alias("total_value"),
    )


@register(
    "etl_partition_checksum_manifest",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS part_year,
           count(*) AS n_rows,
           bit_xor(CAST(('0x' || substr(md5(concat_ws('|',
                    CAST(o_orderkey AS VARCHAR), CAST(o_custkey AS VARCHAR),
                    o_orderstatus)), 1, 15)) AS BIGINT)) AS membership_xor,
           round(sum(o_totalprice), 2) AS sum_total
    FROM orders GROUP BY year(o_orderdate)
    """,
)
def etl_partition_checksum_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition replication/audit manifest: row count, an
    order-independent XOR fold of a per-row content hash, and a control
    total — the artifact two sides of a cross-cluster copy exchange to
    prove a partition replicated exactly without moving data twice.
    bit_xor is commutative/associative, so the checksum is partial-agg
    combinable and independent of scan order (sum-of-hash would need
    wraparound bounds; XOR is closed in int64 at any row count — the 100
    TB property). The hash covers stable key columns only (never
    float-to-string formatting, which differs across engines/locales);
    15 hex chars keep the value under 2^60, inside int64 on both
    engines."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT CAST(year(o_orderdate) AS INT) AS part_year,
               count(*) AS n_rows,
               bit_xor(CAST(conv(substr(md5(concat_ws('|',
                        CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
                        o_orderstatus)), 1, 15), 16, 10) AS BIGINT)) AS membership_xor,
               round(sum(o_totalprice), 2) AS sum_total
        FROM orders GROUP BY year(o_orderdate)
        """,
    )


@register(
    "etl_late_arriving_dim",
    oracle="""
    WITH dim AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0),
    fact AS (SELECT o_custkey, o_totalprice FROM orders),
    inferred AS (
      SELECT o_custkey AS c_custkey, count(*) AS n_orders,
             round(sum(o_totalprice), 2) AS total_value
      FROM fact WHERE NOT EXISTS (SELECT 1 FROM dim d
                                  WHERE d.c_custkey = fact.o_custkey)
      GROUP BY o_custkey)
    SELECT 'inferred' AS member_kind, count(*) AS n_members,
           CAST(COALESCE(sum(n_orders), 0) AS BIGINT) AS n_orders,
           round(COALESCE(sum(total_value), 0), 2) AS total_value
    FROM inferred
    UNION ALL
    SELECT 'real' AS member_kind, count(DISTINCT d.c_custkey) AS n_members,
           count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_value
    FROM fact JOIN dim d ON o_custkey = d.c_custkey
    """,
)
def etl_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving-dimension handling (the warehouse-loading pattern):
    facts referencing a dimension member that has not landed yet get an
    INFERRED member (key + accumulated measures) so the fact load never
    blocks or drops rows; the inferred rows are reconciled when the real
    dimension arrives. The corpus has full referential integrity, so a
    deterministic holdout (c_custkey % 97 = 0) emulates the late keys —
    documented emulation, same plan shape as production. Spark plan: the
    missing-member probe is NOT EXISTS, not NOT IN (round 15 —
    broadcast_lint's first measurement caught the difference): parquet
    columns are nullable-by-schema, so Spark must plan NOT IN as a
    null-aware anti join, which is BroadcastNestedLoopJoin-ONLY with a
    |dim|-scaled REQUIRED broadcast (148→1484 rows across one 10x step;
    the whole customer keyset at 100 TB). NOT EXISTS carries no
    three-valued-logic obligation, lowers to a plain left-anti hash
    join, and shuffles at any scale. Both branches share one fact scan
    under AQE reuse. The audit output is the 2-row kind summary."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH dim AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0),
        fact AS (SELECT o_custkey, o_totalprice FROM orders),
        inferred AS (
          SELECT o_custkey AS c_custkey, count(*) AS n_orders,
                 round(sum(o_totalprice), 2) AS total_value
          FROM fact WHERE NOT EXISTS (SELECT 1 FROM dim d
                                      WHERE d.c_custkey = fact.o_custkey)
          GROUP BY o_custkey)
        SELECT 'inferred' AS member_kind, count(*) AS n_members,
               CAST(COALESCE(sum(n_orders), 0) AS BIGINT) AS n_orders,
               round(COALESCE(sum(total_value), 0), 2) AS total_value
        FROM inferred
        UNION ALL
        SELECT 'real' AS member_kind, count(DISTINCT d.c_custkey) AS n_members,
               count(*) AS n_orders, round(sum(o_totalprice), 2) AS total_value
        FROM fact JOIN dim d ON o_custkey = d.c_custkey
        """,
    )


@register(
    "etl_fk_orphan_audit",
    oracle="""
    SELECT 'orders->customer' AS fk_edge, count(*) AS n_child,
           CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'lineitem->orders', count(*),
           CAST(sum(CASE WHEN od.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN orders od ON l.l_orderkey = od.o_orderkey
    UNION ALL
    SELECT 'lineitem->part', count(*),
           CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
    UNION ALL
    SELECT 'customer->nation', count(*),
           CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def etl_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema's FK edges:
    per-edge child rowcount and orphan count (children whose parent key
    resolves to nothing). The pre-load gate a warehouse runs before
    publishing a snapshot — an orphan count that moves between loads is
    the earliest corruption signal. Every edge is a left join against a
    broadcastable parent keyset (Catalyst broadcasts each dim); the four
    audits share one plan and each fact table is scanned once per edge,
    map-side null-counted. At 100 TB swap the inner probe for a Bloom
    filter of parent keys (join_bloom_filter pattern) to avoid the full
    join entirely."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT 'orders->customer' AS fk_edge, count(*) AS n_child,
               CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_orphans
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem->orders', count(*),
               CAST(sum(CASE WHEN od.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem l LEFT JOIN orders od ON l.l_orderkey = od.o_orderkey
        UNION ALL
        SELECT 'lineitem->part', count(*),
               CAST(sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        UNION ALL
        SELECT 'customer->nation', count(*),
               CAST(sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
        """,
    )


@register(
    "etl_data_vault_hashkeys",
    oracle="""
    WITH hub AS (
      SELECT DISTINCT md5(CAST(c_custkey AS VARCHAR)) AS hk FROM customer),
    link AS (
      SELECT DISTINCT md5(concat_ws('||', CAST(o_orderkey AS VARCHAR),
                                    CAST(o_custkey AS VARCHAR))) AS hk
      FROM orders),
    sat AS (
      SELECT md5(CAST(c_custkey AS VARCHAR)) AS hk,
             md5(concat_ws('||', c_name, CAST(c_nationkey AS VARCHAR),
                           c_mktsegment)) AS hashdiff
      FROM customer)
    SELECT 'hub_customer' AS vault_entity, count(*) AS n_keys,
           bit_xor(CAST(('0x' || substr(hk, 1, 15)) AS BIGINT)) AS keyset_xor
    FROM hub
    UNION ALL
    SELECT 'link_order_customer', count(*),
           bit_xor(CAST(('0x' || substr(hk, 1, 15)) AS BIGINT))
    FROM link
    UNION ALL
    SELECT 'sat_customer_hashdiff', count(DISTINCT hashdiff),
           bit_xor(CAST(('0x' || substr(hashdiff, 1, 15)) AS BIGINT))
    FROM sat
    """,
)
def etl_data_vault_hashkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Vault 2.0 key generation (Linstedt's public modeling standard):
    hub hash keys from business keys, link hash keys from the
    relationship's key concatenation, and satellite HASHDIFFs over the
    descriptive attributes (the change-detection column an incremental
    satellite load compares). Everything is a map-side md5 over stable
    string renderings of key columns (never floats) + one distinct-agg
    per entity; the XOR keyset checksum is the cross-environment parity
    probe (etl_partition_checksum_manifest's trick). At 100 TB this is
    the canonical hash-then-shuffle-once load shape Data Vault was
    designed for."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH hub AS (
          SELECT DISTINCT md5(CAST(c_custkey AS STRING)) AS hk FROM customer),
        link AS (
          SELECT DISTINCT md5(concat_ws('||', CAST(o_orderkey AS STRING),
                                        CAST(o_custkey AS STRING))) AS hk
          FROM orders),
        sat AS (
          SELECT md5(CAST(c_custkey AS STRING)) AS hk,
                 md5(concat_ws('||', c_name, CAST(c_nationkey AS STRING),
                               c_mktsegment)) AS hashdiff
          FROM customer)
        SELECT 'hub_customer' AS vault_entity, count(*) AS n_keys,
               bit_xor(CAST(conv(substr(hk, 1, 15), 16, 10) AS BIGINT)) AS keyset_xor
        FROM hub
        UNION ALL
        SELECT 'link_order_customer', count(*),
               bit_xor(CAST(conv(substr(hk, 1, 15), 16, 10) AS BIGINT))
        FROM link
        UNION ALL
        SELECT 'sat_customer_hashdiff', count(DISTINCT hashdiff),
               bit_xor(CAST(conv(substr(hashdiff, 1, 15), 16, 10) AS BIGINT))
        FROM sat
        """,
    )


@register(
    "etl_scd3_prev_value",
    oracle="""
    WITH changes AS (
      SELECT o_custkey AS custkey, o_orderpriority AS val, o_orderdate AS ts,
             o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders)
    SELECT c.custkey,
           max(CASE WHEN rn = 1 THEN val END) AS current_value,
           max(CASE WHEN rn = 2 THEN val END) AS previous_value,
           CAST(max(CASE WHEN rn = 1 THEN ts END) AS VARCHAR) AS changed_at,
           count(*) AS n_versions
    FROM changes c
    GROUP BY c.custkey
    HAVING count(*) >= 2
    ORDER BY c.custkey LIMIT 50
    """,
)
def etl_scd3_prev_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing dimension TYPE 3 — current + previous value as
    COLUMNS (one row per entity), completing the SCD family next to
    etl_scd1_upsert (overwrite) and etl_scd2_history (row-versioned):
    type 3 is the right shape when downstream only ever asks "what was
    it before the last change" and row explosion is unacceptable. One
    window pass ranks versions per key; the top-2 pivot to columns in
    the same aggregation — no self-join, no second scan. Partitioned by
    the entity key, so it shards cleanly at any cardinality."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH changes AS (
          SELECT o_custkey AS custkey, o_orderpriority AS val, o_orderdate AS ts,
                 o_orderkey,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders)
        SELECT c.custkey,
               max(CASE WHEN rn = 1 THEN val END) AS current_value,
               max(CASE WHEN rn = 2 THEN val END) AS previous_value,
               CAST(max(CASE WHEN rn = 1 THEN ts END) AS STRING) AS changed_at,
               count(*) AS n_versions
        FROM changes c
        GROUP BY c.custkey
        HAVING count(*) >= 2
        ORDER BY c.custkey LIMIT 50
        """,
    )


@register(
    "etl_ttl_retention_audit",
    oracle="""
    WITH by_day AS (
      SELECT CAST(ts AS DATE) AS d, count(*) AS n_rows
      FROM events GROUP BY CAST(ts AS DATE))
    SELECT CAST(d AS VARCHAR) AS d, n_rows,
           CASE WHEN d < DATE '2024-01-15' THEN 1 ELSE 0 END AS would_delete,
           CAST(sum(CASE WHEN d < DATE '2024-01-15' THEN n_rows ELSE 0 END)
                OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum_deletable
    FROM by_day
    """,
)
def etl_ttl_retention_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL/retention-policy dry run at the partition grain: per day-
    partition, the row count, whether the retention cutoff would drop it,
    and the cumulative deletable volume — the audit a data-retention job
    publishes BEFORE issuing partition drops (delete-by-partition is the
    only sane retention mechanism at 100 TB; row-level TTL deletes
    rewrite files). The day grain means the window input is |days| rows;
    in production the same query reads partition names from the catalog
    and never scans data at all."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH by_day AS (
          SELECT CAST(ts AS DATE) AS d, count(*) AS n_rows
          FROM events GROUP BY CAST(ts AS DATE))
        SELECT CAST(d AS STRING) AS d, n_rows,
               CASE WHEN d < DATE '2024-01-15' THEN 1 ELSE 0 END AS would_delete,
               CAST(sum(CASE WHEN d < DATE '2024-01-15' THEN n_rows ELSE 0 END)
                    OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_deletable
        FROM by_day
        """,
    )


@register(
    "etl_column_profile",
    oracle="""
    SELECT 'o_custkey' AS col, count(*) AS n,
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_v,
           CAST(max(o_custkey) AS VARCHAR) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*),
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           min(o_orderpriority), max(o_orderpriority)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*),
           CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
           CAST(CAST(round(min(o_totalprice) * 100) AS BIGINT) AS VARCHAR),
           CAST(CAST(round(max(o_totalprice) * 100) AS BIGINT) AS VARCHAR)
    FROM orders
    """,
)
def etl_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiling — the data-catalog primer (null rate, distinct
    cardinality, min/max) per column in one pass each, emitted as a long
    profile table. The cross-engine trap this op encodes: profile values
    are rendered through STABLE representations (integers and strings
    as-is, doubles via integer cents) because min/max-as-string of raw
    floats differs between engines' float formatters. At 100 TB the same
    profile runs with approx_count_distinct per column and feeds the CBO
    (test_table_statistics_for_cbo shows where it lands); column scans
    share one pass via Spark's multi-aggregate pushdown."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT 'o_custkey' AS col, count(*) AS n,
               CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null,
               CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
               CAST(min(o_custkey) AS STRING) AS min_v,
               CAST(max(o_custkey) AS STRING) AS max_v
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', count(*),
               CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_orderstatus) AS BIGINT),
               min(o_orderstatus), max(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', count(*),
               CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT o_orderpriority) AS BIGINT),
               min(o_orderpriority), max(o_orderpriority)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', count(*),
               CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               CAST(count(DISTINCT CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT),
               CAST(CAST(round(min(o_totalprice) * 100) AS BIGINT) AS STRING),
               CAST(CAST(round(max(o_totalprice) * 100) AS BIGINT) AS STRING)
        FROM orders
        """,
    )


_SKEW_AUDIT_SQL = """
    WITH bucketed AS (
      SELECT CAST(('{pre}' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2))
               AS {hexty}) % 32 AS bucket,
             count(*) AS n
      FROM orders GROUP BY 1),
    stats AS (
      SELECT count(*) AS n_buckets, sum(n) AS n_rows,
             max(n) AS max_bucket, min(n) AS min_bucket,
             avg(CAST(n AS DOUBLE)) AS avg_bucket
      FROM bucketed)
    SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(max_bucket AS BIGINT) AS max_bucket,
           CAST(min_bucket AS BIGINT) AS min_bucket,
           round(max_bucket / avg_bucket, 6) AS skew_factor,
           CASE WHEN max_bucket / avg_bucket > 2.0 THEN 1 ELSE 0 END
             AS skew_alarm
    FROM stats
"""


@register(
    "etl_partition_skew_audit",
    oracle=_SKEW_AUDIT_SQL.format(pre="0x", hexty="BIGINT"),
)
def etl_partition_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-partition skew audit: bucket the orders fact by a 32-way
    content hash of its join key (md5 prefix — engine-portable, unlike
    each engine's internal partitioner hash) and report max/avg bucket
    imbalance — the pre-flight check that decides whether a join needs
    salting (join_skew_salted) or AQE skew handling BEFORE the shuffle
    runs at 100 TB. One map-side hash + 32-group aggregate; the audit
    itself costs one scan."""
    from ._util import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH bucketed AS (
          SELECT cast(conv(substr(md5(CAST(o_custkey AS STRING)), 1, 2),
                           16, 10) AS BIGINT) % 32 AS bucket,
                 count(*) AS n
          FROM orders GROUP BY 1),
        stats AS (
          SELECT count(*) AS n_buckets, sum(n) AS n_rows,
                 max(n) AS max_bucket, min(n) AS min_bucket,
                 avg(CAST(n AS DOUBLE)) AS avg_bucket
          FROM bucketed)
        SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(max_bucket AS BIGINT) AS max_bucket,
               CAST(min_bucket AS BIGINT) AS min_bucket,
               round(max_bucket / avg_bucket, 6) AS skew_factor,
               CASE WHEN max_bucket / avg_bucket > 2.0 THEN 1 ELSE 0 END
                 AS skew_alarm
        FROM stats
        """,
    )


_PSI_SQL = """
    WITH bucketed AS (
      SELECT event_type,
             CAST(least(floor(value / 50), 9) AS INT) AS b,
             CAST(count(*) FILTER (WHERE extract(day FROM ts) <= 15)
                  AS DOUBLE) AS c1,
             CAST(count(*) FILTER (WHERE extract(day FROM ts) > 15)
                  AS DOUBLE) AS c2
      FROM events GROUP BY 1, 2),
    tot AS (
      SELECT event_type, sum(c1) AS n1, sum(c2) AS n2, count(*) AS dom
      FROM bucketed GROUP BY event_type),
    psi AS (
      SELECT b.event_type,
             sum(((b.c2 + 1) / (t.n2 + t.dom) - (b.c1 + 1) / (t.n1 + t.dom))
                 * ln(((b.c2 + 1) / (t.n2 + t.dom))
                      / ((b.c1 + 1) / (t.n1 + t.dom)))) AS psi,
             max(t.dom) AS dom
      FROM bucketed b JOIN tot t ON t.event_type = b.event_type
      GROUP BY b.event_type)
    SELECT event_type, CAST(dom AS INT) AS n_buckets,
           round(psi, 6) AS psi,
           CASE WHEN psi < 0.1 THEN 'stable'
                WHEN psi < 0.25 THEN 'moderate'
                ELSE 'major' END AS drift_band
    FROM psi ORDER BY event_type
"""


@register("etl_psi_drift", oracle=_PSI_SQL)
def etl_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the first and
    second half of the month (10 fixed-width value bands — the industry
    decile-grain convention — add-1 smoothing over each type's observed
    domain) — the model-monitoring drift gate ('re-score when PSI >
    0.25') run as a batch audit before promoting a new training
    snapshot. The bin grain matters: the original half-unit buckets
    (~350 bins, ~20 rows per bin per half at the test tiers) let add-1
    smoothing noise alone push PSI past the 'major' threshold on halves
    drawn from the SAME distribution — a drift monitor stuck crying
    wolf is as dead as one that never fires (found by the round-9
    degeneracy sweep; tests now pin 'stable' on the clean corpus AND
    'major' on a planted shift). ONE conditional aggregate builds both
    period distributions in a single corpus pass (no second scan, no
    join back to row grain); the PSI sum is |type×bucket|-grain
    arithmetic. At 100 TB this is a map-side-combinable shuffle of a
    few thousand rows."""
    return sql_q(spark, sf_dir, _PSI_SQL)


_QUARANTINE_SQL = """
    WITH flagged AS (
      SELECT event_id,
             (CASE WHEN value IS NULL OR value < 0 THEN 1 ELSE 0 END)
             + (CASE WHEN event_type NOT IN
                      ('view', 'click', 'purchase', 'signup', 'error')
                 THEN 2 ELSE 0 END)
             + (CASE WHEN ts < TIMESTAMP '2024-01-01'
                       OR ts >= TIMESTAMP '2024-02-01' THEN 4 ELSE 0 END)
             + (CASE WHEN props IS NULL OR props NOT LIKE '{%' THEN 8
                 ELSE 0 END) AS rule_bitmap
      FROM events)
    SELECT rule_bitmap,
           CASE WHEN rule_bitmap = 0 THEN 'pass' ELSE 'quarantine' END
             AS route,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(event_id) AS BIGINT) AS first_example
    FROM flagged GROUP BY rule_bitmap ORDER BY rule_bitmap
"""


@register("etl_quarantine_routing", oracle=_QUARANTINE_SQL)
def etl_quarantine_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule-bitmap quarantine router: every ingest row is scored against
    four validity rules (null/negative value, unknown event type,
    timestamp outside the loading window, malformed props payload) packed
    into a bitmask, then routed pass/quarantine — the dead-letter-queue
    pattern where the bitmap tells the on-call WHICH rules fired without
    re-scanning (complements etl_dq_audit, which counts rule hits
    independently; the bitmap exposes rule CO-occurrence). Pure map-side
    CASE arithmetic + one |bitmap|-grain aggregate — zero joins, zero
    Python, linear at any scale."""
    return sql_q(spark, sf_dir, _QUARANTINE_SQL)


_KANON_SQL = """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS sz
      FROM customer GROUP BY c_nationkey, c_mktsegment),
    tot AS (SELECT CAST(sum(sz) AS BIGINT) AS n,
                   CAST(count(*) AS BIGINT) AS ng FROM g),
    ks AS (SELECT k FROM (VALUES (2), (5), (10), (20)) AS t(k))
    SELECT ks.k,
           CAST(sum(CASE WHEN g.sz < ks.k THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_groups,
           CAST(sum(CASE WHEN g.sz < ks.k THEN g.sz ELSE 0 END) AS BIGINT)
             AS n_risk_rows,
           round(CAST(sum(CASE WHEN g.sz < ks.k THEN g.sz ELSE 0 END)
                      AS DOUBLE) / max(tot.n), 6) AS risk_share,
           CAST(max(tot.ng) AS BIGINT) AS n_groups,
           CAST(min(g.sz) AS BIGINT) AS min_group_size
    FROM g CROSS JOIN ks CROSS JOIN tot
    GROUP BY ks.k
    ORDER BY ks.k
"""


@register("etl_k_anonymity_audit", oracle=_KANON_SQL)
def etl_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (c_nationkey, c_mktsegment)
    quasi-identifier pair — the privacy-governance gate a warehouse runs
    before releasing a 'de-identified' extract: for k ∈ {2,5,10,20},
    how many equivalence classes fall below k members, how many ROWS sit
    in those classes (the re-identifiable population), and their share —
    plus the global class count and the worst (smallest) class. One
    linear groupBy to the ≤125-cell class grain, then a 4-row k-grid
    broadcast over those cells (BNLJ allowlisted as a literal-grid
    pattern); nothing row-scale ever joins. GDPR companion to
    etl_gdpr_delete_audit / llm_pii_scrub."""
    return sql_q(spark, sf_dir, _KANON_SQL)


_SURVIVOR_SQL = """
    WITH ranked AS (
      SELECT user_id, event_type, value, ts, event_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn_recent,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY CASE WHEN value > 0 THEN 0 ELSE 1 END,
                                         ts DESC, event_id DESC) AS rn_value
      FROM events),
    freq AS (
      SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY count(*) DESC, event_type) AS rn_mode
      FROM events GROUP BY user_id, event_type),
    agg AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
             min(ts) AS first_seen, max(ts) AS last_seen
      FROM events GROUP BY user_id)
    SELECT a.user_id, a.n_events, a.first_seen, a.last_seen,
           r.event_type AS latest_type,
           round(v.value, 2) AS latest_positive_value,
           f.event_type AS modal_type, f.n AS modal_count
    FROM agg a
    JOIN (SELECT user_id, event_type FROM ranked WHERE rn_recent = 1) r
      ON a.user_id = r.user_id
    JOIN (SELECT user_id, value FROM ranked WHERE rn_value = 1) v
      ON a.user_id = v.user_id
    JOIN (SELECT user_id, event_type, n FROM freq WHERE rn_mode = 1) f
      ON a.user_id = f.user_id
    ORDER BY a.user_id
    LIMIT 200
"""


@register("etl_survivorship_golden_record", oracle=_SURVIVOR_SQL)
def etl_survivorship_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM golden-record survivorship: collapse each user's event
    history into one record under the three standard survivorship
    rules side by side — recency wins (latest event type by (ts,
    event_id) — the deterministic tiebreak matters: max_by/arg_max are
    tie-unstable across engines), non-null/valid wins (latest POSITIVE
    value, invalid zeros demoted not dropped), and frequency wins
    (modal event type, ties to the lexicographically first). This is
    the consolidation step every customer-360 pipeline runs after
    identity resolution. Scale shape: all three rules are windows or
    groupBys partitioned BY THE SAME user_id key — one shuffle,
    co-partitioned self-joins at the user grain after; first 200 users
    for a bounded result."""
    return sql_q(spark, sf_dir, _SURVIVOR_SQL)


# --------------------------------------------------------------------------
# Round 7 — pipeline-hardening additions (SURVEY.md §2.16)
# --------------------------------------------------------------------------

_STATE_MERGE_SQL = """
    WITH h AS (
      SELECT event_type,
             CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS half,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    st AS (
      SELECT event_type, half, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             min(cents) AS mn, max(cents) AS mx
      FROM h GROUP BY event_type, half),
    merged AS (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS n,
             CAST(sum(s) AS BIGINT) AS s, min(mn) AS mn, max(mx) AS mx
      FROM st GROUP BY event_type),
    fullagg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             min(cents) AS mn, max(cents) AS mx
      FROM h GROUP BY event_type)
    SELECT m.event_type,
           CAST((SELECT count(*) FROM st s2
                 WHERE s2.event_type = m.event_type) AS BIGINT)
             AS n_partial_states,
           m.n AS n_merged, f.n AS n_full,
           round(m.s / 100e0, 2) AS sum_merged,
           CAST(m.n = f.n AND m.s = f.s AND m.mn = f.mn AND m.mx = f.mx
                AS BOOLEAN) AS merge_consistent
    FROM merged m JOIN fullagg f ON m.event_type = f.event_type
    ORDER BY m.event_type
"""


@register("etl_incremental_state_merge_audit", oracle=_STATE_MERGE_SQL)
def etl_incremental_state_merge_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Algebraic-state merge audit — the correctness property every
    incremental pipeline rests on: (count, sum, min, max) states built
    separately per half-month must MERGE (sum/sum/min/max) to exactly
    the full recompute. A mismatch means someone snuck a non-mergeable
    aggregate (median, distinct) into an incremental rollup. All
    integer-cents arithmetic, so consistency is exact equality, not a
    tolerance. Scale shape: two map-side-combinable passes over the
    fact + |types x 2| state rows — merge algebra is free; at 100 TB
    this is the pattern that replaces full recomputes."""
    return sql_q(spark, sf_dir, _STATE_MERGE_SQL)


_FRESH_SQL = """
    WITH wm AS (SELECT max({us}) AS w FROM events),
    p AS (
      SELECT event_type, max({us}) AS last_us,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY event_type)
    SELECT p.event_type, p.n_rows,
           round((wm.w - p.last_us) / 3600e6, 4) AS lag_hours,
           CAST((wm.w - p.last_us) > 24 * 3600e6 AS BOOLEAN)
             AS breach_24h,
           CAST((wm.w - p.last_us) > 72 * 3600e6 AS BOOLEAN)
             AS breach_72h
    FROM p CROSS JOIN wm
    ORDER BY p.event_type
"""


@register(
    "etl_freshness_sla_audit",
    oracle=_FRESH_SQL.format(us="epoch_us(CAST(ts AS TIMESTAMP))"),
)
def etl_freshness_sla_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-freshness SLA audit: per event stream, the lag between its
    newest record and the table-level watermark (global max ts), with
    24 h / 72 h breach flags — the staleness monitor that catches one
    upstream topic silently falling behind while the table as a whole
    looks fresh. Integer-microsecond lag arithmetic (epoch_us /
    unix_micros), float only in the rounded hour display. Scale shape:
    two max/count aggregates, both map-side-combinable; the 1-row
    watermark broadcasts."""
    return sql_q(spark, sf_dir, _FRESH_SQL.format(us="unix_micros(ts)"))


_NULLDRIFT_SQL = """
    WITH h AS (
      SELECT event_type,
             CASE WHEN day(ts) <= 15 THEN 1 ELSE 2 END AS half,
             CASE WHEN value = 0 THEN 1 ELSE 0 END AS is_zero,
             CASE WHEN props IS NULL OR props = '{}' OR props = ''
                  THEN 1 ELSE 0 END AS is_empty_props
      FROM events),
    r AS (
      SELECT event_type, half, CAST(count(*) AS BIGINT) AS n,
             sum(is_zero) * 1e0 / count(*) AS zero_rate,
             sum(is_empty_props) * 1e0 / count(*) AS empty_props_rate
      FROM h GROUP BY event_type, half)
    SELECT a.event_type,
           a.n AS n_first_half, b.n AS n_second_half,
           round(a.zero_rate, 6) AS zero_rate_h1,
           round(b.zero_rate, 6) AS zero_rate_h2,
           round(abs(b.zero_rate - a.zero_rate), 6) AS zero_rate_drift,
           round(abs(b.empty_props_rate - a.empty_props_rate), 6)
             AS empty_props_drift,
           CAST(abs(b.zero_rate - a.zero_rate) > 0.05
                OR abs(b.empty_props_rate - a.empty_props_rate) > 0.05
                AS BOOLEAN) AS drift_alert
    FROM r a JOIN r b ON a.event_type = b.event_type
                     AND a.half = 1 AND b.half = 2
    ORDER BY a.event_type
"""


@register("etl_null_rate_drift", oracle=_NULLDRIFT_SQL)
def etl_null_rate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality drift between ingest halves: per event stream the
    zero-value rate and empty-props rate in the first vs second half of
    the month, with a 5-point drift alert — the 'a producer silently
    started dropping a field' tripwire that schema checks cannot catch
    (the column is still there, just empty). One conditional-aggregate
    pass builds both halves' rates; all comparisons on the |types x 2|
    grain. Complements etl_column_profile (static profile) and
    etl_psi_drift (distributional drift) with the missing-data axis."""
    return sql_q(spark, sf_dir, _NULLDRIFT_SQL)


_BACKFILL_SQL = """
    WITH ingest AS (
      SELECT date_trunc('day', ts) AS day, event_id FROM events
      UNION ALL
      SELECT date_trunc('day', ts) AS day, event_id FROM events
      WHERE day(ts) = 5),
    raw AS (
      SELECT day, CAST(count(*) AS BIGINT) AS n_raw
      FROM ingest GROUP BY day),
    ded AS (
      SELECT day, CAST(count(DISTINCT event_id) AS BIGINT) AS n_dedup
      FROM ingest GROUP BY day),
    orig AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n_orig
      FROM events GROUP BY date_trunc('day', ts))
    SELECT r.day, r.n_raw, d.n_dedup, o.n_orig,
           r.n_raw - d.n_dedup AS n_dup_rows,
           CAST(d.n_dedup = o.n_orig AS BOOLEAN) AS idempotent
    FROM raw r
    JOIN ded d ON d.day = r.day
    JOIN orig o ON o.day = r.day
    WHERE r.n_raw <> d.n_dedup
    ORDER BY r.day
"""


@register("etl_backfill_idempotency_audit", oracle=_BACKFILL_SQL)
def etl_backfill_idempotency_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Backfill idempotency proof: day 5 is ingested TWICE (the classic
    re-run-the-backfill-job accident), then key-dedup on event_id must
    restore exactly the original per-day counts — the audit a pipeline
    runs to certify that replaying any partition is safe. Emits only
    the damaged partitions (raw != dedup) with dup-row counts and the
    per-day idempotent verdict. Scale shape: the double-ingest is a
    filtered union (no extra full scan at the storage layer — same
    file, second predicate-pruned read), then two day-grain counting
    aggregates; dedup-by-key is the one real shuffle."""
    return sql_q(spark, sf_dir, _BACKFILL_SQL)


_BINPACK_SQL = """
    WITH d AS (
      SELECT date_trunc('day', ts) AS day, CAST(count(*) AS BIGINT) AS n_rows
      FROM events GROUP BY date_trunc('day', ts)),
    tot AS (
      SELECT CAST(sum(n_rows) AS BIGINT) AS total,
             CAST(ceil(sum(n_rows) / 8e0) AS BIGINT) AS target
      FROM d),
    packed AS (
      SELECT d.day, d.n_rows, tot.target,
             CAST(floor((sum(d.n_rows) OVER (ORDER BY d.day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         - d.n_rows) * 1e0 / tot.target) AS BIGINT)
               AS file_id
      FROM d CROSS JOIN tot)
    SELECT file_id,
           CAST(count(*) AS BIGINT) AS n_days,
           min(day) AS first_day, max(day) AS last_day,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           round(sum(n_rows) * 1e0 / max(target), 6) AS fill_ratio
    FROM packed
    GROUP BY file_id
    ORDER BY file_id
"""


@register("etl_bin_packing_plan", oracle=_BINPACK_SQL)
def etl_bin_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction PLANNING table (the decision step before
    etl_compaction executes): greedy first-fit packing of per-day
    partitions into ~8 equal-row output files via a running-sum
    cutpoint rule (file_id = floor(rows_before / target)) — per planned
    file the day range, row count and fill ratio. Deterministic: the
    greedy rule is pure integer prefix-sum arithmetic ordered by day.
    Scale shape: one linear day-grain count, one prefix-sum window on
    the <=31-row day grain — the plan costs nothing next to the
    rewrite it schedules, exactly as a table service should."""
    return sql_q(spark, sf_dir, _BINPACK_SQL)


_PII_VAULT_SQL = """
    WITH vault AS (
      SELECT user_id,
             substr(md5('salt-2024:' || CAST(user_id AS {st})), 1, 16)
               AS token
      FROM (SELECT DISTINCT user_id FROM events) u)
    SELECT CAST((SELECT count(*) FROM vault) AS BIGINT) AS n_users,
           CAST((SELECT count(DISTINCT token) FROM vault) AS BIGINT)
             AS n_tokens,
           CAST((SELECT count(*) FROM vault)
                - (SELECT count(DISTINCT token) FROM vault) AS BIGINT)
             AS n_collisions,
           CAST((SELECT count(*) FROM events) AS BIGINT) AS n_events,
           CAST((SELECT count(*) FROM events e
                 JOIN vault v ON e.user_id = v.user_id) AS BIGINT)
             AS n_events_tokenized,
           CAST((SELECT count(*) FROM events)
                = (SELECT count(*) FROM events e
                   JOIN vault v ON e.user_id = v.user_id) AS BOOLEAN)
             AS roundtrip_complete
"""


@register(
    "etl_pii_tokenization_vault",
    oracle=_PII_VAULT_SQL.format(st="VARCHAR"),
)
def etl_pii_tokenization_vault(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII tokenization-vault audit: deterministic salted-hash tokens
    (md5 prefix — production swaps in HMAC/format-preserving
    encryption, same shape) for every user key, then the two
    certifications a privacy review demands before the vault goes
    live: token UNIQUENESS (collision count — a collision silently
    merges two people) and ROUNDTRIP completeness (tokenizing the fact
    table via the vault loses zero events). The vault is user-grain,
    built once and cached; both audits read the cache; the fact join
    is the one real shuffle. Complements etl_gdpr_delete_audit
    (erasure) and llm_pii_scrub (free-text) with the
    pseudonymization leg."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    vault = spark.sql(
        "SELECT user_id,"
        " substr(md5('salt-2024:' || CAST(user_id AS STRING)), 1, 16)"
        " AS token"
        " FROM (SELECT DISTINCT user_id FROM events) u"
    ).cache()
    vault.createOrReplaceTempView("__pii_vault")
    return spark.sql(
        """
        SELECT CAST((SELECT count(*) FROM __pii_vault) AS BIGINT) AS n_users,
               CAST((SELECT count(DISTINCT token) FROM __pii_vault)
                    AS BIGINT) AS n_tokens,
               CAST((SELECT count(*) FROM __pii_vault)
                    - (SELECT count(DISTINCT token) FROM __pii_vault)
                    AS BIGINT) AS n_collisions,
               CAST((SELECT count(*) FROM events) AS BIGINT) AS n_events,
               CAST((SELECT count(*) FROM events e
                     JOIN __pii_vault v ON e.user_id = v.user_id)
                    AS BIGINT) AS n_events_tokenized,
               CAST((SELECT count(*) FROM events)
                    = (SELECT count(*) FROM events e
                       JOIN __pii_vault v ON e.user_id = v.user_id)
                    AS BOOLEAN) AS roundtrip_complete
        """
    )


_CASCADE_SQL = """
    WITH del_cust AS (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'),
    del_orders AS (
      SELECT o_orderkey FROM orders o
      JOIN del_cust d ON o.o_custkey = d.c_custkey),
    del_li AS (
      SELECT l.l_orderkey FROM lineitem l
      JOIN del_orders d ON l.l_orderkey = d.o_orderkey)
    SELECT CAST((SELECT count(*) FROM del_cust) AS BIGINT)
             AS customers_deleted,
           CAST((SELECT count(*) FROM del_orders) AS BIGINT)
             AS orders_cascaded,
           CAST((SELECT count(*) FROM del_li) AS BIGINT)
             AS lineitems_cascaded,
           CAST((SELECT count(*) FROM del_cust)
                + (SELECT count(*) FROM del_orders)
                + (SELECT count(*) FROM del_li) AS BIGINT) AS total_rows,
           round((SELECT count(*) FROM del_li) * 1e0
                 / (SELECT count(*) FROM lineitem), 6)
             AS lineitem_share_deleted
"""


@register("etl_cascade_delete_plan", oracle=_CASCADE_SQL)
def etl_cascade_delete_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential cascade-delete PLAN: deleting one customer segment,
    the exact row counts that must go from each downstream table
    (orders via custkey, lineitems via orderkey) and the fact-table
    share affected — the blast-radius report a GDPR/retention job
    publishes before executing (the execution itself is
    etl_gdpr_delete_audit's anti-join). The cascade walks the FK chain
    with two key-grain semi joins; the deleted-key sets are cached so
    each count reads its stage once. At 100 TB the same plan prices a
    delete before any file is rewritten."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    dc = spark.sql(
        "SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'"
    ).cache()
    dc.createOrReplaceTempView("__casc_cust")
    do = spark.sql(
        "SELECT o_orderkey FROM orders o JOIN __casc_cust d"
        " ON o.o_custkey = d.c_custkey"
    ).cache()
    do.createOrReplaceTempView("__casc_orders")
    return spark.sql(
        """
        SELECT CAST((SELECT count(*) FROM __casc_cust) AS BIGINT)
                 AS customers_deleted,
               CAST((SELECT count(*) FROM __casc_orders) AS BIGINT)
                 AS orders_cascaded,
               CAST((SELECT count(*) FROM lineitem l
                     JOIN __casc_orders d ON l.l_orderkey = d.o_orderkey)
                    AS BIGINT) AS lineitems_cascaded,
               CAST((SELECT count(*) FROM __casc_cust)
                    + (SELECT count(*) FROM __casc_orders)
                    + (SELECT count(*) FROM lineitem l
                       JOIN __casc_orders d ON l.l_orderkey = d.o_orderkey)
                    AS BIGINT) AS total_rows,
               round((SELECT count(*) FROM lineitem l
                      JOIN __casc_orders d ON l.l_orderkey = d.o_orderkey)
                     * 1e0 / (SELECT count(*) FROM lineitem), 6)
                 AS lineitem_share_deleted
        """
    )
