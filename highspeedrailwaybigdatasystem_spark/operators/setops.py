"""Set operators (SURVEY.md §2.7).

UNION ALL is a zero-shuffle concatenation; the DISTINCT variants shuffle on
the full row — at 100 TB prefer pre-aggregated inputs (as here: nationkey
projections) so the distinct shuffles keys, not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ._util import sql_q, t


@register(
    "set_union_all",
    oracle="""
    SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
    UNION ALL
    SELECT o_orderkey FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
)
def set_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = t(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    high = o.where(F.col("o_orderpriority") == "2-HIGH").select("o_orderkey")
    return urgent.unionAll(high)


@register(
    "set_union_distinct",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@register(
    "set_intersect",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "set_except",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)  # EXCEPT DISTINCT semantics, matching SQL EXCEPT


@register(
    "set_intersect_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — bag-semantics intersection (min multiplicity per
    value), distinct from set_intersect's dedup semantics. Spark lowers
    it to a count-balanced left-semi style agg; one shuffle on the key."""
    o = t(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.where(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return urgent.intersectAll(high)


@register(
    "set_except_all",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — bag-semantics difference (multiplicity-subtracting),
    the dedup-free complement of set_except."""
    o = t(spark, sf_dir, "orders")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    high = o.where(F.col("o_orderpriority") == "2-HIGH").select("o_custkey")
    return urgent.exceptAll(high)


@register(
    "set_union_by_name",
    oracle="""
    SELECT * FROM (
      SELECT c_custkey, c_acctbal, c_mktsegment
      FROM customer WHERE c_custkey < 300)
    UNION ALL BY NAME
    (SELECT c_mktsegment, c_custkey, c_name
     FROM customer WHERE c_custkey >= 300 AND c_custkey < 600)
    """,
)
def set_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aligned union: unionByName(allowMissingColumns=True) matches
    columns BY NAME (not position) and null-fills the asymmetric ones —
    the union you actually want when two pipelines emit the same logical
    table with drifted column order/subsets (plain UNION ALL would silently
    misalign positions). DuckDB's UNION ALL BY NAME is the exact oracle
    counterpart. Map-side only — no shuffle; the nulls are manufactured,
    which also exercises the driver's null-canonicalization."""
    c = t(spark, sf_dir, "customer")
    left = c.where(F.col("c_custkey") < 300).select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    right = (
        c.where((F.col("c_custkey") >= 300) & (F.col("c_custkey") < 600))
        .select("c_mktsegment", "c_custkey", "c_name")
    )
    return left.unionByName(right, allowMissingColumns=True)


_SYMDIFF_SQL = """
    WITH w1 AS (SELECT DISTINCT user_id FROM events WHERE day(ts) <= 15),
    w2 AS (SELECT DISTINCT user_id FROM events WHERE day(ts) > 15),
    only1 AS (SELECT user_id FROM w1 EXCEPT SELECT user_id FROM w2),
    only2 AS (SELECT user_id FROM w2 EXCEPT SELECT user_id FROM w1)
    SELECT CAST((SELECT count(*) FROM w1) AS BIGINT) AS n_first_half,
           CAST((SELECT count(*) FROM w2) AS BIGINT) AS n_second_half,
           CAST((SELECT count(*) FROM only1) AS BIGINT) AS n_only_first,
           CAST((SELECT count(*) FROM only2) AS BIGINT) AS n_only_second,
           CAST((SELECT count(*) FROM only1)
                + (SELECT count(*) FROM only2) AS BIGINT)
             AS n_symmetric_diff,
           CAST((SELECT count(*) FROM
                 (SELECT user_id FROM w1 INTERSECT
                  SELECT user_id FROM w2) b) AS BIGINT) AS n_both
    """


@register("set_symmetric_diff", oracle=_SYMDIFF_SQL)
def set_symmetric_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric difference of the active-user sets of the two month
    halves — (A∖B) ∪ (B∖A) composed from EXCEPT/INTERSECT, the churn/
    new-user split every retention report starts from, and the set-op
    composition the family's except/intersect primitives exist for.
    Identity pinned by construction: |AΔB| + 2|A∩B| = |A| + |B|. The
    oracle text is the plan: one query of scalar subqueries, in which
    each half-month user set is a distinct exchange that AQE runs once
    and reuses; EXCEPT/INTERSECT hash on the key — one shuffle each at
    user grain."""
    return sql_q(spark, sf_dir, _SYMDIFF_SQL)
