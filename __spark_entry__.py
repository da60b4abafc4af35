"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``highspeedrailwaybigdatasystem_spark/``; operators
register themselves with the registry on import (one entry per SURVEY.md §2
row). tests/test_oracle_mirror.py replicates this comparison locally.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from highspeedrailwaybigdatasystem_spark.registry import all_oracles, all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (5-way star join → revenue by nation, TPC-H Q5 shape)
    on /root/testdata/sf0.001; driver checks rows>0."""
    return all_queries()["join_multiway"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Each callable takes (spark, sf_dir) and returns a DataFrame.
    Every computed/aggregate column is aliased to match ``oracle_sql``.
    """
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (pre-registered
    views: region nation customer supplier part orders lineitem events
    documents embeddings). Every key of ``queries()`` has one:
    ``registry.register`` requires an oracle.
    """
    return all_oracles()
