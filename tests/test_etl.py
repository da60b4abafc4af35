"""ETL ops whose results must not depend on the session's core count."""

from __future__ import annotations

from highspeedrailwaybigdatasystem_spark.registry import all_oracles, all_queries
from tests.conftest import SF_ORACLE
from tools.mirror import compare


def test_compaction_file_count_independent_of_min_partitions(spark, duck):
    """A local[2] session reads small files into 2 splits by default
    (spark.sql.files.minPartitionNum follows the core count), which left
    coalesce(4) with 2 inputs and 2 output files against the oracle's 4."""
    key = "spark.sql.files.minPartitionNum"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        got = all_queries()["etl_compaction"](spark, SF_ORACLE).toPandas()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    want = duck.execute(all_oracles()["etl_compaction"]).fetchdf()
    assert not compare("etl_compaction", got, want)
