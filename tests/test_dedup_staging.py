"""Every op in functions/llm_dedup.py stages nothing and leaks nothing:
building it runs no Spark job, it leaves no temp view in the session, and
its collect() leaves no block in storage memory. A long-lived session that
serves these ops between other work carries no state from one to the next."""

from __future__ import annotations

import uuid

import pytest

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from highspeedrailwaybigdatasystem_spark.schemas import ensure_views
from tests.conftest import SF_SMOKE

DEDUP_OPS = sorted(
    name for name, fn in all_queries().items() if fn.__module__.endswith(".llm_dedup")
)

#: (op, check) -> why the op is exempt from that check
EXEMPT = {
    ("llm_dedup_components", "jobs"): "label propagation localCheckpoints the "
    "edge list and every superstep eagerly, to cut lineage in a fixpoint loop",
    ("llm_dedup_components", "storage"): "the localCheckpoint blocks of the "
    "returned labels are what its result reads",
    ("llm_near_dedup_minhash", "jobs"): "its materialized feature cache lets "
    "the planner broadcast the LSH bucket join; uncached it was 73% slower "
    "fresh at sf0.1",
    ("llm_near_dedup_minhash", "storage"): "the same feature cache",
}


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _stored_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize("op", DEDUP_OPS)
def test_dedup_op_stages_nothing(spark, op):
    ensure_views(spark, SF_SMOKE)
    spark.catalog.clearCache()
    views, stored = _temp_views(spark), _stored_rdds(spark)
    sc = spark.sparkContext
    group = f"dedup_build_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "dedup op build")
    try:
        df = all_queries()[op](spark, SF_SMOKE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    df.collect()
    if (op, "jobs") not in EXEMPT:
        assert jobs == [], f"{op}: {len(jobs)} Spark jobs at construction"
    assert _temp_views(spark) == views, f"{op}: left temp views behind"
    if (op, "storage") not in EXEMPT:
        assert _stored_rdds(spark) <= stored, f"{op}: left blocks in storage"
