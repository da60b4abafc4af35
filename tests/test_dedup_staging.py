"""Every op of the text, curation, multimodal, UDF and graph modules, and
three SQL ops that used to cache (``agg_lift_gain_table``, ``ts_hurst_rs``,
``set_symmetric_diff``), stages nothing and leaks nothing: building it
runs no Spark job, it leaves no temp view in the session, and its
collect() leaves no block in storage memory. A long-lived session that
serves these ops between other work carries no state from one to the
next. ``llm_ann`` is left out: its caches feed Arrow kernels. The
fixpoint ops are named in ``EXEMPT``. (The file and test names predate
the widening from ``llm_dedup``.)"""

from __future__ import annotations

import uuid

import pytest

from highspeedrailwaybigdatasystem_spark.registry import all_queries
from highspeedrailwaybigdatasystem_spark.schemas import ensure_views
from tests.conftest import SF_SMOKE

MODULES = ("llm_dedup", "llm_mix", "llm_text", "llm_mm", "udfs", "graph")
OPS = sorted(
    name
    for name, fn in all_queries().items()
    if fn.__module__.rsplit(".", 1)[-1] in MODULES
    or name in ("agg_lift_gain_table", "ts_hurst_rs", "set_symmetric_diff")
)

_FIXPOINT = (
    "localCheckpoints its vertex or edge frame and every superstep "
    "eagerly, to cut lineage in a fixpoint loop"
)
_FIXPOINT_BLOCKS = (
    "the localCheckpoint blocks of its last superstep are what its "
    "result reads"
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
    ("llm_zipf_fit", "jobs"): "operators.windows._range_prefix "
    "localCheckpoints the range-partitioned vocabulary and collects its "
    "per-partition offsets (6 jobs), so the global rank needs no "
    "single-task sort at scale; a plain global row_number window returns "
    "the same rows in 0.35 s against 0.91 s fresh at sf0.01 (0.33 s "
    "against 0.78 s at sf0.1), but sorts the whole vocabulary in one task",
    ("llm_zipf_fit", "storage"): "the localCheckpoint blocks of that "
    "partitioning are what its result reads",
    ("graph_pagerank", "jobs"): _FIXPOINT + "; it also counts the vertices "
    "once, for the 1/N and 0.15/N literals of every superstep",
    ("graph_pagerank", "storage"): _FIXPOINT_BLOCKS,
    ("graph_bfs_distance", "jobs"): _FIXPOINT,
    ("graph_bfs_distance", "storage"): _FIXPOINT_BLOCKS,
    ("graph_k_core", "jobs"): _FIXPOINT + "; the surviving edges are "
    "counted on the driver",
    ("graph_k_core", "storage"): _FIXPOINT_BLOCKS,
    ("graph_label_propagation", "jobs"): "localCheckpoints the vertex set "
    "and the undirected edge multiset once, so neither round replays the "
    "events scan",
    ("graph_label_propagation", "storage"): "the checkpointed edges and the "
    "checkpointed vertex set that seeds the labels are what its result reads",
    ("graph_connected_components", "jobs"): _FIXPOINT + "; it also checks "
    "that the user ids are dense, and counts changed labels per superstep",
    ("graph_connected_components", "storage"): _FIXPOINT_BLOCKS,
}


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _stored_rdds(spark) -> set[int]:
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


@pytest.mark.parametrize("op", OPS)
def test_dedup_op_stages_nothing(spark, op):
    ensure_views(spark, SF_SMOKE)
    spark.catalog.clearCache()
    views, stored = _temp_views(spark), _stored_rdds(spark)
    sc = spark.sparkContext
    group = f"op_build_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "op build")
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
