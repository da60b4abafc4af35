"""registry.plan_memo semantics (round 12): plan REUSE, never result reuse.

Pure ops memoize their constructed DataFrame per (op, session, sf_dir,
corpus fingerprint) so a repeat caller gets the same DataFrame (AQE then
reuses its materialized shuffle stages). A hit only looks the frame up: it
runs no Spark job, and composers build on the unmemoized body instead of
reading memo state. Catalyst planning is only 1-8% of a fresh headline
query at sf0.1, so the memo is about stage reuse, not planning cost. These
tests pin the contract that makes it safe."""

from __future__ import annotations

import shutil
import uuid

import pytest

from highspeedrailwaybigdatasystem_spark import registry
from highspeedrailwaybigdatasystem_spark.registry import all_queries
from highspeedrailwaybigdatasystem_spark.operators._util import t
from highspeedrailwaybigdatasystem_spark.schemas import ensure_views, load
from highspeedrailwaybigdatasystem_spark.sources._scratch import scratch_dir
from tests.conftest import SF_ORACLE

SF_SMOKE = "/root/testdata/sf0.001"


def test_memo_returns_same_plan_object_per_key(spark):
    qs = all_queries()
    a = qs["agg_scan_group"](spark, SF_ORACLE)
    b = qs["agg_scan_group"](spark, SF_ORACLE)
    assert a is b, "same (op, session, sf, fingerprint) must reuse the plan"
    c = qs["agg_scan_group"](spark, SF_SMOKE)
    assert c is not a, "a different sf_dir must construct a fresh plan"
    # and the reused plan re-executes: same values both collects
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_memo_hit_values_match_fresh_execution(spark):
    """A memo hit may legitimately serve AQE-materialized shuffle stages
    (that is the serving-mode point), so the guarantee to pin is
    VALUE-level: a repeat collect of the memoized plan must equal a fully
    fresh construction+execution of the same op (what every correctness
    gate performs), across a clearCache() in between."""
    qs = all_queries()
    df = qs["llm_exact_dedup"](spark, SF_ORACLE)
    memo_hit = sorted(map(tuple, df.collect()))
    spark.catalog.clearCache()
    fresh_fn = qs["llm_exact_dedup"].__wrapped__
    fresh = sorted(map(tuple, fresh_fn(spark, SF_ORACLE).collect()))
    assert memo_hit == fresh


def test_memo_invalidates_on_corpus_fingerprint_change(spark):
    """An in-place corpus regeneration (new mtime/size) must rebuild the
    plan: copy the smoke corpus to scratch, query it, overwrite one table
    with the oracle tier's copy, and check the memoized entry is NOT
    reused (row counts differ with the corpus)."""
    import os
    import time

    d = scratch_dir("plan_memo_corpus")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(SF_SMOKE, d)
    qs = all_queries()
    small = qs["topk_global"](spark, d)
    n_small = small.count()
    time.sleep(0.02)  # ensure a distinct mtime on fast filesystems
    shutil.copy(f"{SF_ORACLE}/lineitem.parquet", os.path.join(d, "lineitem.parquet"))
    fresh = qs["topk_global"](spark, d)
    assert fresh is not small, "fingerprint change must invalidate the memo"
    assert fresh.count() >= n_small


def test_ensure_views_sees_any_table_rewritten_in_place(spark):
    """ensure_views keys its memo like plan_memo (session UUID, fingerprint
    of every parquet file under sf_dir): rewriting region.parquet in place
    must re-register its view, whether the next read is ensure_views and
    spark.table or schemas.load (the ops' ``t``). A stale view keeps the
    old file listing, whose shorter length drops the rewritten file's
    later row groups."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    def view(spark, sf_dir, name):
        ensure_views(spark, sf_dir)
        return spark.table(name)

    d = scratch_dir("ensure_views_corpus")
    shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(SF_SMOKE, d)
    n = view(spark, d, "region").count()
    path = os.path.join(d, "region.parquet")
    base = pq.read_table(path)
    for copies, read in ((400, view), (401, load)):
        pq.write_table(
            pa.concat_tables([base] * copies), path, row_group_size=100
        )
        assert read(spark, d, "region").count() == copies * n, read.__name__


def test_incomplete_corpus_leaves_no_trusted_views(spark):
    """A registration that fails part-way (nation.parquet missing, after
    region's view was already replaced) must not leave the memo naming the
    previous corpus: the next ensure_views of that corpus registers again
    instead of serving the broken directory's region."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    ensure_views(spark, SF_SMOKE)
    n = spark.table("region").count()
    d = scratch_dir("ensure_views_incomplete")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    base = pq.read_table(f"{SF_SMOKE}/region.parquet")
    pq.write_table(pa.concat_tables([base] * 3), f"{d}/region.parquet")
    os.symlink(f"{SF_SMOKE}/events.parquet", f"{d}/events.parquet")
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        load(spark, d, "region")
    ensure_views(spark, SF_SMOKE)
    assert spark.table("region").count() == n


def test_load_and_t_read_the_registered_views_listing(spark):
    """load and t return the session's registered view: repeated reads
    of one table share the view's JVM InMemoryFileIndex (one file listing
    per session and corpus) instead of listing the files on every call."""

    def file_index(df):
        leaf = df._jdf.queryExecution().analyzed().collectLeaves().apply(0)
        return spark._jvm.System.identityHashCode(leaf.relation().location())

    ensure_views(spark, SF_SMOKE)
    listed = file_index(spark.table("orders"))
    assert file_index(load(spark, SF_SMOKE, "orders")) == listed
    assert file_index(load(spark, SF_SMOKE, "orders")) == listed
    assert file_index(t(spark, SF_SMOKE, "orders")) == listed


def test_memo_only_on_pure_ops():
    """plan_memo must never wrap side-effectful operators: sinks re-write
    files, streaming ops run queries, scratch-staging ops copy corpora —
    memoizing any of those would silently skip their effect on repeat
    calls. Pin the opt-in list to pure prefixes."""
    impure_prefixes = ("src_", "sink_", "stream_", "etl_scd", "mm_")
    # functools.wraps copies __module__/__name__ from the wrapped op, so
    # detect memoization via the __wrapped__ attribute (plan_memo is the
    # registry's only wraps-based decorator — this list IS the opt-in set)
    memoized = [
        name
        for name, fn in all_queries().items()
        if getattr(fn, "__wrapped__", None) is not None
    ]
    bad = [n for n in memoized if n.startswith(impure_prefixes)]
    assert not bad, f"plan_memo on side-effectful ops: {bad}"
    assert "agg_scan_group" in memoized and "llm_minhash_banding" in memoized


def test_memo_keyed_on_jvm_session_uuid(spark):
    """Session identity is the JVM session's sessionUUID, not id() of the
    py4j proxy (ADVICE r12): two Python wrappers of ONE JVM session must
    share memo entries, while a sibling newSession() clone (same
    applicationId, own conf/temp-view state) must get its own."""
    from pyspark.sql import SparkSession

    qs = all_queries()
    a = qs["agg_scan_group"](spark, SF_ORACLE)
    # a second Python wrapper of the same JVM session: same UUID -> hit
    twin = SparkSession(spark.sparkContext, spark._jsparkSession)
    assert str(twin._jsparkSession.sessionUUID()) == str(
        spark._jsparkSession.sessionUUID()
    )
    b = qs["agg_scan_group"](twin, SF_ORACLE)
    assert b is a, "wrapper of the same JVM session must hit the memo"
    # a sibling session clone: distinct UUID -> own entry
    clone = spark.newSession()
    try:
        assert str(clone._jsparkSession.sessionUUID()) != str(
            spark._jsparkSession.sessionUUID()
        )
        c = qs["agg_scan_group"](clone, SF_ORACLE)
        assert c is not a, "newSession() clone must not share memo entries"
    finally:
        # no stop(): the clone shares the SparkContext with the suite
        pass


def test_memo_hit_after_clear_cache_runs_no_job(spark):
    """A hit hands back the stored DataFrame and nothing else: even after
    clearCache(), looking it up launches no Spark job."""
    fn = all_queries()["llm_minhash_banding"]
    fn(spark, SF_ORACLE)
    spark.catalog.clearCache()
    sc = spark.sparkContext
    group = f"plan_memo_hit_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan_memo hit")
    try:
        fn(spark, SF_ORACLE)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


_MEMOIZED = sorted(
    name
    for name, fn in all_queries().items()
    if getattr(fn, "__plan_memo__", False)
)


def _build_jobs(spark, build):
    """Run ``build()`` under a fresh job group; return (its result, the
    Spark jobs it launched)."""
    sc = spark.sparkContext
    group = f"plan_memo_build_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plan_memo build")
    try:
        df = build()
        return df, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("op", _MEMOIZED)
def test_memoized_body_stages_nothing(spark, op):
    """The memo contract: the body of every plan_memo op launches no Spark
    job at build and its executed plan reads no cache. A cache inside a
    memoized plan is rebuilt in one task on every hit after clearCache(),
    while the plan's AQE stages are reused from their shuffle files."""
    ensure_views(spark, SF_ORACLE)
    spark.catalog.clearCache()
    df, jobs = _build_jobs(
        spark, lambda: all_queries()[op].__wrapped__(spark, SF_ORACLE)
    )
    assert jobs == [], f"{op}: {len(jobs)} Spark jobs at build"
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan, plan


@pytest.mark.parametrize("op", ["llm_dup_partner_degree_dist", "llm_lsh_tuning_curve"])
def test_composer_builds_banding_outside_memo(spark, op):
    """Composers over llm_minhash_banding call its unmemoized body, so they
    leave no banding memo entry, and that body stages nothing: building
    the composer launches no Spark job."""
    registry._PLAN_MEMO.clear()
    spark.catalog.clearCache()
    ensure_views(spark, SF_ORACLE)
    _, jobs = _build_jobs(spark, lambda: all_queries()[op](spark, SF_ORACLE))
    assert not [k for k in registry._PLAN_MEMO if k[0] == "llm_minhash_banding"]
    assert jobs == [], f"{op}: {len(jobs)} Spark jobs at build"
