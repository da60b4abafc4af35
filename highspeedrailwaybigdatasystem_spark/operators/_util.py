"""Shared helpers for operator modules.

Canonicalization rules (SURVEY.md §5.3) live here so every operator applies
them identically:

* ``money(col)``   — round(x, 2) for currency aggregates (double, not decimal).
* ``ratio(col)``   — round(x, 6) for ratios / similarities / stats.
* events.ts is timestamp[us] parquet (``schemas.load`` refuses any other
  encoding). ``EVENTS_TS_US`` below is an identity cast in DuckDB, kept so
  every oracle stays unit-explicit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import load

#: DuckDB-side µs-canonical view of events.ts (identity on the µs corpus).
EVENTS_TS_US = "CAST(ts AS TIMESTAMP)"


def money(col: Column | str) -> Column:
    return F.round(F.col(col) if isinstance(col, str) else col, 2)


def exact_group_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    ps: dict[str, float],
) -> DataFrame:
    """Exact interpolated percentiles per group, bit-identical to Spark's
    built-in ``percentile()`` (and therefore to DuckDB ``quantile_cont``,
    the verified-identical oracle function) but ~7× faster (r16
    optimization round, measured 16.8 s → 2.5 s on percentile(q1,q3) over
    sf0.1 lineitem under identical load, EXACT value match).

    Why: ``Percentile`` is a ``TypedImperativeAggregate`` — per-row
    OpenHashMap updates outside whole-stage codegen, serialized map merge
    through the shuffle (~75k rows/s/32 cores measured). This helper gets
    the same answer from codegen-able relational pieces: a (group, value)
    count hash-aggregate (parallel, map-side combinable — the shuffle
    carries DISTINCT values per group, never rows), a per-group
    cumulative-count window over those distinct values, boundary-row
    picks at floor/ceil of p·(n−1), and one final interpolation.

    Exactness contract, replicating Percentile.getPercentile step for
    step: position = p·(n−1) in double arithmetic (p passed as a double
    literal, never a Spark SQL DECIMAL); lower = floor(position), higher
    = ceil(position); result = lowerKey when higher == lower OR lowerKey
    == higherKey, else (higher−position)·lowerKey +
    (position−lowerIndex)·higherKey — the exact expression the built-in
    evaluates, in the same double precision. Values are cast to double
    BEFORE interpolation, as the built-in does. NULL handling matches:
    NULL values count toward neither n nor cum (the conditional sums skip
    them; ASC NULLS FIRST ordering keeps them out of the non-null
    prefix), and an all-NULL group yields n = NULL → NULL percentiles
    while keeping its row.

    Scale note: the window partitions by the group key over DISTINCT
    values — the same per-group concentration the built-in's final merge
    has, on strictly less data (counts map vs serialized per-task maps),
    so this is never a scale regression; few-group global percentiles
    concentrate either way and the approx path remains the 100 TB
    answer.

    ``ps`` maps output column name → percentile fraction.
    Returns one row per group: ``group_cols + list(ps)``.
    """
    g = [F.col(c) for c in group_cols]
    v = F.col(value_col).cast("double")
    vc = df.groupBy(*g, v.alias("_v")).agg(F.count(F.lit(1)).alias("_c"))
    cnt_nn = F.when(F.col("_v").isNotNull(), F.col("_c"))
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("_v").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    ranked = vc.select(
        *group_cols,
        "_v",
        "_c",
        F.sum(cnt_nn).over(w_cum).alias("_cum"),
        F.sum(cnt_nn).over(w_all).alias("_n"),
    )
    picks = []
    for name, p in ps.items():
        pos = F.lit(float(p)) * (F.col("_n") - 1).cast("double")
        lo_i = F.floor(pos)
        hi_i = F.ceil(pos)
        at = lambda i: F.max(  # noqa: E731 — value covering 0-based index i
            F.when(
                ((F.col("_cum") - F.col("_c")) <= i) & (i < F.col("_cum")),
                F.col("_v"),
            )
        )
        lo_v, hi_v = at(lo_i), at(hi_i)
        picks.append(
            F.when(
                (F.max(hi_i) == F.max(lo_i)) | (lo_v == hi_v), lo_v
            ).otherwise(
                (F.max(hi_i) - F.max(pos)) * lo_v
                + (F.max(pos) - F.max(lo_i)) * hi_v
            ).alias(name)
        )
    return ranked.groupBy(*group_cols).agg(*picks)


def ratio(col: Column | str) -> Column:
    return F.round(F.col(col) if isinstance(col, str) else col, 6)


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table with its declared schema."""
    return load(spark, sf_dir, name)


def _materialize_cache(spark: SparkSession, *dfs: DataFrame) -> None:
    """count() each cached DataFrame whose in-memory buffers are NOT yet
    built, so downstream queries are planned against the cache's REAL
    InMemoryRelation statistics (see llm_minhash_banding's
    planner-statistics note — unmaterialized cached explodes carry
    pre-explode size estimates, under which Catalyst force-broadcasts the
    whole view: a 3.5 GiB OOM at the 100x corpus). Gating on the actual
    CacheManager state (not a process-global seen-set, round 11) keeps the
    guard correct across spark.catalog.clearCache()/unpersist(): a cleared
    entry re-registers unmaterialized and gets re-counted here. Falls back
    to an unconditional count() if the JVM probe is unavailable."""
    for df in dfs:
        registered = True
        try:
            opt = (
                spark._jsparkSession.sharedState()
                .cacheManager()
                .lookupCachedData(df._jdf)
            )
            registered = opt.isDefined()
            loaded = registered and (
                opt.get()
                .cachedRepresentation()
                .cacheBuilder()
                .isCachedColumnBuffersLoaded()
            )
        except Exception:
            loaded = False
        if not registered:
            # r17: spark.catalog.clearCache()/unpersist() removes the
            # CacheManager ENTRY, not just the buffers — a bare count()
            # would then be a full uncached recompute and downstream
            # queries would still inline the whole subtree per reference.
            # Re-register first so the count below rebuilds a real cache
            # (plan_memo's hit path relies on this after the cache-honest
            # harnesses clear between timed runs).
            df.cache()
        if not loaded:
            df.count()


def sql_q(spark: SparkSession, sf_dir: str, text: str) -> DataFrame:
    """Run one Spark SQL text over the memoized corpus views.

    The hot-path (bench headline) ops build their plan this way: a single
    ``spark.sql`` parse is one Py4J round-trip, where the equivalent
    Column-expression pipeline costs 25–55 ms per table load plus ~1 ms
    per Column operator in driver-side JVM calls — measured at 0.15–0.33 s
    per query build, dominating sf0.1 wall-clock. The logical/physical
    plan is identical to the DataFrame formulation; Catalyst sees the same
    tree either way.
    """
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(text)
