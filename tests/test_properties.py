"""Property-based metamorphic checks (SURVEY.md §5.2 #3): random small
frames, engine-vs-engine and algebraic invariants. Few examples per
property — each example pays a Spark job's fixed cost."""

from __future__ import annotations

import duckdb
import pandas as pd
from hypothesis import given, settings, strategies as st

ROWS = st.lists(
    st.tuples(
        st.integers(min_value=-1000, max_value=1000),
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=64),
        st.sampled_from(["alpha", "Beta", "GAMMA", "", "x y", "Ab#3"]),
    ),
    min_size=1,
    max_size=50,
)

_SETTINGS = dict(max_examples=10, deadline=None)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k int, v double, s string")


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_filter_composition(spark, rows):
    from pyspark.sql import functions as F

    df = _df(spark, rows)
    a, b = F.col("k") > 0, F.col("v") < 100.0
    assert df.where(a).where(b).count() == df.where(a & b).count()


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_union_and_distinct_counts(spark, rows):
    df = _df(spark, rows)
    n = df.count()
    assert df.unionAll(df).count() == 2 * n
    assert df.distinct().count() == len({tuple(r) for r in rows})


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_join_row_bounds(spark, rows):
    df = _df(spark, rows)
    n = df.count()
    joined = df.alias("a").join(df.alias("b"), "k")
    # inner self-join on a key: at least the matching rows, at most n²
    assert n <= joined.count() + df.where("k is null").count() <= n * n


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_scalar_functions_match_duckdb(spark, rows):
    """upper/substr/length/abs on generated values: Spark ≡ DuckDB."""
    from pyspark.sql import functions as F

    sp = (
        _df(spark, rows)
        .select(
            F.upper("s").alias("u"),
            F.substring("s", 1, 2).alias("s2"),
            F.length("s").alias("ln"),
            F.abs("k").alias("ak"),
        )
        .toPandas()
    )
    pdf = pd.DataFrame(rows, columns=["k", "v", "s"])
    con = duckdb.connect()
    con.register("t", pdf)
    du = con.execute(
        "SELECT upper(s) AS u, substr(s,1,2) AS s2,"
        " CAST(length(s) AS INT) AS ln, abs(k) AS ak FROM t"
    ).fetchdf()
    con.close()
    key = lambda d: sorted(map(tuple, d.itertuples(index=False)))
    assert key(sp) == key(du)


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_window_rownum_matches_duckdb(spark, rows):
    """row_number with a total order (full tie-break) ≡ DuckDB."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("s").orderBy("k", "v")
    sp = (
        _df(spark, rows)
        .select("k", "v", "s", F.row_number().over(w).alias("rn"))
        .toPandas()
    )
    pdf = pd.DataFrame(rows, columns=["k", "v", "s"])
    con = duckdb.connect()
    con.register("t", pdf)
    du = con.execute(
        "SELECT k, v, s, CAST(row_number() OVER"
        " (PARTITION BY s ORDER BY k, v) AS INT) AS rn FROM t"
    ).fetchdf()
    con.close()
    key = lambda d: sorted(map(tuple, d.itertuples(index=False)))
    assert key(sp) == key(du)


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_outer_join_null_semantics(spark, rows):
    """Left join: every left row survives exactly once per match (or once
    with NULLs); total = inner count + unmatched count."""
    from pyspark.sql import functions as F

    df = _df(spark, rows)
    right = df.where("k % 2 = 0").select(F.col("k").alias("rk")).distinct()
    left_join = df.join(right, df.k == right.rk, "left")
    inner = df.join(right, df.k == right.rk).count()
    unmatched = left_join.where("rk IS NULL").count()
    assert left_join.count() == inner + unmatched
    assert unmatched == df.where("k % 2 != 0 OR k IS NULL").count()


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_groupby_sum_matches_duckdb(spark, rows):
    """Integer-exact aggregate: Spark group sums ≡ DuckDB group sums."""
    sp = _df(spark, rows).groupBy("s").sum("k").toPandas()
    pdf = pd.DataFrame(rows, columns=["k", "v", "s"])
    con = duckdb.connect()
    con.register("t", pdf)
    du = con.execute(
        "SELECT s, CAST(sum(k) AS BIGINT) AS sk FROM t GROUP BY s"
    ).fetchdf()
    con.close()
    sp.columns = ["s", "sk"]
    key = lambda d: sorted(map(tuple, d.itertuples(index=False)))
    assert key(sp) == key(du)


def test_chunking_covers_every_token(spark):
    """llm_window_chunking invariants on the real corpus: chunk count is
    ceil((n-64)/48)+1 (min 1), per-chunk token sums reconstruct
    n + 16·(n_chunks-1) (the overlap double-count), and no chunk is empty."""
    import math

    import __spark_entry__ as entrymod
    from tests.conftest import SF_ORACLE

    full = (
        entrymod.queries()["llm_window_chunking"](spark, SF_ORACLE).toPandas()
    )
    g = full.groupby(["doc_id", "n_tok"])["chunk_tokens"]
    for (doc_id, n_tok), s in g:
        expect_chunks = max(math.ceil((n_tok - 64) / 48), 0) + 1
        assert len(s) == expect_chunks, (doc_id, n_tok, len(s))
        assert (s > 0).all(), (doc_id, "empty chunk")
        # stride-48/size-64 windows double-count 16 tokens per boundary,
        # except the last (possibly short) chunk which double-counts
        # whatever of the 16-token overlap it actually contains
        if expect_chunks == 1:
            assert s.sum() == n_tok
        else:
            tail = min(n_tok - 48 * (expect_chunks - 1), 64)
            assert s.iloc[-1] == tail, (doc_id, n_tok, s.iloc[-1], tail)
            assert s.sum() == 64 * (expect_chunks - 1) + tail


def test_hash_split_is_partition(spark):
    """llm_hash_split: the three splits are disjoint and exhaustive, and
    membership is stable across invocations (pure function of doc_id)."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_ORACLE

    q = entrymod.queries()["llm_hash_split"]
    a = q(spark, SF_ORACLE).toPandas().set_index("split").sort_index()
    b = q(spark, SF_ORACLE).toPandas().set_index("split").sort_index()
    assert set(a.index) == {"train", "val", "test"}
    assert a["n_docs"].sum() == 500  # every doc in exactly one split
    pd.testing.assert_frame_equal(a, b)  # deterministic re-run


def test_weighted_median_brute_force(spark):
    """agg_weighted_median vs a driver-side brute force on the same data."""
    import __spark_entry__ as entrymod
    from tests.conftest import SF_ORACLE

    got = (
        entrymod.queries()["agg_weighted_median"](spark, SF_ORACLE)
        .toPandas()
        .set_index("l_returnflag")["weighted_median"]
    )
    li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    ).toPandas()
    li["wt"] = (li.l_extendedprice * 100).round().astype("int64")
    for flag, grp in li.groupby("l_returnflag"):
        g = grp.sort_values("l_quantity")
        cum = g.groupby("l_quantity")["wt"].sum().cumsum()
        half = g["wt"].sum() / 2
        expect = cum[cum >= half].index[0]
        assert got[flag] == expect, (flag, got[flag], expect)


# ---- round-4 additions: r3-family metamorphic checks (VERDICT r3 item 6) ----


def test_asof_family_brute_force(spark):
    """The whole as-of family (backward / forward / nearest) vs a pandas
    per-user brute force on the real corpus: every event's matched
    timestamp must equal the scan-computed answer, including the tie
    rules (backward = strictly prior, forward = strictly later, nearest
    breaks equidistant ties backward)."""
    import numpy as np

    import __spark_entry__ as entrymod
    from tests.conftest import SF_ORACLE

    qs = entrymod.queries()
    ev = (
        spark.read.parquet(f"{SF_ORACLE}/events.parquet")
        .select("event_id", "user_id", "event_type", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
        .reset_index(drop=True)
    )
    back = qs["join_asof"](spark, SF_ORACLE).toPandas().set_index("event_id")
    fwd = qs["join_asof_forward"](spark, SF_ORACLE).toPandas().set_index("event_id")
    near = qs["join_asof_nearest"](spark, SF_ORACLE).toPandas().set_index("event_id")

    expect_back, expect_fwd, expect_near = {}, {}, {}
    for _uid, g in ev.groupby("user_id", sort=False):
        rows = list(g.itertuples(index=False))
        for i, r in enumerate(rows):
            prior = [x.ts for x in rows[:i] if x.event_type == "signup"]
            later = [x.ts for x in rows[i + 1:] if x.event_type == "purchase"]
            expect_back[r.event_id] = prior[-1] if prior else None
            expect_fwd[r.event_id] = later[0] if later else None
            if r.event_type == "purchase":
                # nearest: signups up to AND INCLUDING current row backward,
                # from current row forward — mirrors the op's frames
                prev = [x.ts for x in rows[: i + 1] if x.event_type == "signup"]
                nxt = [x.ts for x in rows[i:] if x.event_type == "signup"]
                pg = (r.ts - prev[-1]).value if prev else None  # ns
                ng = (nxt[0] - r.ts).value if nxt else None  # ns
                if pg is None and ng is None:
                    continue
                if pg is None:
                    expect_near[r.event_id] = ng
                elif ng is None or pg <= ng:
                    expect_near[r.event_id] = pg
                else:
                    expect_near[r.event_id] = ng

    assert len(back) == len(ev)
    for eid, want in expect_back.items():
        got = back.loc[eid, "prev_signup_ts"]
        assert (pd.isna(got) and want is None) or got == want, ("back", eid)
    for eid, want in expect_fwd.items():
        got = fwd.loc[eid, "next_purchase_ts"]
        assert (pd.isna(got) and want is None) or got == want, ("fwd", eid)
    assert set(near.index) == set(expect_near)
    for eid, want in expect_near.items():
        # pandas Timestamp.value is ns; op emits µs
        assert near.loc[eid, "gap_us"] * 1000 == want, ("near", eid)


@given(rows=ROWS)
@settings(**_SETTINGS)
def test_window_frame_boundaries(spark, rows):
    """Window frame boundary semantics on random frames:

    * rowsBetween(-2, 0) integer sums ≡ pandas rolling(3) within a total
      order (exact ints — no float accumulation ambiguity);
    * rangeBetween(0, 0) must cover ALL peer rows with the same ORDER BY
      value — i.e. equal the per-(s, k) group sum for every row."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    indexed = [(i, k, v, s) for i, (k, v, s) in enumerate(rows)]
    df = spark.createDataFrame(indexed, "i int, k int, v double, s string")

    w_rows = Window.partitionBy("s").orderBy("i").rowsBetween(-2, 0)
    got = {
        r["i"]: r["r3"]
        for r in df.select("i", F.sum("k").over(w_rows).alias("r3")).collect()
    }
    pdf = pd.DataFrame(indexed, columns=["i", "k", "v", "s"])
    expect = (
        pdf.sort_values("i")
        .groupby("s")["k"]
        .transform(lambda x: x.rolling(3, min_periods=1).sum())
    )
    for i, want in zip(pdf.sort_values("i")["i"], expect):
        assert got[i] == int(want), (i, got[i], want)

    w_range = Window.partitionBy("s").orderBy("k").rangeBetween(0, 0)
    peers = df.select("s", "k", F.sum("k").over(w_range).alias("peer_sum")).collect()
    group_sum = pdf.groupby(["s", "k"])["k"].sum().to_dict()
    for r in peers:
        assert r["peer_sum"] == group_sum[(r["s"], r["k"])], (r, "peer frame")


def test_bloom_dedup_result_independent_of_fp_rate(spark):
    """llm_incremental_bloom_dedup's exactness claim, metamorphically: the
    Bloom bitmap only routes rows between the no-join path and the exact
    anti-join confirm, so shrinking it 512× (m = 2^8 bits for ~400 corpus
    hashes ⇒ FP rate ≈ 1.0, nearly every batch row takes the join) must
    yield the IDENTICAL result set."""
    from highspeedrailwaybigdatasystem_spark.functions.llm_dedup import _bloom_dedup_impl
    from tests.conftest import SF_ORACLE

    key = lambda df: sorted(
        map(tuple, df.toPandas().itertuples(index=False))
    )
    full = key(_bloom_dedup_impl(spark, SF_ORACLE, m_bits=1 << 17))
    tiny = key(_bloom_dedup_impl(spark, SF_ORACLE, m_bits=1 << 8))
    assert full == tiny
    assert len(full) > 0  # the batch does contain genuinely new docs


@given(rows=ROWS)
@settings(max_examples=5, deadline=None)
def test_range_prefix_reconstructs_global_order(spark, rows):
    """_range_prefix (the r4 machinery under pareto/gini/zipf/vocab ops):
    broadcast offsets + per-partition window must reconstruct EXACTLY the
    global rank and running sum a single-task Window.orderBy would give,
    for any data and any partition count."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from highspeedrailwaybigdatasystem_spark.operators.windows import _range_prefix

    indexed = [(i, k) for i, (k, _v, _s) in enumerate(rows)]
    df = spark.createDataFrame(indexed, "i int, k long")
    order = [F.col("k").desc(), F.col("i").asc()]
    part, n_all, tot = _range_prefix(df, order, "k")
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    got = {
        r["i"]: (r["rank"], r["run"])
        for r in part.select(
            "i",
            (F.col("_cnt_off") + F.row_number().over(w)).alias("rank"),
            (F.col("_sum_off") + F.sum("k").over(w)).alias("run"),
        ).collect()
    }
    assert n_all == len(rows)
    assert tot == sum(k for k, _v, _s in rows)
    expect_order = sorted(indexed, key=lambda t: (-t[1], t[0]))
    run = 0
    for rank, (i, k) in enumerate(expect_order, start=1):
        run += k
        assert got[i] == (rank, run), (i, got[i], (rank, run))


def test_mean_inequality_chain(spark):
    """agg_geo_harmonic_mean's docstring invariant: for positive data,
    arithmetic mean >= geometric mean >= harmonic mean, per group."""
    from tests.conftest import SF_ORACLE

    from highspeedrailwaybigdatasystem_spark.operators.aggregates import (
        agg_geo_harmonic_mean,
    )

    for r in agg_geo_harmonic_mean(spark, SF_ORACLE).collect():
        assert r["arith_mean"] >= r["geo_mean"] >= r["harmonic_mean"], dict(r)
        assert r["harmonic_mean"] > 0


def test_importance_resample_bounds_and_floor(spark):
    """llm_importance_resample: kept counts never exceed originals, the
    minority language keeps everything (keep_p = 1), and every language's
    kept count is positive (the md5 uniform is unbiased enough at corpus
    scale that a 100% zero-kept language would mean a broken decision)."""
    from tests.conftest import SF_ORACLE

    from highspeedrailwaybigdatasystem_spark.functions.llm_mix import (
        llm_importance_resample,
    )

    rows = llm_importance_resample(spark, SF_ORACLE).collect()
    mn = min(r["n_before"] for r in rows)
    for r in rows:
        assert 0 < r["n_kept"] <= r["n_before"]
        if r["n_before"] == mn:
            assert r["keep_p"] == 1.0 and r["n_kept"] == r["n_before"]


def test_semdedup_counts_partition_clusters(spark):
    """llm_semdedup_centroid: per-cluster kept + removed == total, cluster
    totals sum to the corpus size, and removal never empties a cluster
    (the keep-lowest rule always retains at least one member)."""
    import duckdb as _dd

    from tests.conftest import SF_ORACLE

    from highspeedrailwaybigdatasystem_spark.functions.llm_ann import (
        llm_semdedup_centroid,
    )

    rows = llm_semdedup_centroid(spark, SF_ORACLE).collect()
    n_corpus = _dd.sql(
        f"SELECT count(*) FROM '{SF_ORACLE}/embeddings.parquet'"
    ).fetchone()[0]
    assert sum(r["n_total"] for r in rows) == n_corpus
    for r in rows:
        assert r["n_kept"] + r["n_removed"] == r["n_total"]
        assert r["n_kept"] >= 1


def test_theil_sen_is_outlier_robust(spark):
    """Brute-force Theil-Sen on a synthetic series: the median-of-slopes
    estimate for a clean linear series with ONE wild outlier day must
    recover the true slope exactly (the estimator's whole point), where
    the OLS slope on the same data does not."""
    import statistics

    pts = [(d, 2.0 * d + 5.0) for d in range(1, 12)]
    pts[9] = (10, 1000.0)  # one corrupted day (off-center, so OLS tilts)
    slopes = [
        (v2 - v1) / (d2 - d1)
        for i, (d1, v1) in enumerate(pts)
        for (d2, v2) in pts[i + 1 :]
    ]
    assert statistics.median(slopes) == 2.0
    n = len(pts)
    mx = sum(d for d, _ in pts) / n
    my = sum(v for _, v in pts) / n
    ols = sum((d - mx) * (v - my) for d, v in pts) / sum(
        (d - mx) ** 2 for d, _ in pts
    )
    assert abs(ols - 2.0) > 1.0


def test_auc_properties_on_synthetic_frames(spark):
    """ml_roc_auc's level-grain formula, checked on synthetic frames via
    the same SQL shape: a perfect separator scores exactly 1.0, a
    constant scorer exactly 0.5 (all mass in the tie term), and AUC is
    invariant under a strictly monotone transform of the scores."""
    def auc_of(rows):
        df = spark.createDataFrame(rows, "v double, y int")
        df.createOrReplaceTempView("__auc_probe")
        out = spark.sql(
            """
            WITH lev AS (
              SELECT v, sum(y) AS p, count(*) - sum(y) AS n
              FROM __auc_probe GROUP BY v),
            ord2 AS (
              SELECT v, p, n,
                     sum(n) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
                       AS n_below
              FROM lev),
            tot AS (SELECT sum(p) AS tp, sum(n) AS tn FROM lev)
            SELECT round(sum(p * (n_below + 0.5 * n))
                         / (CAST(tot.tp AS DOUBLE) * tot.tn), 6) AS auc
            FROM ord2 CROSS JOIN tot GROUP BY tot.tp, tot.tn
            """
        ).collect()
        return out[0]["auc"]

    base = [(float(i), 1 if i >= 10 else 0) for i in range(20)]
    assert auc_of(base) == 1.0                       # perfect separator
    assert auc_of([(1.0, r[1]) for r in base]) == 0.5  # constant scores
    transformed = [(r[0] ** 3 + 7.0, r[1]) for r in base]
    assert auc_of(transformed) == auc_of(base)       # monotone invariance
    mixed = [(float(i % 7), 1 if (i * 13) % 3 == 0 else 0) for i in range(40)]
    assert auc_of(mixed) == auc_of([(r[0] * 2 + 1, r[1]) for r in mixed])


def test_learning_curve_train_sets_are_nested(spark):
    """llm_data_scaling_curve: the four md5-prefix train sets are nested
    (each cut's doc set contains the previous), the eval slice is
    disjoint from every train set, and train_docs increases with cut."""
    from tests.conftest import SF_ORACLE

    from highspeedrailwaybigdatasystem_spark.functions.llm_mix import (
        llm_data_scaling_curve,
    )

    rows = {r["cut"]: r for r in llm_data_scaling_curve(spark, SF_ORACLE).collect()}
    assert list(sorted(rows)) == ["33", "66", "99", "cc"]
    sizes = [rows[c]["train_docs"] for c in ["33", "66", "99", "cc"]]
    assert sizes == sorted(sizes) and sizes[0] > 0
    evals = {rows[c]["eval_docs"] for c in rows}
    assert len(evals) == 1  # same fixed eval slice for every point


def test_curation_funnel_is_monotone(spark):
    """llm_curation_funnel: each stage's doc and token counts are
    monotonically non-increasing, stage 0 covers the whole corpus, and
    fractions are consistent with the counts."""
    from tests.conftest import SF_ORACLE

    from highspeedrailwaybigdatasystem_spark.functions.llm_mix import (
        llm_curation_funnel,
    )

    rows = {r["stage"]: r for r in llm_curation_funnel(spark, SF_ORACLE).collect()}
    order = ["0_raw", "1_exact_dedup", "2_quality", "3_near_dedup"]
    assert list(sorted(rows)) == order
    docs = [rows[s]["n_docs"] for s in order]
    toks = [rows[s]["n_tokens"] for s in order]
    assert docs == sorted(docs, reverse=True)
    assert toks == sorted(toks, reverse=True)
    assert rows["0_raw"]["n_docs"] == 500 and rows["0_raw"]["frac_of_raw"] == 1.0
    for s in order:
        assert abs(rows[s]["frac_of_raw"] - rows[s]["n_docs"] / 500) < 1e-6


def test_knn_eval_covers_corpus_and_bounds(spark):
    """ml_knn_classifier_eval: per-label vector counts sum to the corpus,
    n_correct <= n_vectors, and accuracy equals the ratio."""
    import duckdb as _dd

    from tests.conftest import SF_ORACLE

    from highspeedrailwaybigdatasystem_spark.functions.llm_ann import (
        ml_knn_classifier_eval,
    )

    rows = ml_knn_classifier_eval(spark, SF_ORACLE).collect()
    n_corpus = _dd.sql(
        f"SELECT count(*) FROM '{SF_ORACLE}/embeddings.parquet'"
    ).fetchone()[0]
    assert sum(r["n_vectors"] for r in rows) == n_corpus
    for r in rows:
        assert 0 <= r["n_correct"] <= r["n_vectors"]
        assert abs(r["accuracy"] - r["n_correct"] / r["n_vectors"]) < 1e-6


def test_ks_statistic_extremes(spark):
    """agg_ks_test_two_sample's level-grain ECDF formula on synthetic
    frames: identical samples give D = 0, disjoint supports give D = 1,
    and D is invariant under a shared monotone shift."""
    def ks_of(rows):
        df = spark.createDataFrame(rows, "v double, grp int")
        df.createOrReplaceTempView("__ks_probe")
        out = spark.sql(
            """
            WITH lev AS (
              SELECT v, sum(grp) AS a, count(*) - sum(grp) AS b
              FROM __ks_probe GROUP BY v),
            tot AS (SELECT sum(a) AS ta, sum(b) AS tb FROM lev),
            cum AS (
              SELECT v,
                     sum(a) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
                     sum(b) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
              FROM lev)
            SELECT round(max(abs(CAST(ca AS DOUBLE) / tot.ta
                                - CAST(cb AS DOUBLE) / tot.tb)), 6) AS d
            FROM cum CROSS JOIN tot GROUP BY tot.ta, tot.tb
            """
        ).collect()
        return out[0]["d"]

    same = [(float(i % 5), g) for i in range(20) for g in (0, 1)]
    assert ks_of(same) == 0.0
    disjoint = [(float(i), 1) for i in range(10)] + [
        (float(i + 100), 0) for i in range(10)
    ]
    assert ks_of(disjoint) == 1.0
    base = [(float(i * i % 13), i % 2) for i in range(30)]
    shifted = [(v + 7.5, g) for v, g in base]
    assert ks_of(base) == ks_of(shifted)


def test_runs_test_extremes(spark):
    """ts_runs_test's run-counting on synthetic sequences: a strictly
    monotone series has exactly 1 run; a perfectly alternating series has
    n_moves runs (a new run at every step)."""
    def runs_of(values):
        rows = [(i, float(v)) for i, v in enumerate(values)]
        df = spark.createDataFrame(rows, "d int, cents double")
        df.createOrReplaceTempView("__runs_probe")
        out = spark.sql(
            """
            WITH moves AS (
              SELECT d, CASE WHEN cents > lag(cents) OVER (ORDER BY d) THEN 1
                             WHEN cents < lag(cents) OVER (ORDER BY d) THEN 0
                        END AS up
              FROM __runs_probe),
            runs AS (
              SELECT up,
                     CASE WHEN up <> lag(up) OVER (ORDER BY d)
                            OR lag(up) OVER (ORDER BY d) IS NULL
                          THEN 1 ELSE 0 END AS run_start
              FROM (SELECT d, up FROM moves WHERE up IS NOT NULL) x)
            SELECT CAST(sum(run_start) AS INT) AS n_runs,
                   CAST(count(*) AS INT) AS n_moves
            FROM runs
            """
        ).collect()[0]
        return out["n_runs"], out["n_moves"]

    n_runs, n_moves = runs_of(range(12))          # strictly increasing
    assert (n_runs, n_moves) == (1, 11)
    alt = [0, 5, 0, 5, 0, 5, 0, 5]                # perfectly alternating
    n_runs, n_moves = runs_of(alt)
    assert n_moves == 7 and n_runs == 7


def _copy_embeddings(src_dir, dst_dir, permute=False, id_shift=0):
    import pyarrow.parquet as pq
    import pyarrow as pa
    import numpy as np
    import os

    from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES

    tbl = pq.read_table(f"{src_dir}/embeddings.parquet")
    if permute:
        idx = np.random.RandomState(7).permutation(len(tbl))
        tbl = tbl.take(idx)
    if id_shift:
        tbl = tbl.set_column(
            tbl.schema.get_field_index("vec_id"),
            "vec_id",
            pa.compute.add(tbl["vec_id"], id_shift),
        )
    os.makedirs(dst_dir, exist_ok=True)
    pq.write_table(tbl, f"{dst_dir}/embeddings.parquet")
    # every op reads the corpus views, which register all ten tables
    for name in TABLE_NAMES:
        if name != "embeddings":
            os.symlink(f"{src_dir}/{name}.parquet", f"{dst_dir}/{name}.parquet")


def test_kmeans_invariant_under_row_permutation_and_id_shift(spark, tmp_path):
    """ml_kmeans_lloyd is a deterministic distributed fixed point: its
    output (sizes, inertia, centroid checksums) must not depend on the
    physical row order of the input, and a constant vec_id shift (same
    vectors, same relative order, so the same init) must relabel nothing."""
    from highspeedrailwaybigdatasystem_spark.registry import all_queries

    q = all_queries()["ml_kmeans_lloyd"]
    base = "/root/testdata/sf0.001"

    def run(sf_dir):
        rows = q(spark, sf_dir).orderBy("cid").collect()
        return [(r["cid"], r["n_members"], r["inertia"], r["centroid_checksum"])
                for r in rows]

    ref = run(base)
    perm_dir = str(tmp_path / "perm")
    _copy_embeddings(base, perm_dir, permute=True)
    assert run(perm_dir) == ref, "row order changed the k-means fixed point"
    shift_dir = str(tmp_path / "shift")
    _copy_embeddings(base, shift_dir, id_shift=100000)
    assert run(shift_dir) == ref, "vec_id shift changed sizes/inertia/centroids"


def test_pagerank_mass_conservation_and_damping_boundary(spark):
    """The graph_pagerank superstep (scatter pr/outdeg -> gather sum ->
    teleport blend) on the same deterministic out-degree-2 graph: total
    rank mass stays exactly 1 every iteration (out-degree 2 scatters all
    mass), and damping -> 0 collapses to the uniform distribution after
    one step regardless of the graph."""
    from pyspark.sql import functions as F

    n = 50
    users = spark.range(n).select(F.col("id").alias("user_id"))
    edges = users.select(
        F.col("user_id").alias("src"),
        F.explode(
            F.array((F.col("user_id") * 7 + 13) % n,
                    (F.col("user_id") * 11 + 5) % n)
        ).alias("dst"),
    ).cache()

    def step(ranks, d):
        contrib = (
            edges.join(ranks.withColumnRenamed("user_id", "src"), "src")
            .groupBy(F.col("dst").alias("user_id"))
            .agg(F.sum(F.col("pr") / 2).alias("in_sum"))
        )
        return users.join(contrib, "user_id", "left").select(
            "user_id",
            (F.lit((1.0 - d) / n)
             + F.lit(d) * F.coalesce(F.col("in_sum"), F.lit(0.0))).alias("pr"),
        )

    ranks = users.select("user_id", (F.lit(1.0) / n).alias("pr"))
    for _ in range(4):
        ranks = step(ranks, 0.85)
        total = ranks.agg(F.sum("pr")).collect()[0][0]
        assert abs(total - 1.0) < 1e-9, f"rank mass drifted: {total}"

    uniform = step(ranks, 0.0).select("pr").distinct().collect()
    assert len(uniform) == 1 and abs(uniform[0][0] - 1.0 / n) < 1e-12


@given(
    a=st.lists(st.integers(min_value=-20, max_value=20), min_size=1, max_size=25),
    b=st.lists(st.integers(min_value=-20, max_value=20), min_size=1, max_size=25),
)
@settings(max_examples=8, deadline=None)
def test_ks_statistic_matches_bruteforce_ecdf(spark, a, b):
    """agg_ks_test_two_sample's level-grain windowed formula == the
    brute-force sup|ECDF_a - ECDF_b| over the union support."""
    rows = [(float(v), 1) for v in a] + [(float(v), 0) for v in b]
    df = spark.createDataFrame(rows, "v double, grp int")
    df.createOrReplaceTempView("__ksbf_probe")
    d_sql = spark.sql(
        """
        WITH lev AS (
          SELECT v, sum(grp) AS na, count(*) - sum(grp) AS nb
          FROM __ksbf_probe GROUP BY v),
        tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM lev),
        cum AS (
          SELECT sum(na) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
                 sum(nb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
          FROM lev)
        SELECT round(max(abs(CAST(ca AS DOUBLE) / tot.ta
                            - CAST(cb AS DOUBLE) / tot.tb)), 6) AS d
        FROM cum CROSS JOIN tot GROUP BY tot.ta, tot.tb
        """
    ).collect()[0]["d"]

    support = sorted(set(a) | set(b))
    brute = max(
        abs(sum(1 for x in a if x <= s) / len(a)
            - sum(1 for x in b if x <= s) / len(b))
        for s in support
    )
    assert d_sql == round(brute, 6)


@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=8),
                  st.integers(min_value=0, max_value=1)),
        min_size=2, max_size=30,
    ).filter(lambda rs: 0 < sum(y for _, y in rs) < len(rs)),
)
@settings(max_examples=8, deadline=None)
def test_auc_equals_mann_whitney_bruteforce(spark, rows):
    """ml_roc_auc's level-grain trapezoid formula == the Mann-Whitney
    U statistic (P(score_pos > score_neg) + 0.5 P(tie)) by brute force."""
    df = spark.createDataFrame([(float(v), y) for v, y in rows], "v double, y int")
    df.createOrReplaceTempView("__aucbf_probe")
    auc_sql = spark.sql(
        """
        WITH lev AS (
          SELECT v, sum(y) AS p, count(*) - sum(y) AS n
          FROM __aucbf_probe GROUP BY v),
        ord2 AS (
          SELECT p, n,
                 sum(n) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
                   AS n_below
          FROM lev),
        tot AS (SELECT sum(p) AS tp, sum(n) AS tn FROM lev)
        SELECT round(sum(p * (n_below + 0.5 * n))
                     / (CAST(tot.tp AS DOUBLE) * tot.tn), 6) AS auc
        FROM ord2 CROSS JOIN tot GROUP BY tot.tp, tot.tn
        """
    ).collect()[0]["auc"]

    pos = [v for v, y in rows if y == 1]
    neg = [v for v, y in rows if y == 0]
    u = sum(1.0 if p > q else (0.5 if p == q else 0.0) for p in pos for q in neg)
    assert auc_sql == round(u / (len(pos) * len(neg)), 6)


@given(
    a=st.lists(st.integers(min_value=0, max_value=15), min_size=2, max_size=25),
    b=st.lists(st.integers(min_value=0, max_value=15), min_size=2, max_size=25),
)
@settings(max_examples=8, deadline=None)
def test_mann_whitney_u_matches_bruteforce(spark, a, b):
    """agg_mann_whitney_u's level-grain midrank formula == brute-force
    U = #(a>b pairs) + 0.5·#(ties)."""
    rows = [(float(v), 1) for v in a] + [(float(v), 0) for v in b]
    df = spark.createDataFrame(rows, "v double, grp int")
    df.createOrReplaceTempView("__mwu_probe")
    u_sql = spark.sql(
        """
        WITH lev AS (SELECT v, sum(grp) AS na, count(*) AS nt
                     FROM __mwu_probe GROUP BY v),
        cum AS (
          SELECT v, na, nt,
                 sum(nt) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nt
                   AS below
          FROM lev),
        agg AS (
          SELECT sum(na * (below + (nt + 1) / CAST(2 AS DOUBLE))) AS r1,
                 sum(na) AS n1
          FROM cum)
        SELECT round(CAST(r1 - n1 * (n1 + 1) / CAST(2 AS DOUBLE)
                     AS DOUBLE), 2) AS u
        FROM agg
        """
    ).collect()[0]["u"]
    brute = sum(1.0 if x > y else (0.5 if x == y else 0.0) for x in a for y in b)
    assert u_sql == round(brute, 2)


def test_changepoint_locates_synthetic_step(spark):
    """The CUSUM scan statistic puts the split exactly at a clean level
    shift, for shifts at the start, middle, and end thirds."""
    from pyspark.sql import functions as F

    for cut in (7, 15, 23):
        rows = [(i, 10.0 if i < cut else 30.0) for i in range(30)]
        df = spark.createDataFrame(rows, "k int, v double")
        df.createOrReplaceTempView("__cp_probe")
        got = spark.sql(
            """
            WITH c AS (
              SELECT k, v, row_number() OVER (ORDER BY k) AS rn,
                     sum(v) OVER (ORDER BY k
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs,
                     count(*) OVER () AS n, sum(v) OVER () AS s
              FROM __cp_probe)
            SELECT k FROM (
              SELECT k,
                     abs(cs / rn - (s - cs) / (n - rn))
                       * sqrt(CAST(rn AS DOUBLE) * (n - rn) / n) AS stat
              FROM c WHERE rn < n)
            ORDER BY stat DESC, k LIMIT 1
            """
        ).collect()[0]["k"]
        assert got == cut - 1, f"split for cut={cut} landed at {got}"


def test_bh_adjustment_properties(spark):
    """BH step-up on a synthetic p-value family: adjusted values are
    monotone in rank, bounded by 1, >= raw p, and the smallest raw p has
    adjusted = p*m when unique-minimal."""
    ps = [0.001, 0.011, 0.02, 0.04, 0.3, 0.9]
    df = spark.createDataFrame([(f"t{i}", p) for i, p in enumerate(ps)],
                               "t string, p double")
    df.createOrReplaceTempView("__bh_probe")
    rows = spark.sql(
        """
        WITH ranked AS (
          SELECT t, p, row_number() OVER (ORDER BY p, t) AS rnk,
                 count(*) OVER () AS m
          FROM __bh_probe),
        stepped AS (
          SELECT t, p, rnk,
                 min(p * m / rnk) OVER (ORDER BY rnk DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS adj
          FROM ranked)
        SELECT p, rnk, least(CAST(1.0 AS DOUBLE), adj) AS adj
        FROM stepped ORDER BY rnk
        """
    ).collect()
    adjs = [r["adj"] for r in rows]
    assert all(x <= y + 1e-12 for x, y in zip(adjs, adjs[1:])), "not monotone"
    assert all(r["adj"] >= r["p"] - 1e-12 for r in rows)
    assert all(r["adj"] <= 1.0 for r in rows)
    assert abs(adjs[0] - min(ps) * len(ps)) < 1e-9 or adjs[0] < min(ps) * len(ps)


def test_peak_detection_finds_synthetic_apex(spark):
    """A single injected apex in a flat series is the unique 5-point
    strict local maximum."""
    rows = [(i, 50.0 if i == 12 else 10.0 + (i % 2)) for i in range(25)]
    df = spark.createDataFrame(rows, "k int, v double")
    df.createOrReplaceTempView("__pk_probe")
    got = spark.sql(
        """
        SELECT k FROM (
          SELECT k, v,
                 lag(v, 1) OVER (ORDER BY k) AS l1,
                 lag(v, 2) OVER (ORDER BY k) AS l2,
                 lead(v, 1) OVER (ORDER BY k) AS r1,
                 lead(v, 2) OVER (ORDER BY k) AS r2
          FROM __pk_probe)
        WHERE l1 IS NOT NULL AND l2 IS NOT NULL
          AND r1 IS NOT NULL AND r2 IS NOT NULL
          AND v > l1 AND v > l2 AND v > r1 AND v > r2
        """
    ).collect()
    assert [r["k"] for r in got] == [12]


def test_power_iteration_recovers_planted_direction(spark):
    """The ml_pca_power_iteration update (integer dot → 1e9 rescale →
    Xᵀ gather → max-norm) recovers a planted dominant direction: vectors
    drawn along ±e₃ with small orthogonal noise must converge to
    |loading| ≈ 1 on component 3 and ≈ noise-scale elsewhere."""
    import math

    Q = 1_000_000
    D = 8
    rows = []
    for i in range(40):
        sign = 1 if i % 2 == 0 else -1
        vec = [0.0] * D
        vec[2] = sign * 1.0
        vec[(i * 3) % D if (i * 3) % D != 2 else 5] = 0.05  # tiny off-axis noise
        rows.append((i, [int(round(x * Q)) for x in vec]))
    df = spark.createDataFrame(rows, "vec_id long, ei array<bigint>").cache()

    from pyspark.sql import functions as F

    v = [Q if j == 0 else 0 for j in range(D)]
    for _ in range(6):
        lit = ", ".join(f"{x}L" for x in v)
        s = df.select(
            "ei",
            F.expr(
                f"cast(floor(cast(aggregate(zip_with(ei, array({lit}),"
                " (a, b) -> a * b), 0L, (acc, p) -> acc + p) as double)"
                " / 1000000000) as bigint)"
            ).alias("s"),
        )
        w_rows = (
            s.select("s", F.posexplode("ei").alias("pos", "xv"))
            .groupBy("pos")
            .agg(F.sum(F.col("s") * F.col("xv")).alias("w"))
            .collect()
        )
        w = [0] * D
        for r in w_rows:
            w[r["pos"]] = r["w"]
        mx = max(abs(x) for x in w)
        v = [int(math.floor(x / mx * Q)) for x in w]

    loadings = [abs(x) / Q for x in v]
    assert loadings[2] == max(loadings) and loadings[2] >= 0.99
    assert all(l <= 0.2 for j, l in enumerate(loadings) if j != 2)
