"""Similarity search & embedding operators (SURVEY.md §2.11): exact
cosine top-k, blocked all-pairs GEMM, batch k-NN within IVF cells, IVF
ANN (in-query and persisted-index variants), seeded LSH ANN with in-plan
recall audit, semantic dedup (centroid and √N-cluster), MMR diversity,
embedding quantization / PQ codebooks / drift stats.

Scale notes (100 TB):
* Exact cosine top-k broadcasts the probe (O(n) scan, TakeOrdered merge);
  the LSH / IVF variants prune to the probe's bucket / nprobe lists.
* All-pairs shapes are block-cogrouped GEMMs — no corpus broadcast, no
  driver collect; quadratic work is confined to cells/blocks.
* Embeddings are L2-normalized (FIXTURES.md §2), so cosine ≡ dot.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType
from pyspark.sql.window import Window

from ..registry import plan_memo, register
from ..operators._util import _materialize_cache, ratio, sql_q, t
from ._llm_shared import _DOT_ORACLE


def _dot(a, b):
    """Double-precision dot product of two float32 array columns (cast inside
    the lambda so both engines accumulate in float64)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@F.pandas_udf(DoubleType())  # type instance: a DDL string would need an
def _dot64_vec(a: pd.Series, b: pd.Series) -> pd.Series:  # active session at import
    """Arrow-vectorized float64 dot product for embedding pair columns —
    the hot-path twin of ``_dot`` for ops whose dot count scales with the
    corpus (the interpreted higher-order-function fold costs ~6 µs/dot;
    llm_ann_recall_eval's ~19M dots at the 100x corpus took 114 s through
    it, vs the 100 s sweep watchdog). The kernel reproduces the fold's
    accumulation order STRUCTURALLY, not just empirically: np.cumsum along
    axis=1 accumulates strictly sequentially left-to-right in float64, and
    0.0 + x0 == x0 exactly, so every partial sum is bit-identical to
    ``aggregate(zip_with(...))``'s left fold and to the DuckDB oracle's
    list_aggregate 'sum'. (The previous np.einsum kernel was only
    empirically identical — max divergence 3.3e-16 on 2M pairs — which
    left round-to-1e-6 cut boundaries one ulp from flipping on a new
    corpus; ADVICE r11 medium.) One signed-zero exception (ADVICE r12):
    the fold's 0.0 + x0 seed turns a leading -0.0 product into +0.0 while
    cumsum keeps -0.0, so an all-signed-zero product row yields -0.0 here
    vs the fold's +0.0 — numerically equal everywhere (-0.0 == 0.0; no
    round-to-1e-6 cut can flip on it), just not bit-identical for that
    degenerate row. Pinned (including the -0.0 row) by
    tests/test_properties_r12_window.py::test_dot64_vec_bit_identical_to_fold."""
    import numpy as np

    la = np.array(list(a), dtype=np.float64)
    lb = np.array(list(b), dtype=np.float64)
    return pd.Series((la * lb).cumsum(axis=1)[:, -1])


#: round-6 tie window plus 10^3× the ~3e-14 GEMM-vs-left-fold error bound
#: (dim·eps·Σ|x_i·y_i| ≤ 64·2.3e-16 for unit-norm embeddings) — any dot
#: whose exact fold could matter after round(·, 6) survives a cut with
#: this margin on the BLAS-GEMM approximation.
_IVF_MARGIN = 1e-6 + 1e-9


def _ivf_assign_arrow(e: DataFrame, cent_rows) -> DataFrame:
    """Narrow ``(vec_id, cent_id)`` argmax-cosine cell assignment in ONE
    mapInArrow pass (r17, guide §4.1/§4.2) — replaces the corpus × K
    centroid crossJoin whose per-pair dot (HOF fold or ArrowEvalPython)
    shipped both 64-float arrays per pair. ``cent_rows`` is the collected
    coarse-quantizer list (bounded by the vec_id<16 convention): sorted
    ``(cent_id, embedding-list-or-None)``.

    Result-identical to
    ``max_by(cent_id, struct(round(dot, 6), -cent_id))`` over the cross
    join, including the NULL cases probed against Spark (r17):
    * NULL corpus embedding (or zero non-NULL centroids): every sim is
      NULL and max_by's struct ordering falls to the LOWEST cent_id — the
      kernel emits exactly that row with a NULL dot;
    * NULL centroid embedding: its sim is NULL and loses to any non-NULL
      sim, so only non-NULL centroids enter the GEMM.
    The kernel prunes with one float64 BLAS GEMM per batch (margin
    ``_IVF_MARGIN`` — see bound above) and emits the strictly-sequential
    cumsum left fold (bit-identical to ``_dot``/``_dot64_vec``/the
    oracles' fold) only for candidate centroids; the JVM-side
    round + max_by partial aggregate is unchanged."""
    if not cent_rows:
        # legacy crossJoin against zero centroids produced zero rows
        return (
            e.select("vec_id")
            .limit(0)
            .select("vec_id", F.lit(None).cast("long").alias("cent_id"))
        )
    valid_cents = [(c, v) for c, v in cent_rows if v is not None]
    min_cid = min(c for c, _ in cent_rows)

    def _kernel(batches):
        import numpy as np
        import pyarrow as pa

        schema = pa.schema(
            [("vec_id", pa.int64()), ("cent_id", pa.int64()), ("craw", pa.float64())]
        )
        if valid_cents:
            cids = np.array([c for c, _ in valid_cents], dtype=np.int64)
            cmat = np.array([v for _, v in valid_cents], dtype=np.float64)
        for batch in batches:
            col = batch.column("embedding")
            vid_all = batch.column("vec_id").to_numpy(zero_copy_only=False)
            valid = col.is_valid().to_numpy(zero_copy_only=False)
            if valid_cents and valid.any():
                emb = _emb_f64(col.drop_null(), int(valid.sum()))
                ga = emb @ cmat.T
                cand = ga >= (ga.max(axis=1, keepdims=True) - _IVF_MARGIN)
                rows, ks = np.nonzero(cand)
                craw = (emb[rows] * cmat[ks]).cumsum(axis=1)[:, -1]
                vvid = vid_all[valid]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(
                            vvid[rows].astype(np.int64, copy=False), type=pa.int64()
                        ),
                        pa.array(cids[ks], type=pa.int64()),
                        pa.array(craw, type=pa.float64()),
                    ],
                    schema=schema,
                )
            nulls = ~valid if valid_cents else np.ones(len(vid_all), dtype=bool)
            n_null = int(nulls.sum())
            if n_null:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(
                            vid_all[nulls].astype(np.int64, copy=False),
                            type=pa.int64(),
                        ),
                        pa.array(np.full(n_null, min_cid, dtype=np.int64)),
                        pa.nulls(n_null, pa.float64()),
                    ],
                    schema=schema,
                )

    return (
        e.select("vec_id", "embedding")
        .mapInArrow(_kernel, "vec_id long, cent_id long, craw double")
        .select("vec_id", "cent_id", F.round(F.col("craw"), 6).alias("sim"))
        .groupBy("vec_id")
        .agg(F.expr("max_by(cent_id, struct(sim, -cent_id))").alias("cent_id"))
    )


def _collect_cents(spark: SparkSession, sf_dir: str):
    """Collected coarse-quantizer rows (≤16 by the vec_id<16 convention —
    bounded by construction, never corpus-scaled)."""
    return sorted(
        (int(r["cent_id"]), None if r["cent"] is None else list(r["cent"]))
        for r in t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent"))
        .collect()
    )


def _emb_f64(col, n_rows: int):
    """Decode an Arrow ``list<float>`` column to an (n_rows, dim) float64
    matrix WITHOUT materializing Python objects: ``to_pylist()`` built
    ~13M PyFloat objects per kernel pass at the 100× corpus and dominated
    the mapInArrow kernels' wall-clock. ``flatten()`` returns the child
    values for this array's logical extent (offset-safe on sliced
    batches), and the float32→float64 cast is value-exact, so downstream
    cumsum left folds see bit-identical inputs to the old
    ``np.array(col.to_pylist(), dtype=float64)`` path. Raises ValueError
    on null rows or null elements (callers filter NULL embeddings first) and
    on ragged rows — the embedding corpus is fixed-width by contract."""
    import numpy as np

    values = col.flatten()
    if col.null_count or values.null_count:
        raise ValueError(
            f"_emb_f64: embedding column has {col.null_count} null rows and "
            f"{values.null_count} null elements; filter NULLs before decoding"
        )
    flat = values.to_numpy(zero_copy_only=False)
    if n_rows == 0 or flat.size == 0:
        return np.empty((0, 0), dtype=np.float64)
    if flat.size % n_rows:
        raise ValueError(
            f"_emb_f64: {flat.size} values do not split into {n_rows} "
            "equal-width rows (ragged embeddings)"
        )
    return flat.astype(np.float64).reshape(n_rows, flat.size // n_rows)


@register(
    "llm_sim_topk",
    oracle=f"""
    WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round({_DOT_ORACLE.format(a='embedding', b='p')}, 6) AS sim
    FROM embeddings, probe
    WHERE vec_id <> 0
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
)
@plan_memo
def llm_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors of probe vec_id=0: broadcast the probe,
    one pass over the corpus, TakeOrderedAndProject merge. The 100 TB path
    swaps the scan for the LSH-bucketed variant (llm_ann_lsh). Bench
    headline op — one SQL text (see ``sql_q``); the dot product is the
    same left-to-right float64 ``aggregate(zip_with(...))`` fold as
    ``_dot``, so the accumulation order (and round-6 result) is
    bit-identical to the DataFrame formulation."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0)
        SELECT /*+ BROADCAST(probe) */ vec_id,
               round(aggregate(
                       zip_with(embedding, p,
                                (x, y) -> cast(x AS double) * cast(y AS double)),
                       cast(0.0 AS double), (acc, v) -> acc + v), 6) AS sim
        FROM embeddings CROSS JOIN probe
        WHERE vec_id <> 0
        ORDER BY sim DESC, vec_id
        LIMIT 10
        """,
    )


_SIM_BLOCK = 512


def _sim_block_side(
    spark: SparkSession,
    sf_dir: str,
    side: str,
    with_label: bool,
    collapse: bool = False,
    cap: int | None = None,
):
    """One side of the block×block GEMM cogroup.

    ``collapse`` (round 11): restrict to one representative vec_id per
    distinct embedding payload (min vec_id; the collapse key includes the
    label when ``with_label``, so two identically-embedded rows with
    different labels both survive). Verbatim payload copies — real web
    corpora AND the 100x amplified probe corpus — otherwise multiply the
    GEMM work by copies² (round-10 sweep TIMEOUT); the oracle of every
    caller applies the same reps subquery. ``cap``: documented hard bound
    on the audited id range (applied after collapse), making the exact
    all-pairs tier O(cap²) regardless of corpus size. NULL embeddings
    are filtered on every side (r15 null-injection sweep): a missing
    vector has no cosine to anything — numpy raised on the ragged
    batch — and every caller's oracle filters its reps CTE identically."""
    src = t(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    if collapse:
        keys = ["embedding", "label"] if with_label else ["embedding"]
        reps = (
            t(spark, sf_dir, "embeddings")
            .where(F.col("embedding").isNotNull())
            .groupBy(*keys)
            .agg(F.min("vec_id").alias("vec_id"))
            .select("vec_id")
        )
        src = src.join(reps, "vec_id")
    if cap is not None:
        src = src.where(F.col("vec_id") < cap)
    cols = [
        F.col("vec_id").alias(f"{side}_id"),
        F.col("embedding").alias(f"{side}_emb"),
        F.expr(f"vec_id div {_SIM_BLOCK}").alias(f"{side}_blk"),
    ]
    if with_label:
        cols.append(F.col("label").alias(f"{side}_label"))
    return src.select(*cols)


def _block_pair_grid(spark: SparkSession, n_blocks: int) -> DataFrame:
    """Upper-triangular block-pair list (bi ≤ bj) built DISTRIBUTED from one
    spark.range(P²) with div/mod — never a driver-side Python list (P² tuples
    would OOM the driver at large corpus sizes) and never a cartesian join
    (spark.range splits shard the enumeration across executors)."""
    p = F.lit(n_blocks)
    return (
        spark.range(n_blocks * n_blocks)
        .select((F.col("id") / p).cast("long").alias("bi"), (F.col("id") % p).alias("bj"))
        .where(F.col("bi") <= F.col("bj"))
    )


def _blocked_gemm(
    spark: SparkSession,
    sf_dir: str,
    kernel,
    out_schema: str,
    with_label: bool = False,
    collapse: bool = False,
    cap: int | None = None,
) -> DataFrame:
    """FULLY DISTRIBUTED all-pairs layout — no driver collect, no corpus
    broadcast: rows are assigned to contiguous _SIM_BLOCK-row blocks, the
    upper-triangular block-pair grid is equi-joined against both sides, and
    each cogroup task runs `kernel(key, left_block, right_block)` — one numpy
    float64 GEMM tile per task. Data inflation is P× per side, the standard
    block-matrix trade; the only driver-side value is the single block-count
    scalar."""
    # Single-scalar plan parameter (O(1) driver memory). r17 (r16 verdict
    # task #4): this used to be max(x_blk)+1 over the COLLAPSED side, which
    # re-evaluated the whole reps groupBy+join (two corpus shuffles) once
    # per GEMM call just to size the grid. The grid only needs P >= the
    # true block count — a (bi, bj) grid row whose block holds no rows
    # joins nothing and cogroup never sees the key — so the UPPER BOUND
    # from the RAW max vec_id (collapse/cap only ever remove rows, never
    # raise the max id) is result-identical and costs one column-pruned
    # scan-max (no shuffle, partial agg; parquet column stats serve it at
    # scale) instead of the collapse subtree. Empty trailing blocks only
    # pad the spark.range(P²) enumeration, which is metadata-sized.
    raw = t(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    if cap is not None:
        raw = raw.where(F.col("vec_id") < cap)
    n_blocks = int(
        raw.agg(F.expr(f"max(vec_id) div {_SIM_BLOCK} + 1")).head()[0]
    )
    # fresh grid per side — shared lineage across cogroup sides is ambiguous
    left = (
        _sim_block_side(spark, sf_dir, "l", with_label, collapse, cap)
        .join(_block_pair_grid(spark, n_blocks), F.col("l_blk") == F.col("bi"))
        .drop("l_blk")
        .groupBy("bi", "bj")
    )
    right = (
        _sim_block_side(spark, sf_dir, "r", with_label, collapse, cap)
        .join(_block_pair_grid(spark, n_blocks), F.col("r_blk") == F.col("bj"))
        .drop("r_blk")
        .groupBy("bi", "bj")
    )
    return left.cogroup(right).applyInPandas(kernel, out_schema)


def _threshold_pair_kernel(threshold: float):
    """Kernel: emit (vec_a, vec_b, sim) for unordered pairs with rounded
    cosine ≥ threshold. lid < rid counts each pair once (the diagonal block
    pair contains both orientations; off-diagonal blocks satisfy it for
    free since block id is vec_id div BLOCK)."""
    import numpy as np
    import pandas as pd

    def kernel(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []}).astype(
                {"vec_a": "int64", "vec_b": "int64", "sim": "float64"}
            )
        la = np.array(list(lpdf["l_emb"]), dtype=np.float64)
        rb = np.array(list(rpdf["r_emb"]), dtype=np.float64)
        sims = (la @ rb.T).round(6)
        lid = lpdf["l_id"].to_numpy()
        rid = rpdf["r_id"].to_numpy()
        ii, jj = np.nonzero((sims >= threshold) & (lid[:, None] < rid[None, :]))
        return pd.DataFrame(
            {"vec_a": lid[ii], "vec_b": rid[jj], "sim": sims[ii, jj]}
        ).astype({"vec_a": "int64", "vec_b": "int64", "sim": "float64"})

    return kernel


@register(
    "llm_sim_pairs_label",
    oracle=f"""
    WITH reps AS (
      SELECT min(vec_id) AS vec_id FROM embeddings
      WHERE embedding IS NOT NULL GROUP BY embedding, label),
    e AS (
      SELECT x.vec_id, x.embedding, x.label
      FROM embeddings x JOIN reps USING (vec_id))
    SELECT (a.label = b.label) AS same_label,
           count(*) AS pair_cnt,
           round(avg({_DOT_ORACLE.format(a='a.embedding', b='b.embedding')}), 6) AS avg_sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    GROUP BY 1
    """,
)
def llm_sim_pairs_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering sanity check: average intra-label vs inter-label cosine
    over all pairs of DISTINCT (embedding, label) rows — EXACT-COLLAPSE
    FIRST (round 11): verbatim payload copies otherwise multiply the GEMM
    work copies² (round-10 100x sweep TIMEOUT) while only re-measuring the
    same cosines; oracle applies the same reps subquery. Runs on the fully
    distributed block×block GEMM layout (_blocked_gemm — no driver collect,
    no corpus broadcast): each block-pair task emits a 2-row partial
    (same_label, sim_sum, cnt); the final aggregation is a 2-group Spark
    agg."""
    import numpy as np
    import pandas as pd

    def pair_label_stats(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"same_label": [], "sim_sum": [], "cnt": []}).astype(
                {"same_label": "bool", "sim_sum": "float64", "cnt": "int64"}
            )
        la = np.array(list(lpdf["l_emb"]), dtype=np.float64)
        rb = np.array(list(rpdf["r_emb"]), dtype=np.float64)
        sims = la @ rb.T  # float64 GEMM tile; rounding happens at the avg
        pair_once = lpdf["l_id"].to_numpy()[:, None] < rpdf["r_id"].to_numpy()[None, :]
        same = (
            lpdf["l_label"].to_numpy()[:, None] == rpdf["r_label"].to_numpy()[None, :]
        )
        rows = []
        for tf in (True, False):
            m = pair_once & (same == tf)
            rows.append((tf, float(sims[m].sum()), int(m.sum())))
        return pd.DataFrame(rows, columns=["same_label", "sim_sum", "cnt"]).astype(
            {"same_label": "bool", "sim_sum": "float64", "cnt": "int64"}
        )

    partials = _blocked_gemm(
        spark,
        sf_dir,
        pair_label_stats,
        "same_label boolean, sim_sum double, cnt long",
        with_label=True,
        collapse=True,
    )
    return partials.groupBy("same_label").agg(
        F.sum("cnt").alias("pair_cnt"),
        ratio(F.sum("sim_sum") / F.sum("cnt")).alias("avg_sim"),
    )


@register(
    "llm_embed_near_dup",
    oracle=f"""
    WITH reps AS (
      SELECT min(vec_id) AS vec_id FROM embeddings
      WHERE embedding IS NOT NULL GROUP BY embedding),
    e AS (
      SELECT x.vec_id, x.embedding FROM embeddings x JOIN reps USING (vec_id))
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_DOT_ORACLE.format(a='a.embedding', b='b.embedding')}, 6) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round({_DOT_ORACLE.format(a='a.embedding', b='b.embedding')}, 6) >= 0.35
    """,
)
def llm_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ 0.35; corpus max ~0.51)
    on the fully distributed block×block GEMM layout — no driver collect, no
    corpus broadcast. Threshold applied inside the kernel so only qualifying
    pairs leave Python, and it compares the ROUNDED sim on both sides so a
    last-ulp GEMM-vs-fold difference can't flip membership at the cut.
    EXACT-COLLAPSE FIRST (round 11): pairs run over one representative per
    distinct embedding payload — identical vectors are exact duplicates by
    definition, and carrying the copies multiplies the GEMM copies² (the
    100x sweep TIMEOUT) while every extra pair is sim=1.0 noise; oracle
    applies the same reps subquery. This op stays the exactness anchor:
    collapse-only, NO row cap (llm_sim_blocked carries the capped audit
    tier; the sub-quadratic production paths are LSH / IVF / semdedup)."""
    return _blocked_gemm(
        spark,
        sf_dir,
        _threshold_pair_kernel(0.35),
        "vec_a long, vec_b long, sim double",
        collapse=True,
    )


_KNN_IVF_CTES = f"""
    reps AS (
      SELECT min(vec_id) AS vec_id FROM embeddings GROUP BY embedding),
    e AS (
      SELECT x.vec_id, x.embedding
      FROM embeddings x JOIN reps USING (vec_id)),
    cents AS (
      SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
      WHERE vec_id < 16),
    assigned AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY round({_DOT_ORACLE.format(a='e.embedding', b='c.cent')}, 6) DESC,
                            c.cent_id) AS rn
        FROM e CROSS JOIN cents c) z
      WHERE rn = 1),
    sims AS (
      SELECT a.vec_id, b.vec_id AS neighbor_id,
             round({_DOT_ORACLE.format(a='a.embedding', b='b.embedding')}, 6) AS sim
      FROM e a
      JOIN assigned aa ON aa.vec_id = a.vec_id
      JOIN assigned ab ON ab.cent_id = aa.cent_id AND ab.vec_id <> a.vec_id
      JOIN e b ON b.vec_id = ab.vec_id),
    knn AS (
      SELECT vec_id, neighbor_id, rnk, sim FROM (
        SELECT vec_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, neighbor_id) AS rnk
        FROM sims) z
      WHERE rnk <= 5)
"""


_DOT_SPARK_SQL = (
    "aggregate(zip_with({a}, {b},"
    " (x, y) -> cast(x AS double) * cast(y AS double)),"
    " cast(0.0 AS double), (acc, x) -> acc + x)"
)


@register(
    "llm_knn_all",
    oracle=f"""
    WITH {_KNN_IVF_CTES}
    SELECT vec_id, neighbor_id, CAST(rnk AS INT) AS rnk, sim FROM knn
    """,
)
def llm_knn_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine neighbors for every vector WITHIN ITS IVF CELL (batch
    k-NN, the build-the-similarity-graph shape behind near-dup clustering
    and retrieval indexes). Round 11 replaced the exact all-pairs block×
    block GEMM (quadratic in the corpus, the round-10 100x sweep TIMEOUT)
    with the bounded production shape:

    1. EXACT collapse — one representative vec_id per distinct embedding
       payload (verbatim copies otherwise multiply the pair work copies²).
    2. IVF coarse quantizer — the llm_ivf_ann convention: 16 deterministic
       centroids (vec_id < 16), every rep assigned to its argmax-cosine
       cell (round-6, cent_id tiebreak). Neighbor search runs within the
       cell only, so the pair work is Σ_cells n_c² ≈ N²/K — at 100 TB with
       K=√N trained centroids this is the standard ANN-graph build; the
       within-cell join is a plain shuffle equi-join on cent_id, fully
       JVM-side (no Python row boundary).

    Vectors in singleton cells return no neighbors (documented IVF recall
    trade; llm_ann_recall_eval measures exactly this loss). Sims are
    rounded BEFORE ranking on both sides, making the cut deterministic
    across engines; the oracle replays the identical reps → assignment →
    within-cell rank pipeline. The unbounded exactness anchor remains
    llm_embed_near_dup."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    # NARROW ARGMAX (r16, guide §2.3 'project before the exchange'): the
    # old cell assignment ran a row_number window over the reps × 16
    # centroid cross join CARRYING both 64-float arrays — ~1.6M rows ×
    # ~1 KB through the window exchange+sort at sf0.1. The argmax needs
    # only (vec_id, cent_id, sim): the dot is computed map-side against
    # the broadcast centroids, ``max_by(cent_id, struct(sim, -cent_id))``
    # (identical tiebreak: highest rounded sim, then lowest cent_id)
    # collapses the 16 candidates per vector in the partial aggregate
    # BEFORE any shuffle, and the embedding is re-attached from the
    # cached reps — the exchange shrinks from ~1.6 GB wide rows to |reps|
    # narrow rows. The 16-row centroid side keeps its BROADCAST hint
    # (fixed cardinality by construction, round-10 broadcast policy).
    reps = spark.sql(
        """
        SELECT x.vec_id, x.embedding
        FROM embeddings x
        JOIN (SELECT min(vec_id) AS vec_id FROM embeddings
              GROUP BY embedding) reps USING (vec_id)
        """
    ).cache()
    reps.createOrReplaceTempView("__knn_reps")
    _materialize_cache(spark, reps)
    # r17: assignment via one Arrow pass (_ivf_assign_arrow — GEMM
    # prefilter + exact-fold survivors), superseding the r16 narrow
    # argmax's reps×16 crossJoin of interpreted HOF-fold dots; same
    # (rounded sim desc, cent_id asc) winner, cache policy unchanged.
    argmax = _ivf_assign_arrow(reps, _collect_cents(spark, sf_dir)).cache()
    argmax.createOrReplaceTempView("__knn_argmax")
    # Planner-statistics discipline (round 10): materialize before the
    # self-join is planned so both sides see real InMemoryRelation stats.
    _materialize_cache(spark, argmax)
    spark.sql(
        """
        SELECT r.vec_id, a.cent_id, r.embedding
        FROM __knn_reps r JOIN __knn_argmax a ON a.vec_id = r.vec_id
        """
    ).createOrReplaceTempView("__knn_assigned")
    return spark.sql(
        f"""
        SELECT vec_id, neighbor_id, CAST(rnk AS INT) AS rnk, sim FROM (
          SELECT vec_id, neighbor_id, sim,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY sim DESC, neighbor_id) AS rnk
          FROM (SELECT a.vec_id, b.vec_id AS neighbor_id,
                       round({_DOT_SPARK_SQL.format(a='a.embedding', b='b.embedding')}, 6) AS sim
                FROM __knn_assigned a
                JOIN __knn_assigned b
                  ON b.cent_id = a.cent_id AND b.vec_id <> a.vec_id) s) r
        WHERE rnk <= 5
        """
    )


def _lsh_approx_neighbors(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """LSH approximate top-k for probe vec_id=0 (BucketedRandomProjectionLSH,
    fixed seed): hash the corpus into buckets, search the probe's bucket
    neighborhood only. Distances are TRUE euclidean distances — LSH prunes
    the candidate set, it never fabricates a distance. Shared by the
    registered audit op and the estimator-claim property test."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = (
        t(spark, sf_dir, "embeddings")
        # NULL embeddings can be neither indexed nor queried (r15 null
        # sweep: fit() raised on the null vector); the probe is the
        # MINIMUM non-null vec_id — identical to vec 0 on a null-free
        # corpus, well-defined on any other.
        .where(F.col("embedding").isNotNull())
        .select("vec_id", array_to_vector("embedding").alias("vec"))
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes", bucketLength=2.0, numHashTables=3, seed=42
    )
    model = lsh.fit(e)
    probe = e.orderBy("vec_id").head()  # single bounded row: the probe key
    neighbors = model.approxNearestNeighbors(
        e.where(F.col("vec_id") != probe["vec_id"]), probe["vec"], k,
        distCol="euclid_dist"
    )
    return neighbors.select("vec_id", F.round("euclid_dist", 6).alias("euclid_dist"))


@register(
    "llm_ann_lsh",
    oracle="""
    SELECT CAST(min(vec_id) AS BIGINT) AS probe_id,
           CAST(10 AS BIGINT) AS k, TRUE AS recall_ok
    FROM embeddings WHERE embedding IS NOT NULL
    """,
)
def llm_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with an in-plan recall audit (r12 verdict task #2; rows-only
    r1–r12, first oracle-backed r13): run the seeded random-hyperplane LSH
    top-10 for probe vec_id=0, compute the EXACT top-10 by brute-force dot
    against the same probe (one linear scan — cheap for a single probe at
    any scale), and emit one row asserting recall@10 ≥ 0.8. The floor, not
    exact set equality, is the gateable contract: bucket pruning genuinely
    excludes a true neighbor at sf0.01 (measured recall 10/10 at sf0.001,
    9/10 at sf0.01, 10/10 at sf0.1 — round-6 probe), so no deterministic
    SQL oracle can reproduce the neighbor SET, but every measurement sits
    ≥1 hit above the floor. The recall/latency trade is the op's point;
    exact-checkable twins: llm_ivf_ann, llm_ann_recall_eval, llm_knn_all."""
    neighbors = _lsh_approx_neighbors(spark, sf_dir, k=10)
    raw = t(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())
    probe_vid = raw.agg(F.min("vec_id")).head()[0]  # bounded scalar probe key
    probe_arr = raw.where(F.col("vec_id") == probe_vid).select(
        F.col("embedding").alias("p")
    )
    exact_top = (
        raw.where(F.col("vec_id") != probe_vid)
        .crossJoin(F.broadcast(probe_arr))
        .select("vec_id", _dot(F.col("embedding"), F.col("p")).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )
    return (
        neighbors.join(exact_top, "vec_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("hits"))
        .select(
            F.lit(int(probe_vid)).cast("long").alias("probe_id"),
            F.lit(10).cast("long").alias("k"),
            (F.col("hits") >= 8).alias("recall_ok"),
        )
    )


@register(
    "llm_sim_blocked",
    oracle=f"""
    WITH reps AS (
      SELECT min(vec_id) AS vec_id FROM embeddings
      WHERE embedding IS NOT NULL GROUP BY embedding),
    e AS (
      SELECT x.vec_id, x.embedding FROM embeddings x JOIN reps USING (vec_id)
      WHERE x.vec_id < 131072)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({_DOT_ORACLE.format(a='a.embedding', b='b.embedding')}, 6) AS sim
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE round({_DOT_ORACLE.format(a='a.embedding', b='b.embedding')}, 6) >= 0.35
    """,
)
def llm_sim_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs cosine near-dup via the FULLY DISTRIBUTED block×block GEMM
    layout (_blocked_gemm): rows → _SIM_BLOCK-row blocks, the
    upper-triangular block-pair grid (enumerated with spark.range div/mod,
    never a driver list) equi-joined against both sides and cogrouped, one
    numpy float64 GEMM tile per task. No driver collect, no corpus
    broadcast; block size bounds a task's memory and the grid shards the
    O(N²) work across the cluster.

    Bounded audit tier (round 11): (a) EXACT-COLLAPSE FIRST — one
    representative vec_id per distinct embedding payload, so verbatim
    copies (real crawls; the 100x amplified probe corpus) stop multiplying
    the GEMM copies² (round-10 sweep TIMEOUT); (b) a documented hard cap —
    the audit runs on representative vec_id < 131072 (~17B pair-dots worst
    case, a bounded cluster job at any corpus size; a no-op at every test
    tier, max vec_id 1999). The unbounded exactness anchor remains
    llm_embed_near_dup; the sub-quadratic production paths are the LSH /
    IVF / semdedup family. Oracle applies the same reps + cap."""
    return _blocked_gemm(
        spark,
        sf_dir,
        _threshold_pair_kernel(0.35),
        "vec_a long, vec_b long, sim double",
        collapse=True,
        cap=131072,
    )


_IVF_ANN_ORACLE = f"""
    WITH cents AS (
        SELECT vec_id AS cent_id, embedding AS cent FROM embeddings WHERE vec_id < 16),
    probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
    assigned AS (
        SELECT vec_id, cent_id FROM (
            SELECT e.vec_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({_DOT_ORACLE.format(a='e.embedding', b='c.cent')}, 6) DESC,
                                c.cent_id) AS rn
            FROM embeddings e CROSS JOIN cents c)
        WHERE rn = 1),
    plists AS (
        SELECT cent_id FROM cents CROSS JOIN probe
        ORDER BY round({_DOT_ORACLE.format(a='cent', b='p')}, 6) DESC, cent_id
        LIMIT 4)
    SELECT e.vec_id, a.cent_id,
           round({_DOT_ORACLE.format(a='e.embedding', b='p')}, 6) AS sim
    FROM embeddings e
    JOIN assigned a ON e.vec_id = a.vec_id
    JOIN plists l ON a.cent_id = l.cent_id
    CROSS JOIN probe
    WHERE e.vec_id <> 0
    ORDER BY sim DESC, e.vec_id
    LIMIT 10
    """


@register("llm_ivf_ann", oracle=_IVF_ANN_ORACLE)
def llm_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate nearest neighbor — the scale path for
    similarity search. Coarse quantizer: 16 deterministic centroids (the
    vectors with vec_id < 16 stand in for trained k-means means, keeping
    the op exactly oracle-checkable). Index build: every vector gets one
    inverted-list assignment = argmax centroid cosine (map-side N×K dot
    products against broadcast centroids, one shuffle on vec_id for the
    argmax). Search: probe scans only its nprobe=4 nearest lists — at
    100 TB with K=sqrt(N) lists this turns a full-corpus scan into a
    ~nprobe/K fraction, and the assignment is a write-once index persisted
    alongside the table.

    ASSIGNMENT VIA ONE ARROW PASS (r17, guide §4.2 — supersedes the r16
    narrow argmax): the r16 form still crossJoined the corpus against the
    16 centroids and evaluated an interpreted HOF fold per pair (N×16
    dots, ~6 µs each). ``_ivf_assign_arrow`` ships each corpus row across
    the Python boundary once, prunes candidates with one float64 BLAS
    GEMM per batch, and emits the identical cumsum left fold for the few
    survivors — same round-6 value, same (sim desc, cent_id asc) max_by
    winner, NULL semantics replicated (see the helper). The probe path
    joins the PRUNED narrow assignment (nprobe lists only) back to the
    vectors, so AQE can broadcast it instead of shuffling the corpus."""
    e = t(spark, sf_dir, "embeddings")
    cents = F.broadcast(
        t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent"))
    )
    probe = F.broadcast(
        t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("p"))
    )

    assigned = _ivf_assign_arrow(e, _collect_cents(spark, sf_dir))
    plists = F.broadcast(
        cents.crossJoin(probe)
        .orderBy(F.round(_dot(F.col("cent"), F.col("p")), 6).desc(), "cent_id")
        .limit(4)
        .select("cent_id")
    )
    return (
        e.join(assigned.join(plists, "cent_id"), "vec_id")
        .crossJoin(probe)
        .where(F.col("vec_id") != 0)
        .select("vec_id", "cent_id", F.round(_dot(F.col("embedding"), F.col("p")), 6).alias("sim"))
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )


@register("llm_ivf_index_persist", oracle=_IVF_ANN_ORACLE)
def llm_ivf_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with the index PERSISTED — makes llm_ivf_ann's "write-once
    index" claim real (r15 verdict task #6). llm_ivf_ann rebuilds the
    inverted-list assignment inside every query; here the build is a
    separate, once-per-corpus step whose output is written to parquet
    PARTITIONED BY cent_id (each partition directory IS one inverted
    list, holding its members' vectors — the on-disk layout of a real
    IVF index), and the probe path reads ONLY the stored lists:

      * build (once; skipped when the index on disk carries the current
        corpus fingerprint): argmax-centroid assignment — map-side N×K
        dots against 16 broadcast centroids, one row_number window —
        written as (vec_id, embedding) under cent_id= partitions;
      * probe (every query): the nprobe=4 nearest list ids are computed
        from the 16 broadcast centroids and collected (4 rows — bounded
        by nprobe, never by corpus), then the probe scans exactly those
        4 partition directories via partition pruning (the plan shows
        PartitionFilters on cent_id and NO window/assignment stage —
        asserted by tests/test_plans.py::test_ivf_persist_probe_plan),
        computes the query dots, and TakeOrdered's the top 10.

    At 100 TB this is the difference between an ANN service and a batch
    job: the N×K assignment (the expensive part) is paid once per corpus
    version and amortized over every query, each of which touches
    ~nprobe/K of the data. The corpus fingerprint (mtime+size of the
    embeddings parquet) invalidates the index on regeneration, so a
    stale index can never serve a new corpus. Results are REQUIRED to be
    identical to llm_ivf_ann (same oracle text verbatim): persisting the
    assignment must not change a single neighbor."""
    import json
    import os
    from hashlib import md5 as _md5

    from ..sources._scratch import scratch_dir

    src = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(src)
    fingerprint = f"{st.st_mtime_ns}:{st.st_size}"
    root = scratch_dir("ivf_index")
    idx_dir = os.path.join(root, _md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12])
    data_dir = os.path.join(idx_dir, "lists")
    meta_path = os.path.join(idx_dir, "meta.json")

    cents = F.broadcast(
        t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") < 16)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent"))
    )

    def _index_current() -> bool:
        try:
            with open(meta_path) as fh:
                return json.load(fh).get("fingerprint") == fingerprint
        except (FileNotFoundError, json.JSONDecodeError):
            return False

    if not _index_current():
        e = t(spark, sf_dir, "embeddings")
        # r17: assignment via one Arrow pass (_ivf_assign_arrow — GEMM
        # prefilter + exact-fold survivors), superseding the r16 narrow
        # argmax's N×16 crossJoin of interpreted HOF-fold dots; same
        # (rounded sim desc, cent_id asc) winner, written index identical.
        assigned = _ivf_assign_arrow(e, _collect_cents(spark, sf_dir))
        (
            e.join(assigned, "vec_id")
            .select("vec_id", "embedding", "cent_id")
            .write.mode("overwrite")
            .partitionBy("cent_id")
            .parquet(data_dir)
        )
        os.makedirs(idx_dir, exist_ok=True)
        with open(meta_path, "w") as fh:
            json.dump({"fingerprint": fingerprint, "k": 16, "nprobe": 4}, fh)

    probe = F.broadcast(
        t(spark, sf_dir, "embeddings")
        .where(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("p"))
    )
    # nprobe list selection: 16 centroids × 1 probe — the collect is
    # bounded at nprobe rows by construction (never corpus-scaled), and
    # materializing the ids as LITERALS is what lets the scan below prune
    # to exactly these partition directories at plan time.
    probe_ids = [
        r.cent_id
        for r in cents.crossJoin(probe)
        .orderBy(F.round(_dot(F.col("cent"), F.col("p")), 6).desc(), "cent_id")
        .limit(4)
        .select("cent_id")
        .collect()
    ]
    lists = spark.read.parquet(data_dir)
    return (
        lists.where(F.col("cent_id").isin(probe_ids))
        .where(F.col("vec_id") != 0)
        .crossJoin(probe)
        .select(
            "vec_id",
            F.col("cent_id").cast("long").alias("cent_id"),
            F.round(_dot(F.col("embedding"), F.col("p")), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(10)
    )


@register(
    "llm_embedding_stats",
    oracle="""
    WITH flat AS (
        SELECT CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM embeddings)
    SELECT dim,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(val), 6) AS mean_val,
           round(stddev_samp(val), 6) AS std_val,
           round(min(val), 6) AS min_val,
           round(max(val), 6) AS max_val
    FROM flat GROUP BY dim
    """,
)
def llm_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column health check: per-dimension mean/std/min/max over
    the corpus — the feature-drift / dead-dimension / collapsed-variance
    audit run before training on a new embedding batch. posexplode keeps
    the dimension index; the shuffle is to 64 dim groups with map-side
    partial aggregation, so network traffic is O(dims × partitions), not
    O(rows × dims), no matter how large the corpus."""
    flat = t(spark, sf_dir, "embeddings").select(
        F.posexplode("embedding").alias("dim", "fval")
    ).select("dim", F.col("fval").cast("double").alias("val"))
    return flat.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        ratio(F.avg("val")).alias("mean_val"),
        ratio(F.stddev_samp("val")).alias("std_val"),
        ratio(F.min("val")).alias("min_val"),
        ratio(F.max("val")).alias("max_val"),
    )


@register(
    "llm_ann_recall_eval",
    oracle=f"""
    WITH probes AS (
        SELECT vec_id AS probe_id, embedding AS p FROM embeddings
        WHERE vec_id % 200 = 0 AND vec_id < 12800 AND embedding IS NOT NULL),
    cents AS (
        SELECT vec_id AS cent_id, embedding AS cent FROM embeddings WHERE vec_id < 16 AND embedding IS NOT NULL),
    assigned AS (
        SELECT vec_id, cent_id FROM (
            SELECT e.vec_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY round({_DOT_ORACLE.format(a='e.embedding', b='c.cent')}, 6) DESC,
                                c.cent_id) AS rn
            FROM embeddings e CROSS JOIN cents c WHERE e.embedding IS NOT NULL)
        WHERE rn = 1),
    plists AS (
        SELECT probe_id, cent_id FROM (
            SELECT pr.probe_id, c.cent_id,
                   row_number() OVER (
                       PARTITION BY pr.probe_id
                       ORDER BY round({_DOT_ORACLE.format(a='c.cent', b='pr.p')}, 6) DESC,
                                c.cent_id) AS rn
            FROM cents c CROSS JOIN probes pr)
        WHERE rn <= 4),
    ivf AS (
        SELECT probe_id, vec_id FROM (
            SELECT pr.probe_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY pr.probe_id
                       ORDER BY round({_DOT_ORACLE.format(a='e.embedding', b='pr.p')}, 6) DESC,
                                e.vec_id) AS rn
            FROM embeddings e
            JOIN assigned a ON e.vec_id = a.vec_id
            JOIN plists l ON a.cent_id = l.cent_id
            JOIN probes pr ON l.probe_id = pr.probe_id
            WHERE e.vec_id <> pr.probe_id AND e.embedding IS NOT NULL)
        WHERE rn <= 10),
    exact AS (
        SELECT probe_id, vec_id FROM (
            SELECT pr.probe_id, e.vec_id,
                   row_number() OVER (
                       PARTITION BY pr.probe_id
                       ORDER BY round({_DOT_ORACLE.format(a='e.embedding', b='pr.p')}, 6) DESC,
                                e.vec_id) AS rn
            FROM embeddings e CROSS JOIN probes pr
            WHERE e.vec_id <> pr.probe_id AND e.embedding IS NOT NULL)
        WHERE rn <= 10)
    SELECT x.probe_id,
           round(CAST(count(i.vec_id) AS DOUBLE) / 10, 6) AS recall_at_10
    FROM exact x
    LEFT JOIN ivf i ON x.probe_id = i.probe_id AND x.vec_id = i.vec_id
    GROUP BY x.probe_id
    """,
)
def llm_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index quality evaluation: recall@10 of the IVF search
    (llm_ivf_ann's deterministic index: 16 centroids, nprobe=4) against
    exact brute-force top-10, per probe vector — the measurement loop any
    production similarity-search deployment runs before trusting an
    approximate index. Probes are every 200th vector (held-out-query
    pattern); both result lists use the same round-6 + vec_id
    deterministic cut so recall is engine-exact. Scale shape: the probe
    set is BOUNDED BY CONSTRUCTION (round 11) — every 200th vector below
    id 12800, i.e. at most 64 probes at ANY corpus size (sampled probes
    are the industry norm for recall audits; the prior unbounded %200 set
    grew with the corpus, which both timed out the exact arm at the 100x
    sweep and made its broadcast corpus-proportional — the round-10 OOM
    class). Probes and centroids broadcast legitimately (≤64 and 16 rows
    fixed); the exact arm is the only corpus-wide scan — the same cost as
    one brute-force query batch, paid once per index-quality audit, not
    per query. NULL embeddings are filtered from corpus, probe and
    centroid sets alike (r15 null sweep) — a missing vector can neither
    be indexed nor queried; oracle CTEs filter identically."""
    nn = F.col("embedding").isNotNull()
    e = t(spark, sf_dir, "embeddings").where(nn)
    probes = F.broadcast(
        t(spark, sf_dir, "embeddings")
        .where((F.col("vec_id") % 200 == 0) & (F.col("vec_id") < 12800) & nn)
        .select(F.col("vec_id").alias("probe_id"), F.col("embedding").alias("p"))
    )
    cents = F.broadcast(
        t(spark, sf_dir, "embeddings")
        .where((F.col("vec_id") < 16) & nn)
        .select(F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent"))
    )
    # Assignment via mapInArrow (r17, guide §4.1/§4.2): the r16 narrow
    # argmax removed the window exchange but still crossJoined the corpus
    # against the 16 broadcast centroids and shipped BOTH 64-float arrays
    # into ArrowEvalPython per pair — N×16 × ~1 KB across the Python
    # boundary. The kernel now holds the 16-row centroid matrix (bounded
    # by construction) and each corpus row crosses ONCE; it emits the 16
    # narrow (vec_id, cent_id, raw dot) rows, and the round + max_by
    # partial aggregate in the JVM is unchanged — same winner, same
    # (csim desc, cent_id asc) tiebreak, and the raw dot is the identical
    # strictly-sequential cumsum left fold as _dot64_vec (bit-for-bit).
    # centroid + probe matrices for the kernels below (≤16 and ≤64 rows,
    # bounded by construction — collected like any dimension broadcast;
    # ONE collect job serves both)
    _cp_rows = (
        t(spark, sf_dir, "embeddings")
        .where(
            ((F.col("vec_id") < 16) | ((F.col("vec_id") % 200 == 0) & (F.col("vec_id") < 12800)))
            & nn
        )
        .select("vec_id", "embedding")
        .collect()
    )
    cent_mat = sorted(
        (int(r["vec_id"]), list(r["embedding"])) for r in _cp_rows if r["vec_id"] < 16
    )
    probe_mat = sorted(
        (int(r["vec_id"]), list(r["embedding"]))
        for r in _cp_rows
        if r["vec_id"] % 200 == 0 and r["vec_id"] < 12800
    )

    assigned = _ivf_assign_arrow(e, cent_mat)
    rn_plist = Window.partitionBy("probe_id").orderBy(
        F.round(_dot(F.col("cent"), F.col("p")), 6).desc(), "cent_id"
    )
    # ≤64×4 rows by construction; consumed via collect() into the ivf
    # kernel's closure, so no broadcast hint (nothing joins it anymore)
    plists = (
        cents.crossJoin(probes)
        .withColumn("rn", F.row_number().over(rn_plist))
        .where(F.col("rn") <= 4)
        .select("probe_id", "cent_id")
    )
    rn_probe = Window.partitionBy("probe_id").orderBy(
        F.col("sim").desc(), "vec_id"
    )
    # IVF arm via the same mapInArrow shape (r17): each corpus row —
    # already carrying its assigned cent_id from the narrow argmax above —
    # crosses the boundary once; the kernel dots it against exactly the
    # probes whose nprobe list contains that cell (plists is ≤64×4 rows,
    # bounded by construction, collected like the probe matrix), excludes
    # vec_id == probe_id, and applies the same conservative per-batch
    # top-10 + 1e-6-margin cut as the exact arm below. Replaces the
    # plists/probes joins + per-pair ArrowEvalPython dot (N×~16 1 KB pairs
    # at the 100× tier) with narrow 24 B rows into the final window.
    plist_rows = sorted(
        (int(r["probe_id"]), int(r["cent_id"])) for r in plists.collect()
    )

    def _ivf_topk_kernel(batches):
        import numpy as np
        import pyarrow as pa

        pids = np.array([p for p, _ in probe_mat], dtype=np.int64)
        pmat = np.array([v for _, v in probe_mat], dtype=np.float64)
        cells: dict[int, list[int]] = {}
        for pid, cid in plist_rows:
            cells.setdefault(pid, []).append(cid)
        pcells = [np.array(cells.get(int(p), []), dtype=np.int64) for p in pids]
        schema = pa.schema(
            [("probe_id", pa.int64()), ("vec_id", pa.int64()), ("sim", pa.float64())]
        )
        for batch in batches:
            vid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            cid = batch.column("cent_id").to_numpy(zero_copy_only=False)
            emb = _emb_f64(batch.column("embedding"), len(vid))
            if emb.size == 0:
                continue
            ga = emb @ pmat.T  # (n, n_probes) approx dots, one BLAS call
            chunks_p, chunks_v, chunks_s = [], [], []
            for k in range(len(pids)):
                mask = np.isin(cid, pcells[k]) & (vid != pids[k])
                if not mask.any():
                    continue
                da = ga[mask, k]
                idx = np.nonzero(mask)[0]
                if da.size > 10:
                    keep = da >= (np.partition(da, -10)[-10] - _IVF_MARGIN)
                    idx = idx[keep]
                d = (emb[idx] * pmat[k]).cumsum(axis=1)[:, -1]  # exact folds
                chunks_p.append(np.full(d.size, pids[k], dtype=np.int64))
                chunks_v.append(vid[idx].astype(np.int64, copy=False))
                chunks_s.append(d)
            if chunks_p:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(chunks_p), type=pa.int64()),
                        pa.array(np.concatenate(chunks_v), type=pa.int64()),
                        pa.array(np.concatenate(chunks_s), type=pa.float64()),
                    ],
                    schema=schema,
                )

    ivf = (
        e.join(assigned, "vec_id")
        .select("vec_id", "cent_id", "embedding")
        .mapInArrow(_ivf_topk_kernel, "probe_id long, vec_id long, sim double")
        .select("probe_id", "vec_id", F.round(F.col("sim"), 6).alias("sim"))
        .withColumn("rn", F.row_number().over(rn_probe))
        .where(F.col("rn") <= 10)
        .select("probe_id", "vec_id")
    )
    # Exact arm via mapInArrow (r17, r16 verdict task #3 / guide §4.2):
    # the old shape crossJoined the corpus against the ≤64 broadcast probes
    # — N×64 rows, each carrying BOTH 64-float arrays through ArrowEvalPython
    # (~1 KB/pair across the boundary) and then N×64 narrow rows through the
    # top-10 window's exchange+sort (58.3 s at the 100× tier, the worst
    # scale number in the repo). Now each corpus row crosses the boundary
    # ONCE: the kernel holds the probe matrix (≤64 rows, bounded by
    # construction — collected like any dimension broadcast) and computes
    # every probe's dot per batch. The per-batch cut keeps, per probe, the
    # GEMM top-10 plus everything within _IVF_MARGIN of the 10th: a dropped
    # row has 10 same-batch rows whose exact folds beat it by > 1e-6
    # (GEMM-vs-fold error is ≤ ~3e-14, five orders under the margin), so
    # its round-6 sim is strictly lower and it can never enter the global
    # rounded top-10 regardless of vec_id tiebreaks. EMITTED sims are the
    # exact cumsum left fold — bit-for-bit the old _dot64_vec value. The
    # final window ranks ≤ (n_batches × 64 × ~10) survivors, not N×64.
    def _exact_topk_kernel(batches):
        import numpy as np
        import pyarrow as pa

        pids = np.array([p for p, _ in probe_mat], dtype=np.int64)
        pmat = np.array([v for _, v in probe_mat], dtype=np.float64)
        out_schema = pa.schema(
            [("probe_id", pa.int64()), ("vec_id", pa.int64()), ("sim", pa.float64())]
        )
        for batch in batches:
            vid = batch.column("vec_id").to_numpy(zero_copy_only=False)
            emb = _emb_f64(batch.column("embedding"), len(vid))
            if emb.size == 0:
                continue
            ga = emb @ pmat.T  # (n, n_probes) approx dots, one BLAS call
            chunks_p, chunks_v, chunks_s = [], [], []
            for k in range(len(pids)):
                mask = vid != pids[k]
                da = ga[mask, k]
                idx = np.nonzero(mask)[0]
                if da.size > 10:
                    keep = da >= (np.partition(da, -10)[-10] - _IVF_MARGIN)
                    idx = idx[keep]
                if idx.size:
                    # strictly-sequential left fold on the survivors —
                    # bit-identical to _dot64_vec / the oracle's fold
                    d = (emb[idx] * pmat[k]).cumsum(axis=1)[:, -1]
                    chunks_p.append(np.full(d.size, pids[k], dtype=np.int64))
                    chunks_v.append(vid[idx].astype(np.int64, copy=False))
                    chunks_s.append(d)
            if chunks_p:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.concatenate(chunks_p), type=pa.int64()),
                        pa.array(np.concatenate(chunks_v), type=pa.int64()),
                        pa.array(np.concatenate(chunks_s), type=pa.float64()),
                    ],
                    schema=out_schema,
                )

    exact = (
        e.select("vec_id", "embedding")  # §4.1: ship only what the kernel reads
        .mapInArrow(_exact_topk_kernel, "probe_id long, vec_id long, sim double")
        .select("probe_id", "vec_id", F.round(F.col("sim"), 6).alias("sim"))
        .withColumn("rn", F.row_number().over(rn_probe))
        .where(F.col("rn") <= 10)
        .select("probe_id", "vec_id")
    )
    hit = ivf.select(
        F.col("probe_id").alias("ivf_probe"), F.col("vec_id").alias("ivf_vec")
    )
    return (
        exact.join(
            hit,
            (F.col("probe_id") == F.col("ivf_probe"))
            & (F.col("vec_id") == F.col("ivf_vec")),
            "left",
        )
        .groupBy("probe_id")
        .agg(ratio(F.count("ivf_vec").cast("double") / 10).alias("recall_at_10"))
    )


@register(
    "llm_embedding_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings),
    ranged AS (
      SELECT vec_id, e,
             list_min(e) AS mn,
             greatest(list_max(e) - list_min(e), 1e-12) / 255.0 AS scale
      FROM v),
    quant AS (
      SELECT vec_id, mn, scale,
             list_transform(e, x -> round((x - mn) / scale, 0)) AS q,
             e
      FROM ranged)
    SELECT vec_id,
           CAST(list_sum(q) AS BIGINT) AS q_checksum,
           round(list_sum(list_transform(list_zip(e, q),
                 p -> pow(CAST(p[1] AS DOUBLE) - (mn + CAST(p[2] AS DOUBLE) * scale), 2)))
                 / len(e), 8) AS mse
    FROM quant
    """,
)
def llm_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (int8-style) embedding quantization — the storage/ANN-recall
    trade every vector store makes at 100 TB: per-vector min/max range,
    255-level uniform codes, and the reconstruction MSE that predicts
    recall loss. Entirely JVM higher-order array functions (transform /
    aggregate fold — sequential over list order, so float summation is
    order-identical in both engines); one map-side pass, no shuffle, no
    UDF. q-codes are exact small integers (round() of well-separated
    doubles), MSE rounds to 8 dp."""
    e_dbl = F.expr("transform(embedding, x -> cast(x as double))")
    v = t(spark, sf_dir, "embeddings").select("vec_id", e_dbl.alias("e"))
    ranged = v.select(
        "vec_id",
        "e",
        F.array_min("e").alias("mn"),
        (F.greatest(F.array_max("e") - F.array_min("e"), F.lit(1e-12)) / 255.0).alias(
            "scale"
        ),
    )
    quant = ranged.select(
        "vec_id",
        "mn",
        "scale",
        "e",
        F.expr("transform(e, x -> round((x - mn) / scale, 0))").alias("q"),
    )
    return quant.select(
        "vec_id",
        F.expr("cast(aggregate(q, 0.0D, (acc, x) -> acc + x) as bigint)").alias(
            "q_checksum"
        ),
        F.round(
            F.expr(
                "aggregate(zip_with(e, q, (x, c) -> pow(x - (mn + c * scale), 2)),"
                " 0.0D, (acc, x) -> acc + x) / size(e)"
            ),
            8,
        ).alias("mse"),
    )


_SEMDEDUP_TAU = 0.35


@register(
    "llm_semdedup_centroid",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cent_id, embedding AS cent FROM embeddings
      WHERE vec_id < 16),
    assigned AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round({_DOT_ORACLE.format(a='e.embedding', b='c.cent')}, 6)
                          DESC, c.cent_id) AS rn
        FROM embeddings e CROSS JOIN cents c)
      WHERE rn = 1),
    pairs AS (
      SELECT a.cent_id, b.vec_id AS dup_id
      FROM assigned a
      JOIN assigned b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE round({_DOT_ORACLE.format(a='ea.embedding', b='eb.embedding')}, 6)
            >= {_SEMDEDUP_TAU}),
    tot AS (SELECT cent_id, count(*) AS n_total FROM assigned GROUP BY cent_id),
    rem AS (
      SELECT cent_id, count(DISTINCT dup_id) AS n_removed FROM pairs
      GROUP BY cent_id)
    SELECT t.cent_id, t.n_total,
           CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
           CAST(t.n_total - COALESCE(r.n_removed, 0) AS BIGINT) AS n_kept
    FROM tot t LEFT JOIN rem r ON r.cent_id = t.cent_id
    """,
)
def llm_semdedup_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023, public
    arXiv 2303.09540): cluster the embedding space with a coarse
    quantizer, then search for near-duplicate pairs ONLY within each
    cluster — the cluster assignment turns the global O(N²) cosine
    comparison into per-cluster blocks, which is what makes semantic
    dedup tractable at 100 TB (with k ≈ √N clusters the pair work drops
    by ~k×). Determinism: centroids are the vec_id<16 convention shared
    with llm_ivf_ann (stand-ins for trained means, keeping the op
    exactly oracle-checkable); keep-lowest-vec_id dedup rule. Spark
    plan: 16-centroid broadcast + map-side argmax (bounded BNLJ,
    allowlisted), then a cent_id-keyed equi self-join — the quadratic
    work is sharded per cluster, never global.

    NARROW ARGMAX (r16, guide §2.3 — the llm_knn_all pattern): the cell
    assignment used a row_number window over the N×16 cross join, paying
    a vec_id exchange + sort for 16 narrow rows per vector;
    ``max_by(cent_id, struct(sim, -cent_id))`` collapses the candidates
    in the partial aggregate BEFORE the shuffle. Tiebreak identical
    (highest rounded sim, then lowest cent_id), NULL sims identical
    (max_by's struct ordering puts NULL sim below every non-NULL, and an
    all-NULL vector falls to the lowest cent_id — probed against the
    window form on NULL/tie fixtures). ``assigned`` is cached: the pair
    self-join reads it twice and the totals once, and the old CTE form
    recomputed the assignment per reference (Spark CTEs are not
    materialization points)."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    # r17: assignment via one Arrow pass (_ivf_assign_arrow — GEMM
    # prefilter + exact-fold survivors), superseding the r16 narrow
    # argmax's N×16 crossJoin of interpreted HOF-fold dots; same winner,
    # same NULL semantics (see the helper), cache policy unchanged.
    assigned = _ivf_assign_arrow(
        t(spark, sf_dir, "embeddings"), _collect_cents(spark, sf_dir)
    ).cache()
    assigned.createOrReplaceTempView("__semc_assigned")
    _materialize_cache(spark, assigned)
    return spark.sql(
        f"""
        WITH pairs AS (
          SELECT a.cent_id, b.vec_id AS dup_id
          FROM __semc_assigned a
          JOIN __semc_assigned b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
          JOIN embeddings ea ON ea.vec_id = a.vec_id
          JOIN embeddings eb ON eb.vec_id = b.vec_id
          WHERE round(aggregate(
                  zip_with(ea.embedding, eb.embedding,
                           (x, y) -> cast(x AS double) * cast(y AS double)),
                  cast(0.0 AS double), (acc, v) -> acc + v), 6) >= {_SEMDEDUP_TAU}),
        tot AS (SELECT cent_id, count(*) AS n_total
                FROM __semc_assigned GROUP BY cent_id),
        rem AS (
          SELECT cent_id, count(DISTINCT dup_id) AS n_removed FROM pairs
          GROUP BY cent_id)
        SELECT t.cent_id, t.n_total,
               CAST(COALESCE(r.n_removed, 0) AS BIGINT) AS n_removed,
               CAST(t.n_total - COALESCE(r.n_removed, 0) AS BIGINT) AS n_kept
        FROM tot t LEFT JOIN rem r ON r.cent_id = t.cent_id
        """
    )


def _mmr_oracle() -> str:
    """Unrolled 5-step greedy MMR in DuckDB CTEs (the kmeans-oracle
    pattern): candidate top-20 by probe cosine, then per step an integer
    argmax of 7·sim_probe − 3·max-sim-to-selected (λ=0.7 scaled to the
    1e-6 fixed-point grid — exact int64 comparisons, no float rounding at
    the decision boundary)."""
    dot_cp = _DOT_ORACLE.format(a="e.embedding", b="p")
    dot_ab = _DOT_ORACLE.format(a="a.embedding", b="b.embedding")
    steps = []
    for i in range(2, 6):
        steps.append(f"""sel{i} AS (
      SELECT * FROM sel{i - 1}
      UNION ALL
      (SELECT vec_id, simp, {i} AS mmr_rank FROM (
         SELECT c.vec_id, c.simp,
                7 * CAST(round(c.simp * 1000000) AS BIGINT)
                - 3 * (SELECT max(p2.si) FROM pair p2
                       WHERE p2.u = c.vec_id
                         AND p2.v IN (SELECT vec_id FROM sel{i - 1})) AS score
         FROM cand c
         WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{i - 1}))
       ORDER BY score DESC, vec_id LIMIT 1))""")
    return f"""
    WITH probe AS (SELECT embedding AS p FROM embeddings
                   WHERE vec_id = 0 AND embedding IS NOT NULL),
    cand AS (
      SELECT e.vec_id, e.embedding, round({dot_cp}, 6) AS simp
      FROM embeddings e, probe
      WHERE e.vec_id <> 0 AND e.embedding IS NOT NULL
      ORDER BY simp DESC, e.vec_id LIMIT 20),
    pair AS (
      SELECT a.vec_id AS u, b.vec_id AS v,
             CAST(round(round({dot_ab}, 6) * 1000000) AS BIGINT) AS si
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    sel1 AS (
      SELECT vec_id, simp, 1 AS mmr_rank FROM cand
      ORDER BY simp DESC, vec_id LIMIT 1),
    {",".join(steps)}
    SELECT vec_id, mmr_rank, simp AS sim FROM sel5
    """


@register("llm_mmr_diverse_topk", oracle=_mmr_oracle())
def llm_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998):
    from the probe's cosine top-20 candidates, greedily select 5 results
    maximizing λ·sim(probe) − (1−λ)·max-sim-to-already-selected (λ=0.7)
    — the diversity-aware retrieval head every RAG stack bolts onto ANN.
    Determinism: all similarities live on the round-6 grid, and the
    greedy argmax compares pure int64 scores (7·simp − 3·maxsim on the
    1e-6 fixed-point grid), so the selection is bit-identical across
    engines — the DuckDB oracle replays the same 5 steps as unrolled
    CTEs. Scale shape: the distributed work is the candidate top-20 scan
    (broadcast probe, TakeOrdered merge — llm_sim_topk's plan) and a
    20×20 pair GEMM; the greedy loop itself touches only k²=400 scores,
    driver-side like kmeans' centroid update — never corpus data."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    cand = spark.sql(
        """
        SELECT /*+ BROADCAST(probe) */ e.vec_id, e.embedding,
               round(aggregate(
                       zip_with(e.embedding, probe.p,
                                (x, y) -> cast(x AS double) * cast(y AS double)),
                       cast(0.0 AS double), (acc, v) -> acc + v), 6) AS simp
        FROM embeddings e
        CROSS JOIN (SELECT embedding AS p FROM embeddings
                    WHERE vec_id = 0 AND embedding IS NOT NULL) probe
        WHERE e.vec_id <> 0 AND e.embedding IS NOT NULL
        ORDER BY simp DESC, e.vec_id LIMIT 20
        """
    ).cache()
    cand.createOrReplaceTempView("__mmr_cand")
    pairs = spark.sql(
        """
        SELECT a.vec_id AS u, b.vec_id AS v,
               CAST(round(round(aggregate(
                      zip_with(a.embedding, b.embedding,
                               (x, y) -> cast(x AS double) * cast(y AS double)),
                      cast(0.0 AS double), (acc, v2) -> acc + v2), 6) * 1000000)
                    AS BIGINT) AS si
        FROM __mmr_cand a JOIN __mmr_cand b ON a.vec_id <> b.vec_id
        """
    ).collect()
    simp_rows = {r["vec_id"]: r["simp"] for r in cand.select("vec_id", "simp").collect()}
    if not simp_rows:
        # probe vector absent (e.g. NULL embedding, r15 null sweep):
        # nothing to rank — empty result, stable schema, like the
        # oracle's empty probe CTE.
        return cand.limit(0).select(
            "vec_id", F.lit(1).alias("mmr_rank"), F.col("simp").alias("sim")
        )
    si = {(r["u"], r["v"]): r["si"] for r in pairs}
    simp_int = {vid: round(s * 1_000_000) for vid, s in simp_rows.items()}

    selected: list[int] = []
    first = min(simp_rows, key=lambda v: (-simp_int[v], v))
    selected.append(first)
    while len(selected) < 5:
        best = None
        for c in simp_rows:
            if c in selected:
                continue
            score = 7 * simp_int[c] - 3 * max(si[(c, s)] for s in selected)
            if best is None or (-score, c) < best[0]:
                best = ((-score, c), c)
        selected.append(best[1])

    rank_map = F.map_from_arrays(
        F.array(*[F.lit(v) for v in selected]),
        F.array(*[F.lit(i + 1) for i in range(len(selected))]),
    )
    return (
        cand.where(F.col("vec_id").isin(selected))
        .select(
            "vec_id",
            F.element_at(rank_map, F.col("vec_id")).alias("mmr_rank"),
            F.col("simp").alias("sim"),
        )
    )


@register(
    "llm_hard_negative_mining",
    oracle=f"""
    WITH probe AS (
      SELECT embedding AS p, label AS plabel FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, label,
           round({_DOT_ORACLE.format(a='embedding', b='p')}, 6) AS sim
    FROM embeddings, probe
    WHERE vec_id <> 0 AND label <> plabel
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
)
def llm_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: the
    corpus items MOST similar to the anchor that carry a DIFFERENT label
    — the negatives that actually move a contrastive loss, versus easy
    random negatives (the in-batch-negatives vs hard-negatives
    distinction in dense-retrieval training, e.g. DPR/ANCE, public).
    Plan: broadcast anchor + label, one filtered scan, TakeOrdered
    merge — identical cost to llm_sim_topk; at 100 TB the scan swaps for
    the ANN index probe with a post-filter on label."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH probe AS (
          SELECT embedding AS p, label AS plabel FROM embeddings WHERE vec_id = 0)
        SELECT /*+ BROADCAST(probe) */ vec_id, label,
               round(aggregate(
                       zip_with(embedding, p,
                                (x, y) -> cast(x AS double) * cast(y AS double)),
                       cast(0.0 AS double), (acc, v) -> acc + v), 6) AS sim
        FROM embeddings CROSS JOIN probe
        WHERE vec_id <> 0 AND label <> plabel
        ORDER BY sim DESC, vec_id
        LIMIT 10
        """,
    )


@register(
    "ml_knn_classifier_eval",
    oracle=f"""
    WITH {_KNN_IVF_CTES},
    top5 AS (
      SELECT k.vec_id, nb.label AS nlabel
      FROM knn k JOIN embeddings nb ON nb.vec_id = k.neighbor_id),
    votes AS (
      SELECT vec_id, nlabel, count(*) AS c FROM top5 GROUP BY vec_id, nlabel),
    pred AS (
      SELECT vec_id, nlabel AS plabel FROM (
        SELECT vec_id, nlabel,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY c DESC, nlabel) AS rn
        FROM votes) WHERE rn = 1)
    SELECT e.label, count(*) AS n_vectors,
           CAST(sum(CASE WHEN p.plabel = e.label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           round(avg(CASE WHEN p.plabel = e.label
                          THEN CAST(1.0 AS DOUBLE)
                          ELSE CAST(0.0 AS DOUBLE) END), 6) AS accuracy
    FROM embeddings e JOIN pred p ON e.vec_id = p.vec_id
    GROUP BY e.label
    """,
)
def ml_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out k-NN classification accuracy per label (k=5,
    majority vote with a label tiebreak) — the zero-training baseline
    every embedding space is judged by before anyone trains a probe:
    if 5-NN can't recover the labels, the embeddings don't encode them.
    COMPOSES the proven distributed machinery: the neighbor lists come
    from llm_knn_all's collapse + IVF-bucketed within-cell top-5 (round
    11 — bounded at any corpus size, no all-pairs anywhere), then a label
    join + two bounded window passes produce votes and per-label
    accuracy. Vectors in singleton IVF cells have no neighbors and drop
    from the eval (the same documented recall trade as llm_knn_all). The
    oracle replays the identical reps → cell → within-cell-rank pipeline.
    No forced broadcast on the corpus-scaled label table (round-10
    policy; AQE broadcasts it when genuinely small)."""
    knn = llm_knn_all(spark, sf_dir)  # vec_id, neighbor_id, rnk, sim
    labels = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    nlabels = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nlabel")
    )
    votes = (
        knn.join(nlabels, "neighbor_id")
        .groupBy("vec_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("c").desc(), "nlabel")
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("vec_id", F.col("nlabel").alias("plabel"))
    )
    return (
        labels.join(pred, "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.when(F.col("plabel") == F.col("label"), 1).otherwise(0)
            ).cast("bigint").alias("n_correct"),
            ratio(
                F.avg(
                    F.when(F.col("plabel") == F.col("label"), 1.0).otherwise(0.0)
                )
            ).alias("accuracy"),
        )
    )


@register(
    "llm_semdedup_sqrtn",
    oracle=f"""
    WITH reps AS (
      SELECT min(vec_id) AS vec_id FROM embeddings GROUP BY embedding),
    re AS (
      SELECT e.vec_id, e.embedding
      FROM embeddings e JOIN reps USING (vec_id)),
    params AS (
      SELECT greatest(1, CAST(floor(count(*) / floor(sqrt(count(*))))
                          AS BIGINT)) AS stride
      FROM re),
    cents AS (
      SELECT vec_id AS cent_id, embedding AS cent FROM re
      WHERE vec_id % (SELECT stride FROM params) = 0),
    assigned AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY round({_DOT_ORACLE.format(a='e.embedding', b='c.cent')}, 6)
                          DESC, c.cent_id) AS rn
        FROM re e CROSS JOIN cents c)
      WHERE rn = 1),
    pairs AS (
      SELECT a.cent_id, b.vec_id AS dup_id
      FROM assigned a
      JOIN assigned b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      JOIN re ea ON ea.vec_id = a.vec_id
      JOIN re eb ON eb.vec_id = b.vec_id
      WHERE round({_DOT_ORACLE.format(a='ea.embedding', b='eb.embedding')}, 6)
            >= {_SEMDEDUP_TAU}),
    rem AS (
      SELECT cent_id, count(DISTINCT dup_id) AS n_removed FROM pairs
      GROUP BY cent_id),
    tot AS (SELECT cent_id, count(*) AS n_total FROM assigned GROUP BY cent_id)
    SELECT CAST((SELECT count(*) FROM embeddings)
                - (SELECT count(*) FROM re) AS BIGINT) AS n_exact_collapsed,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(t.n_total) AS BIGINT) AS n_reps,
           CAST(sum(COALESCE(r.n_removed, 0)) AS BIGINT) AS n_removed,
           CAST(sum(t.n_total - COALESCE(r.n_removed, 0)) AS BIGINT) AS n_kept,
           CAST(max(t.n_total) AS BIGINT) AS max_cluster
    FROM tot t LEFT JOIN rem r ON r.cent_id = t.cent_id
    """,
)
def llm_semdedup_sqrtn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of ``llm_semdedup_centroid`` (SemDeDup, public arXiv
    2303.09540) with the two changes that make semantic dedup survive a
    100 TB corpus:

    1. EXACT collapse first: identical embedding vectors keep one
       representative (groupBy on the vector — one linear shuffle).
       Exact-duplicate vectors are the degenerate case for within-cluster
       pair search (the k=16 anchor measured 41x at 10x data on the
       90%-exact-dup corpus); they are already found by hash dedup, so
       the semantic stage should never re-discover them pairwise.
    2. k = floor(sqrt(N_reps)) clusters instead of fixed k=16: expected
       within-cluster pair work drops from O(N^2/16) to O(N^1.5), the
       standard SemDeDup/IVF operating point — cluster count grows with
       the corpus so per-cluster blocks stay bounded.

    Corpus-level summary grain (collapsed count, cluster count, reps,
    removed, kept, max cluster) so the schema is stable while k varies
    with N. Deterministic: centroids are the representatives whose vec_id
    is a multiple of stride = floor(N_reps/k) — an O(1)-per-row rule (no
    global sort / unpartitioned window; stand-ins for trained
    ``ml_kmeans_lloyd`` means), keep-lowest-vec_id dedup rule — exactly
    oracle-checkable at any sf.

    The collapsed representative set is CACHED and referenced via a temp
    view, not a CTE: the stride scalar, centroid filter, assignment, and
    both verify sides read it (5 references), and WITH-CTE definitions are
    not rewritten by CacheManager's cached-plan substitution (round-4
    finding) — the CTE form recomputed the vector-groupBy collapse per
    reference."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    re_df = spark.sql(
        """
        SELECT vec_id, embedding
        FROM (SELECT min(vec_id) AS vec_id FROM embeddings
              GROUP BY embedding) r
        JOIN embeddings USING (vec_id)
        """
    ).cache()
    re_df.createOrReplaceTempView("__sq_reps")
    # narrow argmax (r16, guide §2.3 — the llm_knn_all pattern):
    # max_by(cent_id, struct(sim, -cent_id)) collapses the per-vector
    # candidates in the partial aggregate before any shuffle, replacing
    # the row_number window's vec_id exchange + sort; tiebreak and NULL
    # ordering are identical (probed — see llm_semdedup_centroid).
    assigned = spark.sql(
        """
        SELECT vec_id,
               max_by(cent_id, struct(sim, -cent_id)) AS cent_id
        FROM (
          SELECT /*+ BROADCAST(c) */ e.vec_id, c.cent_id,
                 round(aggregate(
                          zip_with(e.embedding, c.cent,
                                   (x, y) -> cast(x AS double) * cast(y AS double)),
                          cast(0.0 AS double), (acc, v) -> acc + v), 6) AS sim
          FROM __sq_reps e
          CROSS JOIN (SELECT vec_id AS cent_id, embedding AS cent
                      FROM __sq_reps
                      WHERE vec_id % (SELECT greatest(1, cast(floor(count(*) /
                                floor(sqrt(count(*)))) AS bigint))
                                      FROM __sq_reps) = 0) c)
        GROUP BY vec_id
        """
    ).cache()
    assigned.createOrReplaceTempView("__sq_assigned")
    return spark.sql(
        f"""
        SELECT cast((SELECT count(*) FROM embeddings)
                    - (SELECT count(*) FROM __sq_reps) AS bigint)
                 AS n_exact_collapsed,
               cast(count(*) AS bigint) AS n_clusters,
               cast(sum(t.n_total) AS bigint) AS n_reps,
               cast(sum(COALESCE(r.n_removed, 0)) AS bigint) AS n_removed,
               cast(sum(t.n_total - COALESCE(r.n_removed, 0)) AS bigint) AS n_kept,
               cast(max(t.n_total) AS bigint) AS max_cluster
        FROM (SELECT cent_id, count(*) AS n_total
              FROM __sq_assigned GROUP BY cent_id) t
        LEFT JOIN (
          SELECT cent_id, count(DISTINCT dup_id) AS n_removed
          FROM (SELECT a.cent_id, b.vec_id AS dup_id
                FROM __sq_assigned a
                JOIN __sq_assigned b
                  ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
                JOIN __sq_reps ea ON ea.vec_id = a.vec_id
                JOIN __sq_reps eb ON eb.vec_id = b.vec_id
                WHERE round(aggregate(
                        zip_with(ea.embedding, eb.embedding,
                                 (x, y) -> cast(x AS double) * cast(y AS double)),
                        cast(0.0 AS double), (acc, v) -> acc + v), 6)
                      >= {_SEMDEDUP_TAU})
          GROUP BY cent_id) r ON r.cent_id = t.cent_id
        """
    )


def _pq_sql(dialect: str) -> str:
    if dialect == "spark":
        sub = "slice(embedding, s * 16 + 1, 16)"
        grid = "LATERAL VIEW explode(array(0, 1, 2, 3)) AS s"
        d2 = (
            "aggregate(zip_with(v.sub, c.sub,"
            " (x, y) -> (cast(x AS double) - cast(y AS double))"
            " * (cast(x AS double) - cast(y AS double))),"
            " cast(0.0 AS double), (acc, e) -> acc + e)"
        )
        # NULL embeddings are excluded from vectors AND centroids (r15
        # null sweep: a NULL-d2 centroid won every Spark argmin via ASC
        # NULLS FIRST while DuckDB's NULLS LAST ignored it — the classic
        # cross-engine null-ordering split).
        vecs = (
            "SELECT vec_id, s, {sub} AS sub FROM embeddings {grid}"
            " WHERE embedding IS NOT NULL"
        ).format(sub=sub, grid=grid)
        cents = (
            "SELECT vec_id AS code, s, {sub} AS sub"
            " FROM embeddings {grid}"
            " WHERE vec_id < 16 AND embedding IS NOT NULL"
        ).format(sub=sub, grid=grid)
    else:
        sub = "embedding[s * 16 + 1 : s * 16 + 16]"
        grid = "CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS s) g"
        d2 = (
            "list_aggregate(list_transform(list_zip(v.sub, c.sub),"
            " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
            " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), 'sum')"
        )
        vecs = (
            f"SELECT vec_id, s, {sub} AS sub FROM embeddings {grid}"
            f" WHERE embedding IS NOT NULL"
        )
        cents = (
            f"SELECT vec_id AS code, s, {sub} AS sub"
            f" FROM embeddings {grid}"
            f" WHERE vec_id < 16 AND embedding IS NOT NULL"
        )
    return f"""
    WITH vecs AS ({vecs}),
    cents AS ({cents}),
    assigned AS (
      SELECT vec_id, s, code, d2 FROM (
        SELECT v.vec_id, v.s, c.code, round({d2}, 6) AS d2,
               row_number() OVER (
                 PARTITION BY v.vec_id, v.s
                 ORDER BY round({d2}, 6), c.code) AS rn
        FROM vecs v JOIN cents c ON c.s = v.s) z
      WHERE rn = 1)
    SELECT s AS subspace, CAST(code AS INT) AS code,
           CAST(count(*) AS BIGINT) AS n_assigned,
           -- d2 is on the 1e-6 grid already; summing exact integer
           -- micro-units makes the mean order-independent (a double
           -- avg() split the 6th decimal on the null-injection corpus)
           round(sum(CAST(round(d2 * 1e6, 0) AS BIGINT)) / count(*) / 1e6, 6)
             AS avg_sq_err,
           round(max(d2), 6) AS max_sq_err
    FROM assigned
    GROUP BY s, code
    ORDER BY s, code
    """


@register("llm_embedding_pq_codebook", oracle=_pq_sql("duck"))
def llm_embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization audit: the 64-dim embedding splits into 4×16-dim
    subspaces, each sub-vector snaps to the nearest of 16 convention
    centroids (the vec_id<16 quantizer every IVF op here shares), and the
    output is the per-(subspace, code) assignment histogram with mean/max
    squared reconstruction error — the table that says whether a 4×4-bit
    PQ code (32× compression) preserves enough geometry for ANN recall.
    Plan: 16×4 centroid sub-vectors broadcast against the corpus ×4
    subspace explode, argmin via ties-broken row_number — the IVF
    assignment pattern at 4× the row grain, still one shuffle on
    (vec_id, s). Distances round to 1e-6 before the argmin so both
    engines pick identical codes."""
    return sql_q(spark, sf_dir, _pq_sql("spark"))


def _centroid_drift_sql(dialect: str) -> str:
    if dialect == "spark":
        rows = (
            "SELECT vec_id, label, pos, CAST(v AS DOUBLE) AS v"
            " FROM embeddings LATERAL VIEW posexplode(embedding) AS pos, v"
        )
    else:
        rows = (
            "SELECT vec_id, label,"
            " CAST(generate_subscripts(embedding, 1) AS INT) - 1 AS pos,"
            " CAST(unnest(embedding) AS DOUBLE) AS v"
            " FROM embeddings"
        )
    return f"""
    WITH rows_ AS ({rows}),
    means AS (
      SELECT label, pos,
             round(avg(v) FILTER (WHERE vec_id % 2 = 0), 6) AS ma,
             round(avg(v) FILTER (WHERE vec_id % 2 = 1), 6) AS mb,
             max(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS has_a,
             max(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS has_b
      FROM rows_ GROUP BY label, pos),
    counts AS (
      SELECT label,
             count(DISTINCT CASE WHEN vec_id % 2 = 0 THEN vec_id END) AS na,
             count(DISTINCT CASE WHEN vec_id % 2 = 1 THEN vec_id END) AS nb
      FROM rows_ GROUP BY label)
    SELECT m.label,
           CAST(c.na AS BIGINT) AS n_even, CAST(c.nb AS BIGINT) AS n_odd,
           round(sqrt(sum((m.ma - m.mb) * (m.ma - m.mb))), 6) AS l2_drift,
           round(sum(m.ma * m.mb)
                 / (sqrt(sum(m.ma * m.ma)) * sqrt(sum(m.mb * m.mb))), 6)
             AS cos_sim
    FROM means m JOIN counts c ON c.label = m.label
    WHERE m.has_a = 1 AND m.has_b = 1
    GROUP BY m.label, c.na, c.nb
    ORDER BY m.label
    """


@register("llm_embedding_centroid_drift", oracle=_centroid_drift_sql("duck"))
def llm_embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two corpus snapshots (even vs odd
    vec_ids standing in for last month's vs this month's index): per
    label, the L2 distance and cosine similarity between the two
    snapshots' mean vectors — the 'did the embedding distribution move
    enough to re-train the ANN index / recalibrate thresholds' monitor.
    The corpus collapses to (label × 64 dims) mean-grain in one
    conditional aggregate (both snapshots in a single pass, no join at
    row grain); drift arithmetic runs on ≤640 tiny rows. Dimension means
    round to 1e-6 BEFORE the distance fold so both engines accumulate
    identical summands."""
    return sql_q(spark, sf_dir, _centroid_drift_sql("spark"))


_TFIDF_COS_DUCK = """
    WITH reps AS (
      SELECT min(doc_id) AS doc_id, source, text
      FROM documents GROUP BY source, text),
    tf AS (
      SELECT doc_id, source, token, CAST(count(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
            FROM reps) t
      GROUP BY doc_id, source, token),
    nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM tf),
    idf AS (
      SELECT token, ln(nn.n / count(DISTINCT doc_id)) AS idf
      FROM tf CROSS JOIN nn GROUP BY token, nn.n),
    w AS (
      SELECT tf.doc_id, tf.source, tf.token, tf.tf * idf.idf AS wt
      FROM tf JOIN idf ON idf.token = tf.token),
    nrm AS (
      SELECT doc_id, sqrt(sum(wt * wt)) AS nm FROM w GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(a.wt * b.wt) AS dot
      FROM w a JOIN w b ON b.source = a.source AND b.token = a.token
                       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
    SELECT d.doc_a, d.doc_b,
           round(d.dot / (na.nm * nb.nm), 6) AS tfidf_cosine
    FROM dots d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
    WHERE d.dot / (na.nm * nb.nm) >= 0.3
    ORDER BY tfidf_cosine DESC, d.doc_a, d.doc_b
    LIMIT 20
"""


@register("llm_tfidf_cosine_pairs", oracle=_TFIDF_COS_DUCK)
def llm_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF vector-space cosine similarity for same-source document
    pairs — the bag-of-words twin of llm_idf_weighted_jaccard (that op
    scores weighted SET overlap; this one scores the weighted
    FREQUENCY vectors, so a doc that repeats a rare term twice counts
    it twice). Top-20 pairs at >= 0.3. EXACT-COLLAPSE FIRST: identical
    (source, text) docs keep one representative before any pairing —
    exact dups are hash-dedup's job (llm_exact_dedup), and without the
    collapse the token-key pair join is quadratic in duplicate
    multiplicity (measured 69x at 10x on the 90%-dup amplified corpus;
    with it the pair population is distinct-text-bounded). The corpus-sized (doc, token,
    weight) stage is CACHED and read by the norm pass and both pair
    sides; the |vocab|-grain idf join broadcasts at 100 TB; the pair
    join is source-blocked + token-key co-partitioned."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    tf = spark.sql(
        """
        SELECT doc_id, source, token, CAST(count(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, source, explode(split(text, ' ')) AS token
              FROM (SELECT min(doc_id) AS doc_id, source, text
                    FROM documents GROUP BY source, text))
        GROUP BY doc_id, source, token
        """
    ).cache()
    tf.createOrReplaceTempView("__tfc_tf")
    w = spark.sql(
        """
        SELECT t.doc_id, t.source, t.token,
               t.tf * ln((SELECT CAST(count(DISTINCT doc_id) AS DOUBLE)
                          FROM __tfc_tf) / i.df) AS wt
        FROM __tfc_tf t
        JOIN (SELECT token, count(DISTINCT doc_id) AS df
              FROM __tfc_tf GROUP BY token) i ON i.token = t.token
        """
    ).cache()
    w.createOrReplaceTempView("__tfc_w")
    # r17 prune attempt (r16 verdict task #5), MEASURED VACUOUS and not
    # shipped: both exact §3-style pruning levers were quantified on the
    # corpus before restructuring the join — (a) document-frequency
    # pruning (a (source, token) key with one row can never pair) removes
    # 0 of 116,231 pair-side rows at sf0.1 (all 620 keys have >= 2 docs;
    # min df ≈ 187), and (b) zero-idf token removal (wt = 0 contributes
    # +0.0 to every dot, bit-exact to drop) removes 0 of 31 tokens
    # (max df 3,923 of 5,000 docs). The vocabulary is 31 dense tokens, so
    # every prune's candidate set is empty while its key-set aggregate +
    # two semi-joins would cost real passes. Weight-bound prefix filtering
    # was rejected as before: it reorders the surviving pairs' float
    # summation at the round-6 boundary. The token-grain pair join IS the
    # standard sparse dot at this density.
    return spark.sql(
        """
        SELECT d.doc_a, d.doc_b,
               round(d.dot / (na.nm * nb.nm), 6) AS tfidf_cosine
        FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     sum(a.wt * b.wt) AS dot
              FROM __tfc_w a
              JOIN __tfc_w b ON b.source = a.source AND b.token = a.token
                            AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id) d
        JOIN (SELECT doc_id, sqrt(sum(wt * wt)) AS nm
              FROM __tfc_w GROUP BY doc_id) na ON na.doc_id = d.doc_a
        JOIN (SELECT doc_id, sqrt(sum(wt * wt)) AS nm
              FROM __tfc_w GROUP BY doc_id) nb ON nb.doc_id = d.doc_b
        WHERE d.dot / (na.nm * nb.nm) >= 0.3
        ORDER BY tfidf_cosine DESC, d.doc_a, d.doc_b
        LIMIT 20
        """
    )
