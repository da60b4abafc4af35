"""Training-data curation & mixture operators (SURVEY.md §2.11):
sequence packing, hash train/val/test splits, window chunking, source
mixture / temperature reweighting / DoReMi steps, curriculum buckets,
stratified / importance / DSIR sampling, epoch repetition plans, scaling
curves, curation funnels, span-corruption stats, RAG context packing,
preference pairs, token-budget allocation, dataset cards.

Scale notes (100 TB): per-source aggregates ride one shuffle; sampling
is hash-deterministic (no RNG state); anything per-document collapses to
distinct-content grain first (r13 exact-collapse rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import register
from ..operators._util import ratio, sql_q, t
from ._llm_shared import _DOT_ORACLE


@register(
    "llm_seq_packing",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        FROM documents),
    packed AS (
        SELECT source, doc_id, n_tok,
               CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - n_tok) / 512) AS BIGINT) AS bin_id
        FROM toks)
    SELECT source, bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY source, bin_id
    """,
)
def llm_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM training batches: docs stream into
    512-token bins per source in deterministic doc_id order — bin id =
    floor(preceding-token-cumsum / 512), the standard streaming
    first-fit used by training-data pipelines (bins can overflow by one
    doc; no doc is split). One shuffle on source for the cumsum window;
    at 100 TB packing runs per input shard and bin ids offset by shard."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = d.select(
        "source",
        "n_tok",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / 512).alias("bin_id"),
    )
    return packed.groupBy("source", "bin_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("bin_tokens"),
    )


@register(
    "llm_hash_split",
    oracle="""
    WITH tagged AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents),
    totals AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tagged)
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens,
           round(CAST(count(*) AS DOUBLE) / max(total), 6) AS frac
    FROM tagged, totals
    GROUP BY split
    """,
)
def llm_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content-stable hash bucket:
    the first two md5 hex chars of the doc key partition the corpus
    ~80/10/10 ('00'-'cb' / 'cc'-'e5' / 'e6'-'ff' of 256 buckets). The
    assignment is a map-side expression — no shuffle, no RNG state, and
    re-running over 100 TB (or over tomorrow's corpus) lands every
    surviving doc in the same split; only the tiny 3-group agg shuffles."""
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    tagged = t(spark, sf_dir, "documents").select(
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        F.when(bucket < "cc", "train").when(bucket < "e6", "val").otherwise("test").alias("split"),
    )
    w_all = Window.partitionBy()
    return (
        tagged.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("total_tokens"))
        .withColumn("frac", ratio(F.col("n_docs") / F.sum("n_docs").over(w_all)))
    )


@register(
    "llm_window_chunking",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        WHERE text IS NOT NULL),
    chunks AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_tok,
               unnest(list_transform(
                   generate_series(0, CAST(greatest(ceil((len(tk) - 64) / 48e0), 0) AS BIGINT)),
                   c -> struct_pack(
                       chunk_id := c,
                       chunk_tokens := CAST(least(64, len(tk) - c * 48) AS BIGINT),
                       chunk_text := array_to_string(tk[c*48 + 1 : c*48 + 64], ' ')))) AS ch
        FROM base)
    SELECT doc_id, n_tok,
           CAST(ch.chunk_id AS BIGINT) AS chunk_id,
           ch.chunk_tokens, md5(ch.chunk_text) AS chunk_md5
    FROM chunks
    """,
)
def llm_window_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking for LLM training/RAG ingest: each document
    splits into 64-token windows with stride 48 (16-token overlap), the
    standard sliding-window prep for models with a fixed context. The
    chunk count per doc is ceil((n-64)/48)+1 (always ≥1 — short docs
    yield one partial chunk). Pure map-side transform+explode — no
    shuffle at all; at 100 TB chunking streams through the scan and the
    output is written partition-local. Chunk text is md5'd in the result
    so the oracle compares content identity without hauling strings.
    NULL text yields zero chunks on both sides (r15 null sweep — and a
    portability exhibit: Spark's greatest/least SKIP null arguments
    while DuckDB's propagate them, so the unfiltered chunk-count
    formula emitted one md5('')-chunk in Spark and none in DuckDB)."""
    base = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .select("doc_id", F.split(F.col("text"), " ").alias("tk"))
    )
    chunks = base.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tok"),
        F.explode(
            F.expr(
                "transform(sequence(0, int(greatest(ceil((size(tk) - 64) / 48e0), 0))),"
                " c -> struct(bigint(c) AS chunk_id,"
                "            bigint(least(64, size(tk) - c * 48)) AS chunk_tokens,"
                "            concat_ws(' ', slice(tk, c * 48 + 1, 64)) AS chunk_text))"
            )
        ).alias("ch"),
    )
    return chunks.select(
        "doc_id",
        "n_tok",
        F.col("ch.chunk_id").alias("chunk_id"),
        F.col("ch.chunk_tokens").alias("chunk_tokens"),
        F.md5(F.col("ch.chunk_text")).alias("chunk_md5"),
    )


@register(
    "llm_source_mixture",
    oracle="""
    WITH per_source AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
    tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS total_tokens,
                   CAST(count(*) AS DOUBLE) AS n_sources
            FROM per_source)
    SELECT source, n_docs, n_tokens,
           round(n_tokens / total_tokens, 6) AS token_share,
           round((total_tokens / n_sources) / n_tokens, 6) AS uniform_upsample
    FROM per_source, tot
    """,
)
def llm_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture accounting per source: token counts, the source's
    share of the corpus, and the repeat factor that would equalize every
    source to a uniform token budget (the number data-mixing configs are
    built from — >1 means upsample, <1 means downsample). Token counting
    is map-side; one shuffle to the ~20 source groups; the corpus total
    joins back as a broadcast of the tiny aggregate, not a global window."""
    per_source = (
        t(spark, sf_dir, "documents")
        .select("source", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
    )
    tot = per_source.agg(
        F.sum("n_tokens").cast("double").alias("total_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_sources"),
    )
    return per_source.join(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        ratio(F.col("n_tokens") / F.col("total_tokens")).alias("token_share"),
        ratio((F.col("total_tokens") / F.col("n_sources")) / F.col("n_tokens")).alias(
            "uniform_upsample"
        ),
    )


@register(
    "llm_curriculum_buckets",
    oracle="""
    WITH scored AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')), 6) AS ttr
        FROM documents),
    cuts AS (
        SELECT round(quantile_cont(ttr, 0.25), 9) AS q1,
               round(quantile_cont(ttr, 0.50), 9) AS q2,
               round(quantile_cont(ttr, 0.75), 9) AS q3
        FROM scored),
    phased AS (
        SELECT s.n_tok, s.ttr,
               CAST(1 + CAST(s.ttr > c.q1 AS INT)
                      + CAST(s.ttr > c.q2 AS INT)
                      + CAST(s.ttr > c.q3 AS INT) AS INT) AS phase
        FROM scored s CROSS JOIN cuts c)
    SELECT phase,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS phase_tokens,
           round(avg(ttr), 6) AS avg_ttr,
           round(min(ttr), 6) AS min_ttr,
           round(max(ttr), 6) AS max_ttr
    FROM phased GROUP BY phase
    """,
)
def llm_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum bucketing: score the corpus by a quality proxy
    (type-token ratio) and cut it into 4 quantile-bounded training phases
    with per-phase token budgets — the phase assignment curriculum
    schedules consume. Scale shape: quartile CUTPOINTS are computed once
    as a 1-row aggregate (exact ``percentile`` here, mergeable
    ``approx_percentile``/t-digest at 100 TB), broadcast, and every doc is
    bucketed MAP-SIDE by comparing against them — no global sort, no
    unpartitioned window, the only corpus-wide shuffle is the final
    4-group aggregate. (Round-2 version used a global ``ntile(4)`` — a
    single-task whole-corpus sort at scale; VERDICT r2 item #5.)
    Cutpoints are rounded to 9 dp on both sides so a 1-ulp interpolation
    difference between Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` can't flip a boundary comparison (ttr itself is on
    a 1e-6 grid)."""
    scored = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
        ratio(
            F.size(F.array_distinct(F.split(F.col("text"), " ")))
            / F.size(F.split(F.col("text"), " "))
        ).alias("ttr"),
    )
    cuts = scored.agg(
        F.round(F.expr("percentile(ttr, 0.25)"), 9).alias("q1"),
        F.round(F.expr("percentile(ttr, 0.50)"), 9).alias("q2"),
        F.round(F.expr("percentile(ttr, 0.75)"), 9).alias("q3"),
    )
    phased = scored.crossJoin(F.broadcast(cuts)).select(
        "n_tok",
        "ttr",
        (
            F.lit(1)
            + (F.col("ttr") > F.col("q1")).cast("int")
            + (F.col("ttr") > F.col("q2")).cast("int")
            + (F.col("ttr") > F.col("q3")).cast("int")
        ).cast("int").alias("phase"),
    )
    return phased.groupBy("phase").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("phase_tokens"),
        ratio(F.avg("ttr")).alias("avg_ttr"),
        ratio(F.min("ttr")).alias("min_ttr"),
        ratio(F.max("ttr")).alias("max_ttr"),
    )


@register(
    "llm_stratified_sample",
    oracle="""
    WITH tagged AS (
      SELECT doc_id, lang,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS h,
             CASE lang WHEN 'en' THEN '80'
                       WHEN 'de' THEN 'c0'
                       WHEN 'fr' THEN 'c0'
                       WHEN 'es' THEN '40'
                       ELSE 'ff' END AS cut
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(*) FILTER (WHERE h < cut) AS BIGINT) AS n_kept,
           round(CAST(count(*) FILTER (WHERE h < cut) AS DOUBLE) / count(*), 6)
               AS kept_frac
    FROM tagged GROUP BY lang
    """,
)
def llm_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language stratified downsampling — the corpus-
    rebalancing step of a training-data pipeline (downweight the dominant
    language, keep the rare ones whole). Selection is content-addressed:
    keep a doc iff the md5(doc_id) hex prefix falls below the stratum's
    cut (en 50%, de/fr 75%, es 25%, zh 100%) — reproducible across runs
    and engines, no RNG, no shuffle beyond the one counting aggregate,
    and trivially parallel at 100 TB (a map-side filter)."""
    d = t(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    cut = (
        F.when(F.col("lang") == "en", "80")
        .when(F.col("lang").isin("de", "fr"), "c0")
        .when(F.col("lang") == "es", "40")
        .otherwise("ff")
    )
    kept = F.count(F.when(h < cut, F.lit(1)))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        kept.alias("n_kept"),
        ratio(kept.cast("double") / F.count(F.lit(1))).alias("kept_frac"),
    )


@register(
    "llm_oversample_minority",
    oracle="""
    WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
    m AS (SELECT max(n) AS mx FROM c),
    f AS (SELECT lang, n, CAST(mx // n AS BIGINT) AS factor FROM c CROSS JOIN m),
    up AS (
      SELECT d.lang
      FROM documents d JOIN f ON d.lang = f.lang,
           UNNEST(generate_series(1, f.factor)) AS t(rep)),
    g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_after FROM up GROUP BY lang)
    SELECT f.lang, f.n AS n_before, f.factor, g.n_after
    FROM f JOIN g ON f.lang = g.lang
    """,
)
def llm_oversample_minority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minority-class oversampling for training-mix balancing (the upsample
    complement to llm_stratified_sample's downsample): per-language repeat
    factor = floor(majority_count / class_count), each minority doc
    replicated factor times by exploding a sequence — deterministic, no
    RNG, rerun-stable. The audit returns before/factor/after per language,
    computed FROM the exploded data (proving the mechanism, not just the
    arithmetic). Scale shape: class counts are a tiny agg; the explode is
    map-side (each row fans out locally, no shuffle until the final
    |langs|-row count), so oversampling 100 TB streams through executors
    without materializing the upsampled corpus anywhere."""
    docs = t(spark, sf_dir, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mx = counts.agg(F.max("n").alias("mx"))
    factors = counts.crossJoin(F.broadcast(mx)).select(
        "lang", "n", F.expr("mx div n").alias("factor")  # exact int division
    )
    up = (
        docs.select("lang")
        .join(F.broadcast(factors), "lang")
        .select("lang", F.explode(F.expr("sequence(1, factor)")).alias("rep"))
    )
    after = up.groupBy("lang").agg(F.count(F.lit(1)).alias("n_after"))
    return (
        factors.join(after, "lang")
        .select("lang", F.col("n").alias("n_before"), "factor", "n_after")
    )


@register(
    "llm_kl_divergence_split",
    oracle="""
    WITH toks AS (
      SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train' ELSE 'heldout' END AS split,
             unnest(string_split(text, ' ')) AS tok
      FROM documents),
    cnt AS (
      SELECT split, tok, CAST(count(*) AS BIGINT) AS c
      FROM toks GROUP BY split, tok),
    wide AS (
      SELECT tok,
             CAST(coalesce(sum(c) FILTER (split = 'train'), 0) + 1 AS BIGINT) AS ctr,
             CAST(coalesce(sum(c) FILTER (split = 'heldout'), 0) + 1 AS BIGINT) AS chd
      FROM cnt GROUP BY tok),
    tot AS (
      SELECT CAST(sum(ctr) AS DOUBLE) AS ttr, CAST(sum(chd) AS DOUBLE) AS thd
      FROM wide)
    SELECT CAST(count(*) AS BIGINT) AS vocab,
           round(sum((ctr / ttr) * ln((ctr / ttr) / (chd / thd))), 6) AS kl_train_vs_heldout
    FROM wide CROSS JOIN tot
    """,
)
def llm_kl_divergence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift audit: KL(P_train ‖ P_heldout) over the token
    unigram distributions of a deterministic content-hash split (same
    80/20 md5 cut as llm_hash_split), with add-1 smoothing so the
    divergence is finite on asymmetric vocabulary. This is the drift gate
    run before trusting a heldout set (or yesterday's corpus vs today's):
    a KL spike means the split is not exchangeable. Scale shape: one
    explode→(split, token) count agg (map-side partials; the shuffle
    carries distinct tokens), a vocabulary-sized pivot, and a 1-row total
    — the corpus is touched once. ln() differs across engines by ≤1 ulp
    per term; the vocabulary-sum's accumulated error (~1e-12) vanishes in
    the round-6 contract."""
    toks = t(spark, sf_dir, "documents").select(
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cc", "train"
        )
        .otherwise("heldout")
        .alias("split"),
        F.explode(F.split("text", " ")).alias("tok"),
    )
    cnt = toks.groupBy("split", "tok").agg(F.count(F.lit(1)).alias("c"))
    wide = cnt.groupBy("tok").agg(
        (F.coalesce(F.sum(F.when(F.col("split") == "train", F.col("c"))), F.lit(0)) + 1)
        .cast("long")
        .alias("ctr"),
        (F.coalesce(F.sum(F.when(F.col("split") == "heldout", F.col("c"))), F.lit(0)) + 1)
        .cast("long")
        .alias("chd"),
    )
    tot = wide.agg(
        F.sum("ctr").cast("double").alias("ttr"),
        F.sum("chd").cast("double").alias("thd"),
    )
    p = F.col("ctr") / F.col("ttr")
    q = F.col("chd") / F.col("thd")
    return (
        wide.crossJoin(F.broadcast(tot))
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            ratio(F.sum(p * F.log(p / q))).alias("kl_train_vs_heldout"),
        )
    )


@register(
    "llm_preference_pairs",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS ttr
      FROM documents)
    SELECT source,
           max_by(doc_id, CAST(round(ttr * 1e6, 0) AS BIGINT) * 10000000000
                          - doc_id) AS chosen_doc,
           min_by(doc_id, CAST(round(ttr * 1e6, 0) AS BIGINT) * 10000000000
                          + doc_id) AS rejected_doc,
           round(max(ttr) - min(ttr), 6) AS score_margin,
           CAST(count(*) AS BIGINT) AS n_candidates
    FROM scored GROUP BY source
    """,
)
def llm_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining for RLHF/DPO-style training: within each
    candidate group (source stands in for the prompt id) pick the
    highest- and lowest-quality response by a deterministic score
    (type-token ratio), emit (chosen, rejected) with the score margin.
    One hash-shuffle on the group key; ``max_by``/``min_by`` on a single
    int64 composite key (6-dp score scaled to an exact integer, doc-id
    tie-break folded into the low digits — DuckDB 1.0's arg-min takes
    only scalar keys) keep the pair selection engine-exact. At 100 TB the
    same plan shape mines pairs per prompt over billions of candidates —
    no sort, no window, pure single-pass aggregate."""
    scored = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        ratio(
            F.size(F.array_distinct(F.split("text", " ")))
            / F.size(F.split("text", " "))
        ).alias("ttr"),
    )
    key = "cast(round(ttr * 1e6, 0) as bigint) * 10000000000"
    return scored.groupBy("source").agg(
        F.expr(f"max_by(doc_id, {key} - doc_id)").alias("chosen_doc"),
        F.expr(f"min_by(doc_id, {key} + doc_id)").alias("rejected_doc"),
        ratio(F.max("ttr") - F.min("ttr")).alias("score_margin"),
        F.count(F.lit(1)).alias("n_candidates"),
    )


@register(
    "llm_importance_resample",
    oracle="""
    WITH lc AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
    m AS (SELECT min(c) AS mc FROM lc),
    w AS (SELECT lang, c, CAST(mc AS DOUBLE) / c AS keep_p FROM lc CROSS JOIN m),
    dec AS (
      SELECT d.lang, w.c, w.keep_p,
             CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                            AS BIGINT) / 4294967296e0 < w.keep_p
                  THEN 1 ELSE 0 END AS kept
      FROM documents d JOIN w ON d.lang = w.lang)
    SELECT lang, CAST(max(c) AS BIGINT) AS n_before,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           round(max(keep_p), 6) AS keep_p
    FROM dec GROUP BY lang
    """,
)
def llm_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance resampling to a uniform language mixture — the data-mixing
    primitive for rebalancing a skewed pre-training corpus WITHOUT RNG
    state: per-language acceptance probability = min_lang_count / count,
    and each document's accept/reject draw is the content-stable md5
    uniform u(doc_id) ∈ [0,1) (same convention as llm_hash_split), so the
    decision is a map-side expression that reproduces row-for-row on
    re-runs and on tomorrow's corpus. Scale shape: one bounded-cardinality
    lang aggregate broadcast back to the stream (the 1-row min() cross
    join is a plan-hygiene-allowlisted bounded broadcast); the corpus
    itself never shuffles — at 100 TB the decision is embarrassingly
    parallel and the output is the audit table (kept counts converge to
    n_langs × min count)."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH lc AS (SELECT lang, count(*) AS c FROM documents GROUP BY lang),
        m AS (SELECT min(c) AS mc FROM lc),
        w AS (SELECT /*+ BROADCAST(m) */ lang, c,
                     CAST(mc AS DOUBLE) / c AS keep_p FROM lc CROSS JOIN m),
        dec AS (
          SELECT /*+ BROADCAST(w) */ d.lang, w.c, w.keep_p,
                 CASE WHEN CAST(conv(substr(md5(CAST(d.doc_id AS STRING)), 1, 8),
                                     16, 10) AS BIGINT) / 4294967296e0 < w.keep_p
                      THEN 1 ELSE 0 END AS kept
          FROM documents d JOIN w ON d.lang = w.lang)
        SELECT lang, CAST(max(c) AS BIGINT) AS n_before,
               CAST(sum(kept) AS BIGINT) AS n_kept,
               round(max(keep_p), 6) AS keep_p
        FROM dec GROUP BY lang
        """,
    )


@register(
    "llm_epoch_repetition_plan",
    oracle="""
    WITH src AS (
      SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source),
    tot AS (SELECT sum(n_tokens) AS t, count(*) AS ns FROM src)
    SELECT source, n_tokens,
           CAST(ceil(CAST(t AS DOUBLE) / ns) AS BIGINT) AS target_tokens,
           CAST(least(4, greatest(1,
                CAST(ceil((CAST(t AS DOUBLE) / ns) / n_tokens) AS BIGINT)))
             AS BIGINT) AS epochs,
           CAST(n_tokens * least(4, greatest(1,
                CAST(ceil((CAST(t AS DOUBLE) / ns) / n_tokens) AS BIGINT)))
             AS BIGINT) AS planned_tokens
    FROM src CROSS JOIN tot
    """,
)
def llm_epoch_repetition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained training mixture planning (Muennighoff et al. 2023,
    arXiv 2305.16264: repeating data beats nothing up to ~4 epochs): give
    every source an equal token budget, and plan per-source repetition
    epochs = ceil(target / actual) clamped to [1, 4] — small high-quality
    sources repeat, large sources train single-epoch. All arithmetic is
    exact integer token counts against a 1-row corpus-total broadcast
    (plan-hygiene allowlisted); at 100 TB this is one bounded source-grain
    aggregate, the same shape as llm_source_mixture."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH src AS (
          SELECT source, CAST(sum(size(split(text, ' '))) AS BIGINT) AS n_tokens
          FROM documents GROUP BY source),
        tot AS (SELECT sum(n_tokens) AS t, count(*) AS ns FROM src)
        SELECT source, n_tokens,
               CAST(ceil(CAST(t AS DOUBLE) / ns) AS BIGINT) AS target_tokens,
               CAST(least(4, greatest(1,
                    CAST(ceil((CAST(t AS DOUBLE) / ns) / n_tokens) AS BIGINT)))
                 AS BIGINT) AS epochs,
               CAST(n_tokens * least(4, greatest(1,
                    CAST(ceil((CAST(t AS DOUBLE) / ns) / n_tokens) AS BIGINT)))
                 AS BIGINT) AS planned_tokens
        FROM src CROSS JOIN tot
        """,
    )


@register(
    "llm_dataset_stats_card",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, lang, n_chars,
             len(string_split(text, ' ')) AS n_tok,
             md5(lower(trim(text))) AS h
      FROM documents),
    lc AS (SELECT source, lang, count(*) AS n FROM tok GROUP BY source, lang),
    tot AS (SELECT source, sum(n) AS tn FROM lc GROUP BY source),
    ent2 AS (
      SELECT lc.source,
             round(-sum((CAST(n AS DOUBLE) / tn) * log2(CAST(n AS DOUBLE) / tn)), 6)
               AS lang_entropy
      FROM lc JOIN tot ON lc.source = tot.source
      GROUP BY lc.source),
    docstats AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(min(n_tok) AS BIGINT) AS min_tokens,
             CAST(max(n_tok) AS BIGINT) AS max_tokens,
             round(avg(n_chars), 2) AS avg_chars,
             CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups
      FROM tok GROUP BY source)
    SELECT d.source, d.n_docs, d.total_tokens, d.min_tokens, d.max_tokens,
           d.avg_chars, d.n_exact_dups, e.lang_entropy
    FROM docstats d JOIN ent2 e ON d.source = e.source
    """,
)
def llm_dataset_stats_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-call dataset card per source (the datasheet/model-card summary
    table a curation pipeline publishes with every corpus snapshot):
    document and token volumes, length extremes, exact-duplicate count
    (normalized-hash distinct), and language-mix entropy. Single pass
    over documents + one bounded (source × lang) aggregate; everything
    map-side-combinable. The point of the composite is operational: one
    cheap job after every ingest, diffed against yesterday's card, is
    the earliest drift alarm a 100 TB pipeline has."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH tok AS (
          SELECT doc_id, source, lang, n_chars,
                 size(split(text, ' ')) AS n_tok,
                 md5(lower(trim(text))) AS h
          FROM documents),
        lc AS (SELECT source, lang, count(*) AS n FROM tok GROUP BY source, lang),
        tot AS (SELECT source, sum(n) AS tn FROM lc GROUP BY source),
        ent2 AS (
          SELECT lc.source,
                 round(-sum((CAST(n AS DOUBLE) / tn) * log2(CAST(n AS DOUBLE) / tn)), 6)
                   AS lang_entropy
          FROM lc JOIN tot ON lc.source = tot.source
          GROUP BY lc.source),
        docstats AS (
          SELECT source, count(*) AS n_docs,
                 CAST(sum(n_tok) AS BIGINT) AS total_tokens,
                 CAST(min(n_tok) AS BIGINT) AS min_tokens,
                 CAST(max(n_tok) AS BIGINT) AS max_tokens,
                 round(avg(n_chars), 2) AS avg_chars,
                 CAST(count(*) - count(DISTINCT h) AS BIGINT) AS n_exact_dups
          FROM tok GROUP BY source)
        SELECT d.source, d.n_docs, d.total_tokens, d.min_tokens, d.max_tokens,
               d.avg_chars, d.n_exact_dups, e.lang_entropy
        FROM docstats d JOIN ent2 e ON d.source = e.source
        """,
    )


@register(
    "llm_rag_context_pack",
    oracle=f"""
    WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
    top20 AS (
      SELECT e.vec_id,
             round({_DOT_ORACLE.format(a='e.embedding', b='p')}, 6) AS sim
      FROM embeddings e, probe WHERE e.vec_id <> 0
      ORDER BY sim DESC, e.vec_id LIMIT 20),
    ranked AS (
      SELECT vec_id, sim,
             row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
      FROM top20),
    sized AS (
      SELECT r.rnk, r.vec_id, r.sim,
             len(string_split(d.text, ' ')) AS n_tok
      FROM ranked r JOIN documents d ON d.doc_id = r.vec_id % 500),
    packed AS (
      SELECT rnk, vec_id, sim, n_tok,
             sum(n_tok) OVER (ORDER BY rnk
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_tok
      FROM sized)
    SELECT CAST(rnk AS INT) AS rnk, vec_id, sim, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(cum_tok AS BIGINT) AS cum_tok
    FROM packed WHERE cum_tok <= 600
    """,
)
def llm_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context-window packing: retrieve the probe's top-20 by cosine,
    join each hit to its document's token count, and greedily admit hits
    in relevance order until the context budget (600 tokens) is full —
    the retrieve→budget→pack step every RAG serving stack runs between
    ANN and the model call. The greedy prefix is a running-sum window
    over the RANKED TOP-20 only (bounded grain, not corpus), so the
    packing itself is O(k); the retrieval scan is llm_sim_topk's
    broadcast-probe plan. Deterministic: round-6 sims, vec_id
    tiebreaks, exact integer token counts."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH probe AS (SELECT embedding AS p FROM embeddings WHERE vec_id = 0),
        top20 AS (
          SELECT /*+ BROADCAST(probe) */ e.vec_id,
                 round(aggregate(
                         zip_with(e.embedding, p,
                                  (x, y) -> cast(x AS double) * cast(y AS double)),
                         cast(0.0 AS double), (acc, v) -> acc + v), 6) AS sim
          FROM embeddings e CROSS JOIN probe WHERE e.vec_id <> 0
          ORDER BY sim DESC, e.vec_id LIMIT 20),
        ranked AS (
          SELECT vec_id, sim,
                 row_number() OVER (ORDER BY sim DESC, vec_id) AS rnk
          FROM top20),
        sized AS (
          SELECT r.rnk, r.vec_id, r.sim,
                 size(split(d.text, ' ')) AS n_tok
          FROM ranked r JOIN documents d ON d.doc_id = r.vec_id % 500),
        packed AS (
          SELECT rnk, vec_id, sim, n_tok,
                 sum(n_tok) OVER (ORDER BY rnk
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum_tok
          FROM sized)
        SELECT CAST(rnk AS INT) AS rnk, vec_id, sim, CAST(n_tok AS BIGINT) AS n_tok,
               CAST(cum_tok AS BIGINT) AS cum_tok
        FROM packed WHERE cum_tok <= 600
        """,
    )


def _lc_oracle() -> str:
    """Learning-curve oracle: the naive-Bayes fixed-point pipeline of
    ml_naive_bayes_langid replayed at four md5-prefix train fractions
    against one fixed held-out eval slice."""
    return """
    WITH tok AS (
      SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS b2,
             t.token
      FROM documents, unnest(string_split(text, ' ')) AS t(token)
      WHERE t.token <> ''),
    cuts AS (SELECT unnest(['33', '66', '99', 'cc']) AS cut),
    cnt AS (
      SELECT c.cut, t.lang, t.token, count(*) AS c FROM tok t
      JOIN cuts c ON t.b2 < c.cut GROUP BY c.cut, t.lang, t.token),
    tot AS (
      SELECT c.cut, t.lang, count(*) AS tt FROM tok t
      JOIN cuts c ON t.b2 < c.cut GROUP BY c.cut, t.lang),
    vocab AS (
      SELECT c.cut, count(DISTINCT t.token) AS v FROM tok t
      JOIN cuts c ON t.b2 < c.cut GROUP BY c.cut),
    prior AS (
      SELECT c.cut, t.lang, count(DISTINCT t.doc_id) AS d FROM tok t
      JOIN cuts c ON t.b2 < c.cut GROUP BY c.cut, t.lang),
    dtot AS (SELECT cut, sum(d) AS dt FROM prior GROUP BY cut),
    evaltok AS (
      SELECT doc_id, lang AS actual_lang, token FROM tok
      WHERE b2 >= 'e6' AND doc_id < 50000),
    scored AS (
      SELECT t.cut, e.doc_id, e.actual_lang, t.lang AS cand_lang,
             sum(CAST(round(ln((COALESCE(c.c, 0) + 1.0) / (t.tt + v.v)) * 1000000)
                      AS BIGINT)) AS ll
      FROM evaltok e
      JOIN tot t ON true
      JOIN vocab v ON v.cut = t.cut
      LEFT JOIN cnt c ON c.cut = t.cut AND c.lang = t.lang AND c.token = e.token
      GROUP BY t.cut, e.doc_id, e.actual_lang, t.lang),
    final AS (
      SELECT s.cut, s.doc_id, s.actual_lang, s.cand_lang,
             s.ll + CAST(round(ln(CAST(p.d AS DOUBLE) / dt.dt) * 1000000) AS BIGINT)
               AS score
      FROM scored s
      JOIN prior p ON p.cut = s.cut AND p.lang = s.cand_lang
      JOIN dtot dt ON dt.cut = s.cut),
    pred AS (
      SELECT cut, doc_id, actual_lang, cand_lang AS pred_lang,
             row_number() OVER (PARTITION BY cut, doc_id
                                ORDER BY score DESC, cand_lang) AS rn
      FROM final)
    SELECT p2.cut, CAST(max(dt2.dt) AS BIGINT) AS train_docs,
           count(*) AS eval_docs,
           round(avg(CASE WHEN p2.pred_lang = p2.actual_lang
                          THEN 1.0 ELSE 0.0 END), 6) AS accuracy
    FROM pred p2 JOIN dtot dt2 ON dt2.cut = p2.cut
    WHERE p2.rn = 1
    GROUP BY p2.cut
    """


@register("llm_data_scaling_curve", oracle=_lc_oracle())
def llm_data_scaling_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-scaling learning curve: the integer-quantized naive-Bayes
    language-ID model (ml_naive_bayes_langid's fixed-point trick) trained
    at FOUR nested md5-prefix fractions of the corpus (~20/40/60/80%) and
    scored on one fixed held-out slice — accuracy-vs-data is the
    empirical scaling curve that decides whether the next 10 TB of
    curation is worth buying (the neural-scaling-laws measurement
    protocol applied to a cheap proxy model). Nested content-stable
    subsets mean every curve point trains on a superset of the previous
    one, exactly like production data-ablation studies. Plan (round 13,
    exact-collapse-first): copies collapse to DISTINCT (md5(text), lang)
    content groups FIRST — one representative is tokenized per group, and
    per-(group, cut) train-copy multiplicities are counted with a plain
    scan + 4-row broadcast theta join (no token explode). Every model
    statistic is then an exact integer product-sum over group grain:
    cnt(cut,lang,token) = Σ_h k(h,token)·m(h,cut) (identical copies
    contribute identical token counts), prior = Σ_h m, vocab = distinct
    rep tokens with m>0. The corpus-sized token explode that previously
    dominated (cached 100×-corpus explode → 72.5 s) disappears; tokenized
    volume now tracks DISTINCT content exactly like the minhash/knn tier,
    and on a low-duplication corpus the collapse degrades to the one
    md5(text) group-by shuffle every exact-collapse op already pays.
    Results are provably identical, so the ORACLE is unchanged.
    Each stage reaches the next ``spark.sql`` as an uncached DataFrame
    argument; the vocabulary and token totals derive from ``cnt``, so
    the k ⋈ m join runs once (BASELINE.md, "llm_mix and llm_text stage
    nothing")."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    # per-(content group, cut) train multiplicity: linear scan, no explode
    m = spark.sql(
        """
        SELECT md5(d.text) AS h, d.lang, c.cut, count(*) AS m
        FROM documents d
        JOIN (SELECT explode(array('33', '66', '99', 'cc')) AS cut) c
          ON substr(md5(CAST(d.doc_id AS STRING)), 1, 2) < c.cut
        WHERE d.text IS NOT NULL
        GROUP BY md5(d.text), d.lang, c.cut
        """
    )
    # one representative text per content group, tokenized ONCE
    k = spark.sql(
        """
        SELECT r.h, r.lang, token, count(*) AS k
        FROM (SELECT md5(text) AS h, lang, min(doc_id) AS rep_doc
              FROM documents WHERE text IS NOT NULL
              GROUP BY md5(text), lang) r
        JOIN documents d ON d.doc_id = r.rep_doc
        LATERAL VIEW explode(split(d.text, ' ')) AS token
        WHERE token <> ''
        GROUP BY r.h, r.lang, token
        """
    )
    cnt = spark.sql(
        """
        SELECT m.cut, k.lang, k.token, sum(k.k * m.m) AS c
        FROM {k} k JOIN {m} m ON m.h = k.h AND m.lang <=> k.lang
        GROUP BY m.cut, k.lang, k.token
        """,
        k=k,
        m=m,
    )
    prior = spark.sql(
        "SELECT cut, lang, sum(m) AS d FROM {m} GROUP BY cut, lang", m=m
    )
    dtot = spark.sql(
        "SELECT cut, sum(d) AS dt FROM {prior} GROUP BY cut", prior=prior
    )
    # Eval slice bounded BY CONSTRUCTION (round 11): the md5-bucket slice
    # alone scales with the corpus, so capping it to doc_id < 50000 fixes
    # its size at any scale (a no-op at every test tier — max doc_id 4999)
    # exactly like llm_ann_recall_eval's probe cap. Sampled fixed-size
    # eval sets are the scaling-law-measurement norm; the oracle applies
    # the same predicate. Tokenized DIRECTLY from the filtered documents
    # scan (round 13) — the filter reaches the parquet scan instead of an
    # already-exploded corpus-sized token stage.
    return spark.sql(
        """
        SELECT p2.cut, CAST(max(dt2.dt) AS BIGINT) AS train_docs,
               count(*) AS eval_docs,
               round(avg(CASE WHEN p2.pred_lang = p2.actual_lang
                              THEN CAST(1.0 AS DOUBLE)
                              ELSE CAST(0.0 AS DOUBLE) END), 6) AS accuracy
        FROM (
          SELECT cut, doc_id, actual_lang, cand_lang AS pred_lang,
                 row_number() OVER (PARTITION BY cut, doc_id
                                    ORDER BY score DESC, cand_lang) AS rn
          FROM (
            SELECT s.cut, s.doc_id, s.actual_lang, s.cand_lang,
                   s.ll + CAST(round(ln(CAST(p.d AS DOUBLE) / dt.dt) * 1000000)
                               AS BIGINT) AS score
            FROM (
              SELECT t.cut, e.doc_id, e.actual_lang, t.lang AS cand_lang,
                     -- eval tokens pre-aggregated to (doc, token) counts:
                     -- ke identical integer terms sum as ke * term (exact)
                     sum(e.ke * CAST(round(ln((COALESCE(c.c, 0) + 1.0)
                                              / (t.tt + v.v))
                                    * 1000000) AS BIGINT)) AS ll
              FROM (SELECT doc_id, lang AS actual_lang, token,
                           count(*) AS ke
                    FROM documents
                    LATERAL VIEW explode(split(text, ' ')) AS token
                    WHERE token <> ''
                      AND substr(md5(CAST(doc_id AS STRING)), 1, 2) >= 'e6'
                      AND doc_id < 50000
                    GROUP BY doc_id, lang, token) e
              JOIN (SELECT cut, lang, sum(c) AS tt FROM {cnt}
                    GROUP BY cut, lang) t ON true
              JOIN (SELECT cut, count(DISTINCT token) AS v FROM {cnt}
                    GROUP BY cut) v ON v.cut = t.cut
              LEFT JOIN {cnt} c ON c.cut = t.cut AND c.lang = t.lang
                               AND c.token = e.token
              GROUP BY t.cut, e.doc_id, e.actual_lang, t.lang) s
            JOIN {prior} p ON p.cut = s.cut AND p.lang = s.cand_lang
            JOIN {dtot} dt ON dt.cut = s.cut) f) p2
        JOIN {dtot} dt2 ON dt2.cut = p2.cut
        WHERE p2.rn = 1
        GROUP BY p2.cut
        """,
        cnt=cnt,
        prior=prior,
        dtot=dtot,
    )


@register(
    "llm_span_corruption_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, unnest(generate_series(1, len(tk))) AS pos
      FROM (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents)),
    masked AS (
      SELECT doc_id, source, pos,
             CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':'
                            || CAST(pos AS VARCHAR)), 1, 8)) AS BIGINT)
                       / 4294967296e0 < 0.15 THEN 1 ELSE 0 END AS m
      FROM tok),
    spans AS (
      SELECT doc_id, source, m,
             CASE WHEN m = 1 AND COALESCE(lag(m) OVER (
                    PARTITION BY doc_id ORDER BY pos), 0) = 0
                  THEN 1 ELSE 0 END AS span_start
      FROM masked)
    SELECT source, count(*) AS total_tokens,
           CAST(sum(m) AS BIGINT) AS n_masked,
           round(CAST(sum(m) AS DOUBLE) / count(*), 6) AS mask_ratio,
           CAST(sum(span_start) AS BIGINT) AS n_spans,
           round(CAST(sum(m) AS DOUBLE) / sum(span_start), 6) AS avg_span_len
    FROM spans GROUP BY source
    """,
)
def llm_span_corruption_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption masking statistics (the T5/UL2 pretraining
    objective's data side): positions are masked by a content-stable md5
    coin (~15%), adjacent masked positions merge into spans via the
    gaps-and-islands lag trick, and the audit reports realized mask
    ratio and mean span length per source — the two knobs span-corruption
    recipes are tuned by. Deterministic ⇒ the same document always
    produces the same spans (reproducible training batches). One
    position explode + one doc-partitioned window + one source
    aggregate; nothing quadratic, nothing RNG-stateful."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH tok AS (
          SELECT doc_id, source, pos + 1 AS pos, token
          FROM (SELECT doc_id, source, split(text, ' ') AS tk FROM documents)
          LATERAL VIEW posexplode(tk) AS pos, token),
        masked AS (
          SELECT doc_id, source, pos,
                 CASE WHEN CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':',
                                CAST(pos AS STRING))), 1, 8), 16, 10) AS BIGINT)
                           / 4294967296e0 < 0.15 THEN 1 ELSE 0 END AS m
          FROM tok),
        spans AS (
          SELECT doc_id, source, m,
                 CASE WHEN m = 1 AND COALESCE(lag(m) OVER (
                        PARTITION BY doc_id ORDER BY pos), 0) = 0
                      THEN 1 ELSE 0 END AS span_start
          FROM masked)
        SELECT source, count(*) AS total_tokens,
               CAST(sum(m) AS BIGINT) AS n_masked,
               round(CAST(sum(m) AS DOUBLE) / count(*), 6) AS mask_ratio,
               CAST(sum(span_start) AS BIGINT) AS n_spans,
               round(CAST(sum(m) AS DOUBLE) / sum(span_start), 6) AS avg_span_len
        FROM spans GROUP BY source
        """,
    )


@register(
    "llm_curation_funnel",
    oracle="""
    WITH base AS (
      SELECT doc_id, source, md5(lower(trim(text))) AS h,
             string_split(text, ' ') AS tk
      FROM documents),
    meta AS (
      SELECT doc_id, source, h, len(tk) AS n_tok,
             len(list_distinct(tk)) AS n_uniq
      FROM base),
    s1 AS (
      SELECT m.* FROM meta m
      JOIN (SELECT h, min(doc_id) AS keep FROM meta GROUP BY h) k
        ON m.h = k.h AND m.doc_id = k.keep),
    s2 AS (
      SELECT * FROM s1
      WHERE n_tok BETWEEN 10 AND 400 AND n_uniq * 10 >= 3 * n_tok),
    tok AS (
      SELECT DISTINCT b.doc_id, b.source, t.token
      FROM base b JOIN s2 ON b.doc_id = s2.doc_id,
           unnest(b.tk) AS t(token)),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      FROM tok a JOIN tok b ON a.token = b.token AND a.source = b.source
                           AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    dups AS (
      SELECT DISTINCT s.db FROM shared s
      JOIN sizes za ON za.doc_id = s.da JOIN sizes zb ON zb.doc_id = s.db
      WHERE CAST(s.c AS DOUBLE) / (za.n + zb.n - s.c) >= 0.5),
    s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT db FROM dups)),
    raw AS (SELECT count(*) AS rd FROM meta)
    SELECT stage, n_docs, n_tokens,
           round(CAST(n_docs AS DOUBLE) / raw.rd, 6) AS frac_of_raw
    FROM (
      SELECT '0_raw' AS stage, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM meta
      UNION ALL
      SELECT '1_exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM s1
      UNION ALL
      SELECT '2_quality', count(*), CAST(sum(n_tok) AS BIGINT) FROM s2
      UNION ALL
      SELECT '3_near_dedup', count(*), CAST(sum(n_tok) AS BIGINT) FROM s3) f
    CROSS JOIN raw
    """,
)
def llm_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel in ONE call — the per-stage survival
    table a training-data pipeline publishes with every corpus build:
    raw → exact dedup (normalized-hash keep-lowest) → quality gate
    (length band + distinct-token ratio, integer-exact comparisons) →
    near-dedup (same-source token-set Jaccard ≥ 0.5, keep-lower-id).
    Each stage is one of this repo's proven primitives composed into a
    single plan; the output is the funnel (docs, tokens, fraction of
    raw per stage), which is what curation reviews actually read. Scale
    shape (round-13 collapse rewrite, provably identical): per-doc text
    attributes (two splits + the normalized hash) are computed on ONE
    representative per distinct (text, source) group instead of every
    copy — stage 0 weights by copy multiplicity (exact integer sums),
    and stages 1–3 operate on survivors, which are one-per-normalized-
    hash by definition, so the keep-lowest winner is the group holding
    the globally minimal doc_id (min over group minima). The near-dedup
    self-join was already survivor-bounded; now the metadata stage is
    too. The 1-row raw-count broadcast is allowlisted. Each stage
    reaches the next ``spark.sql`` as an uncached DataFrame argument and
    AQE reuses the repeated exchanges: without its four staged caches the
    op ran faster at sf0.01 and as fast at sf0.1 (BASELINE.md, "llm_mix
    and llm_text stage nothing")."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    # text attributes on one representative per (text, source) content
    # group: the group-by is the only full-corpus pass
    meta = spark.sql(
        """
        SELECT g.rep_doc AS doc_id, g.source, g.mult,
               md5(lower(trim(d.text))) AS h,
               size(split(d.text, ' ')) AS n_tok,
               size(array_distinct(split(d.text, ' '))) AS n_uniq
        FROM (SELECT md5(text) AS ht, source, min(doc_id) AS rep_doc,
                     count(*) AS mult
              FROM documents GROUP BY md5(text), source) g
        JOIN documents d ON d.doc_id = g.rep_doc
        """
    )
    # keep-lowest per normalized hash: the winning group is the one whose
    # min doc_id is globally minimal (copies share their group's rep)
    s1 = spark.sql(
        """
        SELECT doc_id, source, h, n_tok, n_uniq FROM (
          SELECT m.*, min(doc_id) OVER (PARTITION BY h) AS keep
          FROM {meta} m)
        WHERE doc_id = keep AND h IS NOT NULL
        """,
        meta=meta,
    )
    s2 = spark.sql(
        """
        SELECT * FROM {s1}
        WHERE n_tok BETWEEN 10 AND 400 AND n_uniq * 10 >= 3 * n_tok
        """,
        s1=s1,
    )
    # DOC-GRAIN near-dedup (r16, guide §2.3): the old token-grain
    # self-join on (token, source) shuffled ~11M intermediate rows into
    # a pair-grain hash agg plus two size joins; a pair's shared count
    # is the intersection size of the two survivors' token SETS, so each
    # survivor carries its distinct-token array (map-side, no explode
    # shuffle) and ``size(array_intersect(..))`` scores the pair in
    # codegen. Pairs with 0 shared tokens score jaccard 0 < 0.5 — the
    # dup set is unchanged vs the oracle's inner token join.
    sets = spark.sql(
        """
        SELECT s2.doc_id, s2.source,
               array_distinct(split(d.text, ' ')) AS toks
        FROM documents d JOIN {s2} s2 ON d.doc_id = s2.doc_id
        """,
        s2=s2,
    )
    # shuffle() wrap = non-determinism marker (guide §4.4 on a JVM
    # expression): keeps Catalyst from pushing the jaccard filter into
    # the join condition and from re-inlining the intersect per
    # reference — exactly one evaluation per pair. Its seed is fixed so
    # that the generated code compiles once per session. The size conjunct is
    # an EXACT prune: jaccard >= 0.5 ⟺ 3c >= na+nb, and c <= least(na,
    # nb), so pairs with 3·least(na,nb) < na+nb can never qualify and
    # skip the intersect entirely (cheap int compare in the join).
    s3 = spark.sql(
        """
        SELECT * FROM {s2} WHERE doc_id NOT IN (
          SELECT DISTINCT db FROM (
            SELECT b.doc_id AS db,
                   size(shuffle(array_intersect(a.toks, b.toks), 0)) AS c,
                   size(a.toks) + size(b.toks) AS nn
            FROM {sets} a JOIN {sets} b
              ON a.source = b.source AND a.doc_id < b.doc_id
             AND least(size(a.toks), size(b.toks)) * 3
                 >= size(a.toks) + size(b.toks)) p
          WHERE CAST(c AS DOUBLE) / (nn - c) >= 0.5)
        """,
        s2=s2,
        sets=sets,
    )
    return spark.sql(
        """
        SELECT stage, n_docs, n_tokens,
               round(CAST(n_docs AS DOUBLE) / raw.rd, 6) AS frac_of_raw
        FROM (
          SELECT '0_raw' AS stage, sum(mult) AS n_docs,
                 CAST(sum(mult * n_tok) AS BIGINT) AS n_tokens
          FROM {meta}
          UNION ALL
          SELECT '1_exact_dedup', count(*), CAST(sum(n_tok) AS BIGINT)
          FROM {s1}
          UNION ALL
          SELECT '2_quality', count(*), CAST(sum(n_tok) AS BIGINT)
          FROM {s2}
          UNION ALL
          SELECT '3_near_dedup', count(*), CAST(sum(n_tok) AS BIGINT)
          FROM {s3}) f
        CROSS JOIN (SELECT sum(mult) AS rd FROM {meta}) raw
        """,
        meta=meta,
        s1=s1,
        s2=s2,
        s3=s3,
    )


def _dsir_sql(tok_expr: str, bucket_expr: str) -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, lang, {bucket_expr} AS b
        FROM (SELECT doc_id, lang, {tok_expr} AS token
              FROM documents) raw),
    feat AS (
        SELECT b,
               CAST(count(*) FILTER (WHERE lang = 'en') + 1 AS DOUBLE) AS ct,
               CAST(count(*) + 1 AS DOUBLE) AS cr
        FROM tok GROUP BY b),
    tots AS (
        SELECT sum(ct) AS st, sum(cr) AS sr FROM feat),
    lw AS (
        SELECT b, ln((ct / tots.st) / (cr / tots.sr)) AS w
        FROM feat CROSS JOIN tots)
    SELECT t.doc_id, t.lang,
           CAST(count(*) AS BIGINT) AS n_tok,
           round(avg(lw.w), 6) AS dsir_weight
    FROM tok t JOIN lw ON lw.b = t.b
    GROUP BY t.doc_id, t.lang
    ORDER BY dsir_weight DESC, t.doc_id
    LIMIT 20
    """


@register(
    "llm_dsir_importance",
    oracle=_dsir_sql(
        "unnest(string_split(text, ' '))",
        "CAST(('0x' || substr(md5(token), 1, 4)) AS BIGINT) % 64",
    ),
)
def llm_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, public arXiv
    2302.03169): hash every token into 64 feature buckets, estimate the
    bucket distribution of the TARGET domain (lang='en' here, standing in
    for a high-quality reference corpus) and of the RAW corpus with add-1
    smoothing, and score each document by the mean log-ratio
    ln(p_target/p_raw) of its tokens' buckets — documents whose n-gram
    profile looks like the target float up, and importance resampling
    keeps them. Top-20 by weight.

    Plan (round-13 exact-collapse rewrite; the r13 sweep caught the old
    full-corpus token explode at 45 s / 49.6× at the 100× tier, with a
    broadcast OOM under sweep memory pressure): copies collapse to
    distinct (md5(text), lang) groups, ONE representative is exploded to
    (group, bucket) token counts, and both smoothed distributions are
    mult-weighted integer sums over that grain. Every copy of a text has
    the same weight, so the top-20 DOCS live inside the top-20 GROUPS by
    (rounded weight desc, min doc_id): any excluded group's best doc_id
    exceeds 20 better-ranked docs by construction. Those ≤20 groups join
    back to documents to enumerate copy doc_ids (bounded expansion), then
    the exact original ordering applies. Weight per group is Σ k·w / n —
    the same token multiset every copy averages, equal at the 6-dp
    rounding both engines share. Oracle unchanged. Each stage is an
    uncached DataFrame argument of the next ``spark.sql``; ``k`` carries
    its group's ``min_doc``, so no read joins the group table back."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    # coalesce (a no-op: md5 hex always converts) makes the bucket
    # non-nullable, so the join on b infers no isnotnull(b) filter into
    # the feature table's two reads of k: they stay identical, AQE reuses
    # their exchange, and the token explode runs twice, not three times
    bucket = (
        "coalesce(cast(conv(substr(md5(token), 1, 4), 16, 10) AS bigint)"
        " % 64, 0)"
    )
    k = spark.sql(
        f"""
        SELECT g.h, g.lang, g.mult, g.min_doc, {bucket} AS b, count(*) AS k
        FROM (SELECT md5(text) AS h, lang, min(doc_id) AS min_doc,
                     count(*) AS mult
              FROM documents GROUP BY md5(text), lang) g
        JOIN documents d ON d.doc_id = g.min_doc
        LATERAL VIEW explode(split(d.text, ' ')) AS token
        GROUP BY g.h, g.lang, g.mult, g.min_doc, {bucket}
        """
    )
    feat = spark.sql(
        """
        SELECT b,
               CAST(sum(CASE WHEN lang = 'en' THEN mult * k ELSE 0 END) + 1
                    AS DOUBLE) AS ct,
               CAST(sum(mult * k) + 1 AS DOUBLE) AS cr
        FROM {k} GROUP BY b
        """,
        k=k,
    )
    topgrp = spark.sql(
        """
        SELECT k.h, k.lang, CAST(sum(k.k) AS BIGINT) AS n_tok,
               round(sum(k.k * lw.w) / sum(k.k), 6) AS dsir_weight,
               max(k.min_doc) AS min_doc
        FROM {k} k
        JOIN (SELECT f.b, ln((f.ct / t.st) / (f.cr / t.sr)) AS w
              FROM {feat} f
              CROSS JOIN (SELECT sum(ct) AS st, sum(cr) AS sr
                          FROM {feat}) t) lw
          ON lw.b = k.b
        GROUP BY k.h, k.lang
        ORDER BY dsir_weight DESC, min_doc
        LIMIT 20
        """,
        k=k,
        feat=feat,
    )
    return spark.sql(
        """
        SELECT d.doc_id, tg.lang, tg.n_tok, tg.dsir_weight
        FROM {topgrp} tg
        JOIN documents d ON md5(d.text) = tg.h AND d.lang <=> tg.lang
        ORDER BY tg.dsir_weight DESC, d.doc_id
        LIMIT 20
        """,
        topgrp=topgrp,
    )


def _doremi_sql(tok_expr: str) -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, source, {tok_expr} AS token FROM documents),
    freq AS (
        SELECT token, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY token),
    tot AS (SELECT sum(c) AS n FROM freq),
    dom AS (
        SELECT t.source,
               CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
               sum(-ln(f.c / tot.n)) / count(*) AS avg_nll
        FROM tok t JOIN freq f ON f.token = t.token, tot
        GROUP BY t.source),
    base AS (
        SELECT source, n_docs, avg_nll,
               CAST(n_docs AS DOUBLE)
                 / (SELECT sum(n_docs) FROM dom) AS w_old,
               avg_nll - (SELECT min(avg_nll) FROM dom) AS excess
        FROM dom),
    upd AS (
        SELECT source, n_docs, avg_nll, w_old,
               w_old * exp(0.5 * excess) AS w_unnorm
        FROM base)
    SELECT source, n_docs,
           round(avg_nll, 6) AS avg_nll,
           round(w_old, 6) AS w_old,
           round(w_unnorm / (SELECT sum(w_unnorm) FROM upd), 6) AS w_new
    FROM upd ORDER BY source
    """


@register(
    "llm_doremi_reweight_step",
    oracle=_doremi_sql("unnest(string_split(text, ' '))"),
)
def llm_doremi_reweight_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style domain-reweighting step (Xie et al. 2023, public
    arXiv 2305.10429): score each source domain by its excess loss (here
    the unigram-NLL proxy minus the best domain's NLL, standing in for
    proxy-model minus reference-model loss) and multiply its mixture
    weight by exp(η·excess), renormalizing — domains the model finds
    hard gain sampling weight. η = 0.5, initial weights proportional to
    doc counts. Everything is |domains|-grain after one token explode +
    broadcast unigram join; the three scalar subqueries are 1-row
    broadcasts. Output: per-source old/new mixture weights.

    Plan note (r6 verdict task #4): the shared-CTE formulation re-ran the
    token explode for every `tok` reference (21 exchanges). The explode
    now runs once, into (source, token) counts: the unigram table and its
    total derive from them, as the oracle's `tot` does, and document
    counts come from a plain scan (a non-NULL text splits into at least
    one token). `_doremi_sql()` stays the DuckDB oracle text."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    st = spark.sql(
        """
        SELECT source, token, count(*) AS cst
        FROM documents LATERAL VIEW explode(split(text, ' ')) AS token
        GROUP BY source, token
        """
    )
    freq = spark.sql(
        "SELECT token, CAST(sum(cst) AS DOUBLE) AS c FROM {st} GROUP BY token",
        st=st,
    )
    dom = spark.sql(
        """
        SELECT s.source, nd.n_docs,
               sum(s.cst * -ln(f.c / (SELECT sum(c) FROM {freq})))
                 / sum(s.cst) AS avg_nll
        FROM {st} s
        JOIN {freq} f ON f.token = s.token
        JOIN (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
              FROM documents WHERE text IS NOT NULL
              GROUP BY source) nd ON nd.source <=> s.source
        GROUP BY s.source, nd.n_docs
        """,
        st=st,
        freq=freq,
    )
    # windows over the |domains|-row `dom`: one SinglePartition exchange
    # instead of a broadcast job per 1-row total
    return spark.sql(
        """
        SELECT source, n_docs,
               round(avg_nll, 6) AS avg_nll,
               round(w_old, 6) AS w_old,
               round(w_unnorm / sum(w_unnorm) OVER (), 6) AS w_new
        FROM (SELECT source, n_docs, avg_nll, w_old,
                     w_old * exp(0.5 * excess) AS w_unnorm
              FROM (SELECT source, n_docs, avg_nll,
                           CAST(n_docs AS DOUBLE)
                             / sum(n_docs) OVER () AS w_old,
                           avg_nll - min(avg_nll) OVER () AS excess
                    FROM {dom}))
        ORDER BY source
        """,
        dom=dom,
    )


_MIX_TEMP_SQL = """
    WITH counts AS (
      SELECT source, CAST(count(*) AS DOUBLE) AS n FROM documents
      GROUP BY source),
    tot AS (SELECT sum(n) AS n_all FROM counts),
    w AS (
      SELECT source, n, n / tot.n_all AS w_raw,
             pow(n / tot.n_all, 1.0 / 1.7) AS w_temp
      FROM counts CROSS JOIN tot)
    SELECT source, CAST(n AS BIGINT) AS n_docs,
           round(w_raw, 6) AS w_raw,
           round(w_temp / (SELECT sum(w_temp) FROM w), 6) AS w_temperature,
           round(w_temp / (SELECT sum(w_temp) FROM w) / w_raw, 6) AS upweight
    FROM w ORDER BY source
"""


@register("llm_mixture_temperature", oracle=_MIX_TEMP_SQL)
def llm_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (the multilingual-sampling
    convention, e.g. T=1.7 as in public mC4/XLM-R recipes): raise each
    source's raw share to 1/T and renormalize — big sources flatten,
    small sources upweight, and the `upweight` column shows exactly how
    much each source's sampling rate moves. |sources|-grain throughout
    after one counting aggregate; pairs with llm_source_mixture (raw
    shares) and llm_doremi_reweight_step (loss-driven reweighting) as
    the third mixture-planning tool."""
    return sql_q(spark, sf_dir, _MIX_TEMP_SQL)


_PACKING_CURVE_TEMPLATE = """
    WITH toks AS (
      SELECT doc_id, CAST({ntok} AS BIGINT) AS n FROM documents),
    grid AS (SELECT * FROM (VALUES (64), (128), (256), (512)) AS g(c)),
    percfg AS (
      SELECT g.c,
             count(*) AS n_docs,
             sum(t.n) AS total_tok,
             sum(CAST(ceil(CAST(t.n AS DOUBLE) / g.c) AS BIGINT))
               AS seqs_padded
      FROM grid g CROSS JOIN toks t
      GROUP BY g.c)
    SELECT c AS context_len,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_tok AS BIGINT) AS total_tokens,
           CAST(seqs_padded AS BIGINT) AS seqs_padded,
           round(CAST(total_tok AS DOUBLE) / (seqs_padded * c), 6)
             AS fill_rate_padded,
           CAST(ceil(CAST(total_tok AS DOUBLE) / c) AS BIGINT)
             AS seqs_packed,
           round(CAST(total_tok AS DOUBLE)
                 / (CAST(ceil(CAST(total_tok AS DOUBLE) / c) AS BIGINT) * c),
                 6) AS fill_rate_packed,
           round(CAST(seqs_padded AS DOUBLE)
                 / CAST(ceil(CAST(total_tok AS DOUBLE) / c) AS BIGINT), 6)
             AS packing_gain
    FROM percfg
    ORDER BY c
"""


@register(
    "llm_packing_efficiency_curve",
    oracle=_PACKING_CURVE_TEMPLATE.format(ntok="len(string_split(text, ' '))"),
)
def llm_packing_efficiency_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing economics across context lengths (64/128/256/512): per
    config, the sequence count and fill rate under pad-to-context (each
    doc ceil(n/C) sequences, rest padding) vs concat-and-pack (the
    GPT-style streaming bin: ceil(Σn/C) sequences, zero padding except
    the tail), and the packing_gain ratio between them — the 'how much
    compute does packing buy us at 8k context' table that sizes a
    pretraining run. One token-count scan, a 4-row literal grid, and
    1-row-per-config arithmetic; pairs with llm_seq_packing (which emits
    the actual bin assignment this table prices)."""
    return sql_q(
        spark,
        sf_dir,
        _PACKING_CURVE_TEMPLATE.format(ntok="size(split(text, ' '))"),
    )


_TRUNC_SQL = """
    WITH d AS (
      SELECT CAST({ws_tokens} AS BIGINT) AS n_tok FROM documents),
    grid AS (SELECT L FROM (SELECT 64 AS L UNION ALL SELECT 128
                            UNION ALL SELECT 256 UNION ALL SELECT 512) g)
    SELECT g.L AS context_limit,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN d.n_tok > g.L THEN 1 ELSE 0 END) AS BIGINT)
             AS n_truncated,
           round(sum(CASE WHEN d.n_tok > g.L THEN 1e0 ELSE 0e0 END)
                 / count(*), 6) AS doc_truncation_rate,
           CAST(sum(greatest(d.n_tok - g.L, 0)) AS BIGINT) AS tokens_lost,
           round(sum(greatest(d.n_tok - g.L, 0)) * 1e0 / sum(d.n_tok), 6)
             AS token_loss_share
    FROM grid g CROSS JOIN d
    GROUP BY g.L
    ORDER BY context_limit
"""


@register(
    "llm_truncation_loss_curve",
    oracle=_TRUNC_SQL.format(ws_tokens="len(string_split(text, ' '))"),
)
def llm_truncation_loss_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-truncation loss curve: at context limits 64/128/256/512
    tokens, how many documents get cut and what share of corpus tokens
    falls off the end — the budget table that decides between
    truncation and chunking (llm_window_chunking) for a training run.
    Integer token counts; the grid is a 4-row literal broadcast over
    one map-side count scan (the llm_packing_efficiency_curve shape,
    measuring the LOSS side instead of the packing side)."""
    return sql_q(
        spark, sf_dir, _TRUNC_SQL.format(ws_tokens="size(split(text, ' '))")
    )


_BUDGET_SQL = """
    WITH d AS (
      SELECT source, CAST({ws_tokens} AS BIGINT) AS n_tok FROM documents),
    s AS (
      SELECT source,
             CAST(sum(n_tok) AS BIGINT) AS toks,
             sum(CASE WHEN n_tok BETWEEN 40 AND 80
                      THEN 1e0 ELSE 0e0 END) / count(*) AS qshare
      FROM d GROUP BY source),
    tot AS (
      SELECT CAST(sum(toks) AS BIGINT) AS all_toks,
             sum(toks * qshare) AS wsum
      FROM s),
    a0 AS (
      SELECT s.source, s.toks, s.qshare,
             floor(tot.all_toks / 2e0) * (s.toks * s.qshare) / tot.wsum
               AS alloc0
      FROM s CROSS JOIN tot),
    redo AS (
      SELECT sum(CASE WHEN alloc0 > toks THEN alloc0 - toks ELSE 0 END)
               AS excess,
             sum(CASE WHEN alloc0 <= toks THEN toks * qshare ELSE 0 END)
               AS w_open
      FROM a0)
    SELECT a0.source, a0.toks AS available_tokens,
           round(a0.qshare, 6) AS quality_share,
           CAST(round(CASE WHEN a0.alloc0 > a0.toks THEN a0.toks * 1e0
                      ELSE least(a0.toks * 1e0,
                             a0.alloc0 + r.excess * (a0.toks * a0.qshare)
                                         / r.w_open) END)
                AS BIGINT) AS allocated_tokens,
           round(CASE WHEN a0.alloc0 > a0.toks THEN a0.toks * 1e0
                 ELSE least(a0.toks * 1e0,
                        a0.alloc0 + r.excess * (a0.toks * a0.qshare)
                                    / r.w_open) END / a0.toks, 6)
             AS utilization
    FROM a0 CROSS JOIN redo r
    ORDER BY a0.source
"""


@register(
    "llm_token_budget_allocator",
    oracle=_BUDGET_SQL.format(ws_tokens="len(string_split(text, ' '))"),
)
def llm_token_budget_allocator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture token-budget allocator: a 50%-of-corpus token
    budget is split across sources proportional to quality-weighted
    size (weight = tokens x share of docs in the 40-80-token sweet
    spot for this corpus), capped at each source's available tokens with ONE
    water-filling redistribution of the capped excess to the open
    sources — the allocation table a data-mixing run (DoReMi/
    mixture_temperature's deterministic cousin) executes against.
    Everything past one token-count scan is |sources|-grain arithmetic
    on exact integers. The single-round redistribution is documented
    (a second round only matters when the redistribution itself
    re-caps, which the least() guard bounds)."""
    return sql_q(
        spark, sf_dir, _BUDGET_SQL.format(ws_tokens="size(split(text, ' '))")
    )
