"""Text-analysis operators (SURVEY.md §2.11): stats, TF-IDF, quality
scoring/filtering/classification, language-ID, BPE-ish tokenization,
n-gram LMs and novelty, perplexity proxies and CCNet-style buckets,
Zipf/vocab/collocation analyses, watermark detection, PII scrubbing,
format/charset profiling, and the ingest NULL-completeness gate.

Scale notes (100 TB): all text ops are explode→agg pipelines — one
shuffle on the token (or distinct-content collapse first where the work
is per-document), JVM-side expressions throughout, no Python row
boundary in any hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import plan_memo, register
from ..operators._util import ratio, sql_q, t


@register(
    "llm_text_stats",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
    per_lang AS (
      SELECT lang, count(*) AS total_tokens,
             count(DISTINCT token) AS distinct_tokens
      FROM tok GROUP BY lang),
    docs AS (
      SELECT lang, count(*) AS doc_cnt, round(avg(n_chars), 6) AS avg_chars
      FROM documents GROUP BY lang)
    SELECT d.lang, d.doc_cnt, d.avg_chars, p.total_tokens, p.distinct_tokens,
           round(CAST(p.distinct_tokens AS DOUBLE) / p.total_tokens, 6) AS type_token_ratio
    FROM docs d JOIN per_lang p ON d.lang = p.lang
    """,
)
@plan_memo
def llm_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics: doc count, avg chars, token counts,
    type-token ratio. Bench headline op — one SQL text (see ``sql_q``),
    identical plan to the explode/groupBy/join chain."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH tok AS (
          SELECT doc_id, lang, explode(split(text, ' ')) AS token FROM documents),
        per_lang AS (
          SELECT lang, count(*) AS total_tokens,
                 count(DISTINCT token) AS distinct_tokens
          FROM tok GROUP BY lang),
        docs AS (
          SELECT lang, count(*) AS doc_cnt, round(avg(n_chars), 6) AS avg_chars
          FROM documents GROUP BY lang)
        SELECT d.lang, d.doc_cnt, d.avg_chars, p.total_tokens, p.distinct_tokens,
               round(cast(p.distinct_tokens AS double) / p.total_tokens, 6)
                 AS type_token_ratio
        FROM docs d JOIN per_lang p ON d.lang = p.lang
        """,
    )


@register(
    "llm_tfidf_keywords",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token FROM documents),
    n AS (SELECT count(*) AS n_docs FROM documents),
    df AS (SELECT token, count(DISTINCT doc_id) AS doc_freq FROM tok GROUP BY token),
    tf AS (SELECT lang, token, count(*) AS term_freq FROM tok GROUP BY lang, token),
    scored AS (
      SELECT tf.lang, tf.token,
             round(tf.term_freq * ln(CAST(n.n_docs AS DOUBLE) / df.doc_freq), 6) AS tfidf
      FROM tf JOIN df ON tf.token = df.token CROSS JOIN n)
    SELECT lang, token, tfidf FROM (
      SELECT lang, token, tfidf,
             row_number() OVER (PARTITION BY lang ORDER BY tfidf DESC, token) AS rn
      FROM scored) x
    WHERE rn <= 5
    """,
)
def llm_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tokens per language by TF-IDF (IDF over documents globally).
    explode → two aggregations → broadcast IDF join → per-group top-k."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    n_docs = d.agg(F.count(F.lit(1)).cast("double")).scalar()  # subquery
    df_ = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("doc_freq"))
    tf = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("term_freq"))
    scored = tf.join(F.broadcast(df_), "token").select(
        "lang",
        "token",
        F.round(
            F.col("term_freq") * F.log(n_docs / F.col("doc_freq")), 6
        ).alias("tfidf"),
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), "token")
    return (
        scored.select("lang", "token", "tfidf", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 5)
        .drop("rn")
    )


@register(
    "llm_quality_filter",
    oracle="""
    SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
    FROM documents
    WHERE n_chars BETWEEN 100 AND 520
      AND len(string_split(text, ' ')) >= 20
      AND lang IN ('en', 'fr', 'es')
    """,
)
def llm_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gate: length bounds + minimum token count + language
    allowlist — the composable filter stage of a training-data pipeline."""
    d = t(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    return (
        d.where(
            F.col("n_chars").between(100, 520)
            & (n_tokens >= 20)
            & F.col("lang").isin("en", "fr", "es")
        )
        .select("doc_id", "lang", n_tokens.alias("n_tokens"))
    )


_LANG_MARKERS = {
    "de": ("customer", "hash"),
    "en": ("order", "table", "window"),
    "es": ("slow", "agg", "merge"),
    "fr": ("scan", "batch", "query"),
    "zh": ("join", "small"),
}


@register(
    "llm_lang_id",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(string_split(text,' '), x -> x IN ('customer','hash'))) AS INT) AS s_de,
        CAST(len(list_filter(string_split(text,' '), x -> x IN ('order','table','window'))) AS INT) AS s_en,
        CAST(len(list_filter(string_split(text,' '), x -> x IN ('slow','agg','merge'))) AS INT) AS s_es,
        CAST(len(list_filter(string_split(text,' '), x -> x IN ('scan','batch','query'))) AS INT) AS s_fr,
        CAST(len(list_filter(string_split(text,' '), x -> x IN ('join','small'))) AS INT) AS s_zh
      FROM documents)
    SELECT doc_id,
           CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS predicted_lang,
           (CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END = lang) AS is_correct
    FROM scored
    """,
)
def llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic: count per-language marker tokens
    (chosen from each language's measured top-frequency tokens), argmax with
    a fixed precedence tie-break. Deterministic → exact oracle."""
    d = t(spark, sf_dir, "documents")
    scores = {
        lang: F.expr(
            "size(filter(split(text, ' '), x -> x IN ({})))".format(
                ", ".join(f"'{m}'" for m in markers)
            )
        )
        for lang, markers in _LANG_MARKERS.items()
    }
    predicted = (
        F.when(
            (scores["de"] >= scores["en"])
            & (scores["de"] >= scores["es"])
            & (scores["de"] >= scores["fr"])
            & (scores["de"] >= scores["zh"]),
            "de",
        )
        .when(
            (scores["en"] >= scores["es"])
            & (scores["en"] >= scores["fr"])
            & (scores["en"] >= scores["zh"]),
            "en",
        )
        .when((scores["es"] >= scores["fr"]) & (scores["es"] >= scores["zh"]), "es")
        .when(scores["fr"] >= scores["zh"], "fr")
        .otherwise("zh")
    )
    return d.select(
        "doc_id",
        predicted.alias("predicted_lang"),
        (predicted == F.col("lang")).alias("is_correct"),
    )


_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


@register(
    "llm_token_bpe",
    oracle=r"""
    WITH per_doc AS (
        SELECT lang,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpe,
               CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS ws
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(bpe) AS BIGINT) AS sum_bpe,
           CAST(sum(ws) AS BIGINT) AS sum_ws,
           round(avg(bpe), 6) AS avg_bpe,
           round(CAST(sum(bpe) AS DOUBLE) / sum(ws), 6) AS fertility
    FROM per_doc GROUP BY lang
    """,
)
def llm_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting (north-star "token counting: whitespace + a
    BPE-ish regex"): pre-tokenize with the GPT-2-style split — letter runs,
    digit runs, single non-alnum symbols (CJK falls back to per-character,
    as byte-BPE does) — and compare against whitespace tokenization via the
    fertility ratio per language. ASCII-only regex classes keep Java regex
    and RE2 semantics identical. Scale: map-side regexp + one shuffle on
    lang; no Python boundary."""
    d = t(spark, sf_dir, "documents").select(
        "lang",
        # pattern as a Column literal — routing it through F.expr would make
        # Spark's SQL string parser eat the \s escape ([^...\s] -> [^...s])
        F.size(F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)).cast("long").alias("bpe"),
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("ws"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("bpe").alias("sum_bpe"),
        F.sum("ws").alias("sum_ws"),
        ratio(F.avg("bpe")).alias("avg_bpe"),
        ratio(F.sum("bpe") / F.sum("ws")).alias("fertility"),
    )


_STOPWORDS = "the a an and of to in is for on".split()


@register(
    "llm_quality_score",
    oracle=rf"""
    WITH scored AS (
        SELECT source,
               round(
                 0.4 * (1 - CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                  tk -> list_contains({_STOPWORDS!r}, tk))) AS DOUBLE)
                        / len(regexp_split_to_array(trim(text), '\s+')))
               + 0.3 * (1 - CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
                        / length(text))
               + 0.3 * least(CAST(length(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
                        / len(regexp_split_to_array(trim(text), '\s+')) / 10, 1.0)
               , 6) AS score
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(score), 6) AS avg_score,
           CAST(count(*) FILTER (score >= 0.8) AS BIGINT) AS high_q
    FROM scored GROUP BY source
    """,
)
def llm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous document quality scoring (north-star "quality scoring:
    length/punct/stopword ratios") — complements llm_quality_filter's hard
    gate with a weighted score: low stopword ratio + low punctuation ratio
    + healthy mean word length. Identical float expression tree on both
    engines, rounded once at 6 dp. Scale: map-side only + one agg shuffle
    on source."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    ltoks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    stop_cnt = F.size(
        F.filter(ltoks, lambda tk: tk.isin(*_STOPWORDS))
    )
    punct_cnt = F.length("text") - F.length(F.regexp_replace("text", "[.,!?;:]", ""))
    nonws_len = F.length(F.regexp_replace("text", r"\s", ""))
    score = F.round(
        0.4 * (1 - stop_cnt.cast("double") / F.size(toks))
        + 0.3 * (1 - punct_cnt.cast("double") / F.length("text"))
        + 0.3 * F.least(nonws_len.cast("double") / F.size(toks) / 10, F.lit(1.0)),
        6,
    )
    d = t(spark, sf_dir, "documents").select("source", score.alias("score"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        ratio(F.avg("score")).alias("avg_score"),
        F.sum(F.when(F.col("score") >= 0.8, 1).otherwise(0)).alias("high_q"),
    )


@register(
    "llm_gopher_repetition",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
    tok_stats AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_tok,
               round(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6)
                 AS dup_token_frac
        FROM base),
    bigrams AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(tk) - 1),
                                     i -> tk[i] || ' ' || tk[i+1])) AS gram
        FROM base),
    counts AS (
        SELECT doc_id, gram, count(*) AS c FROM bigrams GROUP BY doc_id, gram),
    top AS (
        SELECT doc_id, max(c) AS top_c, CAST(sum(c) AS BIGINT) AS n_bigrams
        FROM counts GROUP BY doc_id)
    SELECT s.doc_id, s.n_tok, s.dup_token_frac,
           round(CAST(t.top_c AS DOUBLE) / t.n_bigrams, 6) AS top_bigram_frac,
           (s.dup_token_frac > 0.8 OR CAST(t.top_c AS DOUBLE) / t.n_bigrams > 0.1)
             AS flagged
    FROM tok_stats s JOIN top t ON s.doc_id = t.doc_id
    """,
)
def llm_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality rules: per doc, the duplicate-token
    fraction (1 - type/token ratio) and the share of the most frequent
    bigram among all bigrams; a doc is flagged when either exceeds its
    threshold (0.8 / 0.1 — the published rules use per-n-gram thresholds
    of this shape). Token stats are pure map-side expressions; only the
    per-doc bigram count (shuffle on doc_id+gram, combiner-friendly)
    touches the network — linear in corpus size at 100 TB."""
    base = t(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("tk")
    ).where(F.size("tk") >= 2)
    # FULLY MAP-SIDE (r16, guide §2.4 'remove shuffles outright'): the old
    # shape exploded every doc to bigram grain, hash-aggregated
    # (doc_id, gram) counts across a shuffle, re-aggregated to doc grain
    # and joined back to the token stats — a corpus-token-grain exchange
    # whose only consumer was ONE scalar per doc. The most-frequent-bigram
    # count is the longest equal run in the doc's SORTED bigram array, so
    # a sort_array + codegen fold computes top_c inside the row, the total
    # bigram count is size(tk) - 1 exactly (= the old sum of per-gram
    # counts), and the whole op becomes one projection with zero
    # exchanges — per-doc O(L log L) local sort instead of a cluster-wide
    # shuffle of every bigram at 100 TB. Same integers in, same floats out.
    top_c = F.expr(
        """
        aggregate(
          sort_array(transform(sequence(0, size(tk) - 2),
                               i -> concat_ws(' ', tk[i], tk[i+1]))),
          named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
          (acc, x) -> named_struct(
            'prev', x,
            'run', IF(x <=> acc.prev, acc.run + 1L, 1L),
            'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1L, 1L))),
          acc -> acc.best)
        """
    )
    n_bigrams = (F.size("tk") - 1).cast("long")
    tbf = top_c / n_bigrams
    dup = ratio(1.0 - F.size(F.array_distinct("tk")) / F.size("tk"))
    return base.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tok"),
        dup.alias("dup_token_frac"),
        ratio(tbf).alias("top_bigram_frac"),
        ((dup > 0.8) | (tbf > 0.1)).alias("flagged"),
    )


@register(
    "llm_perplexity_proxy",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    freq AS (
        SELECT token, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY token),
    tot AS (SELECT sum(c) AS n FROM freq)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tok,
           round(avg(-ln(f.c / tot.n)), 6) AS avg_nll
    FROM tok t JOIN freq f ON t.token = f.token, tot
    GROUP BY t.doc_id
    """,
)
def llm_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity proxy: each doc scored by the mean negative
    log-likelihood of its tokens under the corpus unigram distribution —
    the cheap statistical stand-in for model-based perplexity filtering
    (high avg_nll = rare-token-heavy = boilerplate/garbage candidates).
    The unigram table is a tiny aggregate broadcast back against the
    token stream; at 100 TB the vocabulary fits in a broadcast while the
    token explode never leaves the map side until the per-doc agg."""
    tok = t(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    freq = tok.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = freq.agg(F.sum("c").alias("n"))
    return (
        tok.join(F.broadcast(freq), "token")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            ratio(F.avg(-F.log(F.col("c") / F.col("n")))).alias("avg_nll"),
        )
    )


@register(
    "llm_pii_scrub",
    oracle="""
    WITH scrubbed AS (
      SELECT event_type,
             len(regexp_extract_all(props, '[0-9]+\\.?[0-9]*')) AS n_nums,
             regexp_replace(props, '[0-9]+\\.?[0-9]*', '<NUM>', 'g') AS red
      FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(n_nums) AS BIGINT) AS n_redactions,
           CAST(sum(len(red)) AS BIGINT) AS redacted_len_sum
    FROM scrubbed GROUP BY event_type
    """,
)
def llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII/numeric scrubbing over the raw props payload — the
    redact-before-training step (here: every numeric literal → <NUM>;
    production swaps in email/phone/ssn patterns, same plumbing). Count
    and replace run as JVM-side regexp built-ins inside one codegen'd
    projection — no Python in the hot path — then a per-type audit
    aggregate reports redaction volume. DuckDB needs the 'g' flag to
    match Spark's replace-all semantics."""
    e = t(spark, sf_dir, "events")
    pat = r"[0-9]+\.?[0-9]*"
    scrub = e.select(
        "event_type",
        F.size(F.regexp_extract_all("props", F.lit(pat), F.lit(0))).alias("n_nums"),
        F.length(F.regexp_replace("props", pat, "<NUM>")).alias("red_len"),
    )
    return scrub.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("n_nums").cast("long").alias("n_redactions"),
        F.sum("red_len").cast("long").alias("redacted_len_sum"),
    )


@register(
    "llm_null_profile",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) - count(text) AS BIGINT) AS null_text,
           CAST(count(*) - count(lang) AS BIGINT) AS null_lang,
           round((count(*) - count(text)) * 1e0 / count(*), 6) AS text_null_rate,
           round((count(*) - count(lang)) * 1e0 / count(*), 6) AS lang_null_rate,
           CAST(sum(CASE WHEN text IS NULL AND lang IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS both_null
    FROM documents GROUP BY source
    """,
)
def llm_null_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-completeness profile per source — the data-quality gate a
    100 TB ingest runs BEFORE any of the null-sensitive ops in this repo
    (r15 institutionalization of the null-injection tier's lesson: every
    operator had to choose a NULL semantics, and the profile is how a
    pipeline knows which sources force those branches). count(*) −
    count(col) is the portable null counter (count(col) skips NULLs in
    every SQL engine — the one null-skipping behavior you can rely on);
    the co-null column catches rows missing BOTH fields, which usually
    indicates a broken extraction rather than sparse metadata. One
    map-side pass, |sources|-grain aggregate, zero shuffles beyond the
    final group-by — profile cost is a scan, which is why it runs on
    every ingest batch."""
    d = t(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    return d.groupBy("source").agg(
        n.alias("n_docs"),
        (n - F.count("text")).alias("null_text"),
        (n - F.count("lang")).alias("null_lang"),
        F.round((n - F.count("text")) * 1.0 / n, 6).alias("text_null_rate"),
        F.round((n - F.count("lang")) * 1.0 / n, 6).alias("lang_null_rate"),
        F.sum(
            F.when(F.col("text").isNull() & F.col("lang").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("both_null"),
    )


@register(
    "llm_bigram_lm",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    bg AS (
      SELECT tk[i] AS w1, tk[i + 1] AS w2
      FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS t(i)),
    pair AS (
      SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair FROM bg GROUP BY 1, 2),
    ctx AS (
      SELECT w1, CAST(sum(n_pair) AS BIGINT) AS n_ctx FROM pair GROUP BY 1)
    SELECT p.w1, p.w2, p.n_pair,
           round(CAST(p.n_pair AS DOUBLE) / c.n_ctx, 6) AS p_cond
    FROM pair p JOIN ctx c ON p.w1 = c.w1
    ORDER BY p.n_pair DESC, p.w1, p.w2
    LIMIT 50
    """,
)
def llm_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model training over the corpus: count adjacent token
    pairs, derive the conditional probability P(w2|w1) = c(w1,w2)/c(w1,·),
    report the 50 highest-count bigrams (deterministic tie-break) — the
    n-gram-LM estimation pass behind KenLM-style quality filtering and the
    statistical prior llm_perplexity_proxy scores against. Scale shape:
    explode to bigram rows → hash-partitioned count agg with map-side
    combine (shuffle carries one row per DISTINCT bigram, not per token);
    context totals come from a second agg over the already-collapsed pair
    counts (vocabulary-sized, far smaller than the corpus) joined back on
    w1. Final top-50 is TakeOrderedAndProject — no global sort
    materialization."""
    d = t(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("tk"))
    bg = d.where(F.size("tk") >= 2).select(
        F.explode(
            F.expr("transform(sequence(0, size(tk) - 2), i -> struct(tk[i] AS w1, tk[i + 1] AS w2))")
        ).alias("b")
    ).select("b.w1", "b.w2")
    pair = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_pair"))
    ctx = pair.groupBy("w1").agg(F.sum("n_pair").alias("n_ctx"))
    return (
        pair.join(ctx, "w1")
        .select(
            "w1",
            "w2",
            "n_pair",
            ratio(F.col("n_pair").cast("double") / F.col("n_ctx")).alias("p_cond"),
        )
        .orderBy(F.col("n_pair").desc(), "w1", "w2")
        .limit(50)
    )


@register(
    "llm_zipf_fit",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w),
    ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, w) AS r FROM freq),
    mom AS (
      SELECT CAST(count(*) AS DOUBLE) AS n,
             sum(log10(CAST(r AS DOUBLE))) AS sx,
             sum(log10(CAST(f AS DOUBLE))) AS sy,
             sum(log10(CAST(r AS DOUBLE)) * log10(CAST(f AS DOUBLE))) AS sxy,
             sum(log10(CAST(r AS DOUBLE)) * log10(CAST(r AS DOUBLE))) AS sxx
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS vocab_size,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS zipf_intercept
    FROM mom
    """,
)
def llm_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus token distribution: log10(freq) vs
    log10(rank) OLS slope/intercept — the standard sanity probe that a
    text corpus is natural-language-shaped (slope ≈ −1) rather than
    degenerate. Scale shape: term frequencies are one explode+agg shuffle
    at VOCABULARY grain; the global frequency rank is built with the
    ``_range_prefix`` offsets machinery (range-partition + broadcast
    count offsets + per-partition row_number — no single-task sort even
    at 10⁸-term vocabularies), and the fit itself is a one-row co-moment
    aggregate — the same closed-form OLS as agg_regression."""
    from ..operators.windows import _range_prefix

    tok = (
        t(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    order = [F.col("f").desc(), F.col("w").asc()]
    part, _n, _tot = _range_prefix(freq, order, "f")
    w_rank = Window.partitionBy("_pid").orderBy(*order)
    ranked = part.select(
        "f", (F.col("_cnt_off") + F.row_number().over(w_rank)).alias("r")
    )
    lx = F.log10(F.col("r").cast("double"))
    ly = F.log10(F.col("f").cast("double"))
    mom = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return mom.select(
        F.col("n").cast("bigint").alias("vocab_size"),
        ratio(slope).alias("zipf_slope"),
        ratio((F.col("sy") - slope * F.col("sx")) / F.col("n")).alias("zipf_intercept"),
    )


@register(
    "llm_vocab_coverage",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents),
    freq AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w),
    ranked AS (
      SELECT f,
             row_number() OVER (ORDER BY f DESC, w) AS r,
             sum(f) OVER (ORDER BY f DESC, w
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS run_f,
             sum(f) OVER () AS tot_f
      FROM freq),
    marks AS (SELECT unnest([8, 16, 32, 48]) AS vocab_k)
    SELECT m.vocab_k,
           round(CAST(max(CASE WHEN ranked.r <= m.vocab_k THEN run_f END)
                      AS DOUBLE) / max(tot_f), 6) AS coverage
    FROM marks m, ranked
    GROUP BY m.vocab_k
    """,
)
def llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget planning: what fraction of corpus tokens does a
    top-K frequency vocabulary cover? Reports coverage at K ∈ {8, 16,
    32, 48} (sized to this corpus's ~60-word synthetic vocabulary; real
    runs probe 32k/50k/100k/256k). Only the top max(K) words matter: a
    top-K limit keeps them, in rank order, as one array, and coverage at
    each K is the sum over its first K entries, crossed with the 1-row
    token total. No global rank or running sum over the whole vocabulary
    is built, so nothing is staged."""
    ks = (8, 16, 32, 48)
    tok = t(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("f"))
    # array_sort on (-f, w) is the rank order (f desc, w asc)
    top = (
        freq.orderBy(F.col("f").desc(), F.col("w"))
        .limit(max(ks))
        .agg(
            F.array_sort(
                F.collect_list(F.struct((-F.col("f")).alias("nf"), "w", "f"))
            ).alias("top")
        )
    )
    tot = freq.agg(F.sum("f").alias("tot_f"))
    return (
        top.crossJoin(tot)
        .where(F.col("tot_f").isNotNull())  # an empty corpus has no rows
        .select(F.explode(F.array(*map(F.lit, ks))).alias("vocab_k"), "top", "tot_f")
        .select(
            "vocab_k",
            ratio(
                F.aggregate(
                    F.slice("top", 1, F.col("vocab_k")),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x["f"],
                ).cast("double")
                / F.col("tot_f")
            ).alias("coverage"),
        )
    )


@register(
    "llm_context_length_histogram",
    oracle="""
    WITH sized AS (
      SELECT CAST(pow(2, ceil(log2(len(string_split(text, ' '))))) AS BIGINT)
               AS ctx_bucket,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents)
    SELECT ctx_bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bucket_tokens,
           CAST(sum(ctx_bucket - n_tok) AS BIGINT) AS padding_waste
    FROM sized GROUP BY ctx_bucket
    """,
)
def llm_context_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window budget histogram: documents bucketed to the
    next power-of-two sequence length, with per-bucket token mass and
    the padding waste a naive pad-to-bucket batching would pay — the
    numbers that motivate llm_seq_packing. Pure map-side bucket
    arithmetic + one tiny aggregate; log2/pow on exact integer token
    counts is boundary-safe (powers of two are exact doubles)."""
    sized = t(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).cast("long").alias("n_tok")
    ).select(
        "n_tok",
        F.pow(F.lit(2), F.ceil(F.log2("n_tok"))).cast("bigint").alias("ctx_bucket"),
    )
    return sized.groupBy("ctx_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("bucket_tokens"),
        F.sum(F.col("ctx_bucket") - F.col("n_tok")).alias("padding_waste"),
    )


_BM25_QUERY_TERMS = ("spark", "join", "stream")


_BM25_K1, _BM25_B = 1.2, 0.75


@register(
    "llm_bm25_retrieval",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen FROM tok GROUP BY doc_id),
    corpus AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             (SELECT avg(dlen) FROM dl) AS avg_len
      FROM documents),
    qterms AS (SELECT unnest(['spark', 'join', 'stream']) AS w),
    df AS (
      SELECT w, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
      FROM tok WHERE w IN (SELECT w FROM qterms) GROUP BY w),
    tf AS (
      SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf
      FROM tok WHERE w IN (SELECT w FROM qterms) GROUP BY doc_id, w),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * tf.tf * ({_BM25_K1} + 1.0)
                 / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                    + {_BM25_B} * dl.dlen / corpus.avg_len))) AS score
      FROM tf
      JOIN df ON df.w = tf.w
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN corpus
      GROUP BY tf.doc_id)
    SELECT doc_id, round(score, 6) AS bm25
    FROM scored
    ORDER BY round(score, 6) DESC, doc_id
    LIMIT 10
    """,
)
def llm_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (k1=1.2, b=0.75): score every document
    against a fixed 3-term query and return the top-10 — the sparse
    counterpart to the embedding-cosine family (llm_sim_topk) and the
    first-stage retriever in most RAG stacks. Scale shape: term
    frequencies for the QUERY TERMS only (the IN filter prunes the
    exploded stream before the shuffle), document lengths one agg,
    df/N/avgdl are tiny broadcast aggregates — per query the cost is one
    pruned explode + a |matching docs| aggregation, never a corpus-wide
    score sort (TakeOrderedAndProject top-k). Ranking compares scores
    ROUNDED to 6 dp with a doc-id tie-break so a 1-ulp ln()/division
    difference between engines cannot reorder the frontier."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    terms = ", ".join(f"'{t}'" for t in _BM25_QUERY_TERMS)
    return spark.sql(
        f"""
        WITH tok AS (
          SELECT doc_id, explode(split(text, ' ')) AS w FROM documents),
        dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dlen
               FROM tok GROUP BY doc_id),
        corpus AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                 (SELECT avg(dlen) FROM dl) AS avg_len
          FROM documents),
        df AS (
          SELECT w, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
          FROM tok WHERE w IN ({terms}) GROUP BY w),
        tf AS (
          SELECT doc_id, w, CAST(count(*) AS DOUBLE) AS tf
          FROM tok WHERE w IN ({terms}) GROUP BY doc_id, w),
        scored AS (
          SELECT tf.doc_id,
                 sum(ln((corpus.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                     * tf.tf * ({_BM25_K1} + 1.0)
                     / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                        + {_BM25_B} * dl.dlen / corpus.avg_len))) AS score
          FROM tf
          JOIN df ON df.w = tf.w
          JOIN dl ON dl.doc_id = tf.doc_id
          CROSS JOIN corpus
          GROUP BY tf.doc_id)
        SELECT doc_id, round(score, 6) AS bm25
        FROM scored
        ORDER BY round(score, 6) DESC, doc_id
        LIMIT 10
        """
    )


@register(
    "llm_ngram_novelty",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
    shingle AS (
      SELECT DISTINCT doc_id, source,
             unnest(list_transform(generate_series(1, len(tk) - 2),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
      FROM toks WHERE len(tk) >= 3),
    first_seen AS (SELECT sh, min(doc_id) AS first_doc FROM shingle GROUP BY sh),
    per_doc AS (
      SELECT s.doc_id, s.source,
             CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*) AS novelty
      FROM shingle s JOIN first_seen f ON s.sh = f.sh
      GROUP BY s.doc_id, s.source)
    SELECT source, count(*) AS n_docs, round(avg(novelty), 6) AS avg_novelty,
           round(min(novelty), 6) AS min_novelty
    FROM per_doc GROUP BY source
    """,
)
def llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty scoring (the dedup-adjacent freshness
    metric used to spot boilerplate-heavy sources): a document's novelty
    is the fraction of its distinct 3-gram shingles whose FIRST occurrence
    (min doc_id — ingestion order) is this document. Aggregated per
    source, low avg novelty flags template/mirror-dominated feeds before
    any pairwise dedup runs. Scale shape: the global first-occurrence
    table is one min() aggregate keyed by shingle; the rejoin is
    shingle-keyed. Nothing is ever pairwise.

    Round-13 exact-collapse (isolated-cache sweep: 77.0 s cold at 100× —
    full-corpus distinct-shingle stage): a shingle's first occurrence is
    min(doc_id) over the docs containing it, and within a content group
    every doc has the same shingle set — so first_doc(sh) = min over
    groups of the group's global-min doc, ONLY that global-min copy can
    score nonzero novelty (any later copy finds every one of its shingles
    already seen), and per-source stats follow from group multiplicities:
    avg = Σ ν(h over groups first-seen in the source) / Σ mult (the zero
    terms drop out of the sum), min = 0 as soon as the source holds any
    non-first copy. Exploded volume tracks distinct content; oracle
    unchanged. Each stage is an uncached DataFrame argument of the next
    ``spark.sql``; AQE reuses the group-by exchanges that several reads
    repeat, and uncached the op ran faster than with its three staged
    caches (BASELINE.md, "llm_mix and llm_text stage nothing")."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    grp = spark.sql(
        """
        SELECT md5(text) AS h, source, min(doc_id) AS min_doc,
               count(*) AS mult
        FROM documents GROUP BY md5(text), source
        """
    )
    hmin = spark.sql(
        "SELECT h, min(min_doc) AS gdoc FROM {grp} GROUP BY h", grp=grp
    )
    shr = spark.sql(
        """
        SELECT DISTINCT r.h, sh
        FROM {hmin} r
        JOIN (SELECT doc_id, split(text, ' ') AS tk FROM documents) d
          ON d.doc_id = r.gdoc
        LATERAL VIEW explode(transform(
          sequence(0, size(tk) - 3),
          i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
        WHERE size(tk) >= 3
        """,
        hmin=hmin,
    )
    nu = spark.sql(
        """
        SELECT s.h,
               CAST(sum(CASE WHEN f.first_doc = m.gdoc THEN 1 ELSE 0 END)
                    AS DOUBLE) / count(*) AS nu
        FROM {shr} s
        JOIN (SELECT s2.sh, min(m2.gdoc) AS first_doc
              FROM {shr} s2 JOIN {hmin} m2 ON m2.h = s2.h
              GROUP BY s2.sh) f ON f.sh = s.sh
        JOIN {hmin} m ON m.h = s.h
        GROUP BY s.h
        """,
        shr=shr,
        hmin=hmin,
    )
    return spark.sql(
        """
        SELECT g.source, CAST(sum(g.mult) AS BIGINT) AS n_docs,
               round(sum(CASE WHEN m.gdoc = g.min_doc THEN nu.nu
                              ELSE 0e0 END) / sum(g.mult), 6) AS avg_novelty,
               round(min(CASE WHEN m.gdoc = g.min_doc AND g.mult = 1
                              THEN nu.nu ELSE 0e0 END), 6) AS min_novelty
        FROM {grp} g
        JOIN {hmin} m ON m.h = g.h
        JOIN {nu} nu ON nu.h = g.h
        GROUP BY g.source
        """,
        grp=grp,
        hmin=hmin,
        nu=nu,
    )


@register(
    "llm_watermark_greenlist_detect",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, t.token
      FROM documents, unnest(string_split(text, ' ')) AS t(token)
      WHERE t.token <> ''),
    scored AS (
      SELECT doc_id, source, count(*) AS n,
             CAST(sum(CASE WHEN CAST(('0x' || substr(md5(token), 1, 2)) AS INTEGER)
                                % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS g
      FROM tok GROUP BY doc_id, source),
    z AS (
      SELECT doc_id, source, n, g,
             (g - n / 2.0) / sqrt(n / 4.0) AS zscore
      FROM scored WHERE n >= 10)
    SELECT source, count(*) AS n_docs,
           round(avg(zscore), 6) AS avg_z,
           CAST(sum(CASE WHEN zscore > 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_flagged
    FROM z GROUP BY source
    """,
)
def llm_watermark_greenlist_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenlist watermark detection screen (Kirchenbauer et al. 2023,
    arXiv 2301.10226, public): a watermarked generator boosts a
    pseudorandom "green" half of the vocabulary, so watermarked text
    shows a green-token fraction significantly above 1/2 — the one-pass
    z-test (g − n/2)/√(n/4) per document is the detector. The greenlist
    membership here is the md5-parity half of the vocab (the detector's
    real structure with a public hash standing in for the generator's
    keyed PRF). Per-source aggregation is the provenance screen a corpus
    intake runs: a source with inflated average z is machine-generated
    with that watermark key. Map-side token hash + two bounded
    aggregates; no state, no RNG."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH tok AS (
          SELECT doc_id, source, token
          FROM documents LATERAL VIEW explode(split(text, ' ')) AS token
          WHERE token <> ''),
        scored AS (
          SELECT doc_id, source, count(*) AS n,
                 CAST(sum(CASE WHEN CAST(conv(substr(md5(token), 1, 2), 16, 10)
                                    AS INT) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS g
          FROM tok GROUP BY doc_id, source),
        z AS (
          SELECT doc_id, source, n, g,
                 (g - n / 2.0) / sqrt(n / 4.0) AS zscore
          FROM scored WHERE n >= 10)
        SELECT source, count(*) AS n_docs,
               round(avg(zscore), 6) AS avg_z,
               CAST(sum(CASE WHEN zscore > 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_flagged
        FROM z GROUP BY source
        """,
    )


@register(
    "llm_bigram_entropy_rate",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, unnest(generate_series(1, len(tk))) AS pos, tk
      FROM (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents)),
    bigr AS (
      SELECT source, tk[pos] AS prev, tk[pos + 1] AS nxt
      FROM tok WHERE pos < len(tk)),
    pair_cnt AS (
      SELECT source, prev, nxt, count(*) AS c FROM bigr
      GROUP BY source, prev, nxt),
    prev_cnt AS (
      SELECT source, prev, sum(c) AS pc FROM pair_cnt GROUP BY source, prev),
    tot AS (SELECT source, sum(c) AS t FROM pair_cnt GROUP BY source)
    SELECT p.source,
           CAST(max(t.t) AS BIGINT) AS n_bigrams,
           round(-sum((CAST(p.c AS DOUBLE) / t.t)
                      * log2(CAST(p.c AS DOUBLE) / pv.pc)), 6)
             AS cond_entropy_bits,
           CAST(count(*) AS BIGINT) AS n_distinct_bigrams
    FROM pair_cnt p
    JOIN prev_cnt pv ON p.source = pv.source AND p.prev = pv.prev
    JOIN tot t ON p.source = t.source
    GROUP BY p.source
    """,
)
def llm_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional entropy rate per source, H(next | prev) =
    −Σ p(prev,next)·log2 p(next|prev) — the Shannon-style predictability
    measure of a text stream: low entropy flags templated/boilerplate
    feeds (complementing llm_ngram_novelty's first-occurrence view with
    an information-theoretic one), high entropy flags noise. All
    probabilities are exact integer count ratios; the only floats are
    the final log2 terms under round-6. Plan: one position explode, one
    (source, prev, next) aggregate, two bounded-grain joins — the same
    shuffle budget as llm_bigram_lm, which shares the count tables at
    100 TB."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH bigr AS (
          SELECT source, tk[pos] AS prev, tk[pos + 1] AS nxt
          FROM (
            SELECT source, tk, posexplode(tk) AS (pos, tokval)
            FROM (SELECT source, split(text, ' ') AS tk FROM documents))
          WHERE pos < size(tk) - 1),
        pair_cnt AS (
          SELECT source, prev, nxt, count(*) AS c FROM bigr
          GROUP BY source, prev, nxt),
        prev_cnt AS (
          SELECT source, prev, sum(c) AS pc FROM pair_cnt GROUP BY source, prev),
        tot AS (SELECT source, sum(c) AS t FROM pair_cnt GROUP BY source)
        SELECT p.source,
               CAST(max(t.t) AS BIGINT) AS n_bigrams,
               round(-sum((CAST(p.c AS DOUBLE) / t.t)
                          * log2(CAST(p.c AS DOUBLE) / pv.pc)), 6)
                 AS cond_entropy_bits,
               CAST(count(*) AS BIGINT) AS n_distinct_bigrams
        FROM pair_cnt p
        JOIN prev_cnt pv ON p.source = pv.source AND p.prev = pv.prev
        JOIN tot t ON p.source = t.source
        GROUP BY p.source
        """,
    )


@register(
    "llm_collocation_pmi",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(generate_series(1, len(tk))) AS pos, tk
      FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)),
    bigr AS (
      SELECT tk[pos] AS a, tk[pos + 1] AS b
      FROM tok WHERE pos < len(tk)),
    pair_cnt AS (SELECT a, b, count(*) AS c FROM bigr GROUP BY a, b),
    left_cnt AS (SELECT a, sum(c) AS ca FROM pair_cnt GROUP BY a),
    right_cnt AS (SELECT b, sum(c) AS cb FROM pair_cnt GROUP BY b),
    tot AS (SELECT sum(c) AS t FROM pair_cnt)
    SELECT p.a, p.b, CAST(p.c AS BIGINT) AS n_pair,
           round(log2((CAST(p.c AS DOUBLE) * t.t)
                      / (CAST(l.ca AS DOUBLE) * r.cb)), 6) AS pmi
    FROM pair_cnt p
    JOIN left_cnt l ON p.a = l.a
    JOIN right_cnt r ON p.b = r.b
    CROSS JOIN tot t
    WHERE p.c >= 5
    ORDER BY pmi DESC, p.a, p.b
    LIMIT 20
    """,
)
def llm_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information over
    ADJACENT token pairs: PMI = log2(p(a,b)/(p(a)p(b))) with a minimum
    pair count of 5 (the Church–Hanks association measure; the min-count
    floor removes PMI's rare-pair bias). High-PMI adjacent pairs are the
    multi-word expressions a tokenizer or phrase-mining stage should
    treat as units. Candidate pairs are bigrams only — |tokens| pairs,
    never a co-occurrence matrix; the margins are two bounded-grain
    sums of the same pair-count table, and the 1-row total broadcast is
    allowlisted. All probabilities are exact count ratios under
    round-6."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH bigr AS (
          SELECT tk[pos] AS a, tk[pos + 1] AS b
          FROM (
            SELECT tk, posexplode(tk) AS (pos, tokval)
            FROM (SELECT split(text, ' ') AS tk FROM documents))
          WHERE pos < size(tk) - 1),
        pair_cnt AS (SELECT a, b, count(*) AS c FROM bigr GROUP BY a, b),
        left_cnt AS (SELECT a, sum(c) AS ca FROM pair_cnt GROUP BY a),
        right_cnt AS (SELECT b, sum(c) AS cb FROM pair_cnt GROUP BY b),
        tot AS (SELECT sum(c) AS t FROM pair_cnt)
        SELECT p.a, p.b, CAST(p.c AS BIGINT) AS n_pair,
               round(log2((CAST(p.c AS DOUBLE) * t.t)
                          / (CAST(l.ca AS DOUBLE) * r.cb)), 6) AS pmi
        FROM pair_cnt p
        JOIN left_cnt l ON p.a = l.a
        JOIN right_cnt r ON p.b = r.b
        CROSS JOIN tot t
        WHERE p.c >= 5
        ORDER BY pmi DESC, p.a, p.b
        LIMIT 20
        """,
    )


def _ppl_buckets_sql(tok_expr: str, pdisc33: str, pdisc67: str) -> str:
    return f"""
    WITH tok AS (
        SELECT doc_id, lang, {tok_expr} AS token FROM documents),
    freq AS (
        SELECT token, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY token),
    tot AS (SELECT sum(c) AS n FROM freq),
    scored AS (
        SELECT t.doc_id, t.lang, round(avg(-ln(f.c / tot.n)), 6) AS nll
        FROM tok t JOIN freq f ON t.token = f.token, tot
        GROUP BY t.doc_id, t.lang),
    cuts AS (
        SELECT lang, {pdisc33} AS p33, {pdisc67} AS p67
        FROM scored GROUP BY lang)
    SELECT s.lang,
           CASE WHEN s.nll <= c.p33 THEN 'head'
                WHEN s.nll <= c.p67 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(s.nll), 6) AS avg_nll
    FROM scored s JOIN cuts c ON c.lang = s.lang
    GROUP BY s.lang, CASE WHEN s.nll <= c.p33 THEN 'head'
                          WHEN s.nll <= c.p67 THEN 'middle'
                          ELSE 'tail' END
    ORDER BY s.lang, bucket
    """


@register(
    "llm_perplexity_buckets",
    oracle=_ppl_buckets_sql(
        "unnest(string_split(text, ' '))",
        "quantile_disc(nll, 0.33)", "quantile_disc(nll, 0.67)"
    ),
)
def llm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: score every doc with the unigram
    NLL proxy (the llm_perplexity_proxy statistic), then split each
    language into head / middle / tail tertiles at per-language
    percentile_disc cutoffs — the standard quality-stratification that
    decides which third of a crawl gets kept, reweighted, or dropped.
    percentile_disc returns actual data values (no interpolation), so the
    cutoff comparison is exact in both engines; the rounded (6 dp) NLL is
    the bucketing key in BOTH the score and the cutoff, keeping boundary
    docs on the same side. Plan: token explode → broadcast unigram table →
    per-doc agg → per-lang cutoff agg (|langs| rows, broadcast back) →
    bucket counts; no row-grain window anywhere."""
    return sql_q(
        spark,
        sf_dir,
        _ppl_buckets_sql(
            "explode(split(text, ' '))",
            "percentile_disc(0.33) WITHIN GROUP (ORDER BY nll)",
            "percentile_disc(0.67) WITHIN GROUP (ORDER BY nll)",
        ),
    )


def _qclf_sql(tok_count: str) -> str:
    return f"""
    WITH feats AS (
      SELECT doc_id, lang,
             CAST(n_chars AS DOUBLE) AS f_len,
             CAST({tok_count} AS DOUBLE) AS f_words,
             CAST(length(text) - length(replace(text, '.', '')) AS DOUBLE)
               AS f_periods,
             CAST(length(text) - length(replace(text, '!', '')) AS DOUBLE)
               AS f_bangs
      FROM documents),
    scored AS (
      SELECT doc_id, lang,
             round(1.0 / (1.0 + exp(-(
               -2.0
               + 0.004 * least(f_len, 1000.0)
               + 0.02  * least(f_words, 200.0)
               + 0.3   * least(f_periods, 10.0)
               - 0.5   * least(f_bangs, 5.0)))), 6) AS quality_p
      FROM feats)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(quality_p), 6) AS avg_quality,
           CAST(count(*) FILTER (WHERE quality_p >= 0.5) AS BIGINT) AS n_keep,
           round(CAST(count(*) FILTER (WHERE quality_p >= 0.5) AS DOUBLE)
                 / count(*), 6) AS keep_rate
    FROM scored GROUP BY lang ORDER BY lang
    """


@register(
    "llm_quality_classifier_linear",
    oracle=_qclf_sql("len(string_split(text, ' '))"),
)
def llm_quality_classifier_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier (fixed-weight logistic over cheap text
    features: clamped length, word count, sentence punctuation, bang
    density) — the deterministic stand-in for the fastText/linear quality
    models used to gate web crawls (the weights here are frozen
    constants, so the op is exactly oracle-checkable; in production the
    same plan serves trained weights via a broadcast). Entirely map-side
    feature extraction + sigmoid, one lang-grain aggregate: the cheapest
    possible quality gate at 100 TB — no explode, no join, no Python."""
    return sql_q(spark, sf_dir, _qclf_sql("size(split(text, ' '))"))


_PPL_DUCK = """
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents),
    big AS (
      SELECT doc_id, source, tk[i] AS u, tk[i + 1] AS v
      FROM toks, UNNEST(generate_series(1, len(tk) - 1)) AS s(i)
      WHERE len(tk) >= 2),
    vocab AS (
      SELECT CAST(count(DISTINCT w) AS DOUBLE) AS vs
      FROM (SELECT unnest(tk) AS w FROM toks)),
    bc AS (SELECT u, v, count(*) AS cuv FROM big GROUP BY u, v),
    uc AS (SELECT u, count(*) AS cu FROM big GROUP BY u),
    doch AS (
      SELECT b.doc_id, b.source,
             -avg(log2((bc.cuv + 1e0) / (uc.cu + vocab.vs))) AS h
      FROM big b
      JOIN bc ON b.u = bc.u AND b.v = bc.v
      JOIN uc ON b.u = uc.u
      CROSS JOIN vocab
      GROUP BY b.doc_id, b.source),
    cm AS (SELECT avg(h) AS m FROM doch)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(h), 6) AS mean_xent,
           round(max(h), 6) AS max_xent,
           round(avg(pow(2e0, h)), 2) AS mean_ppl,
           CAST(sum(CASE WHEN h > cm.m THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above_corpus_mean
    FROM doch CROSS JOIN cm
    GROUP BY source
    ORDER BY source
"""


@register("llm_perplexity_filter", oracle=_PPL_DUCK)
def llm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based quality scoring (the CCNet/Gopher filter shape,
    with the corpus's own add-1-smoothed bigram LM standing in for the
    external KenLM): per-doc cross-entropy H = -mean log2 P(v|u) with
    P(v|u) = (c(uv)+1)/(c(u)+|V|), then per source the mean/max H, mean
    perplexity 2^H, and how many docs score above the corpus-mean H —
    the high-perplexity tail a curation pipeline routes to quarantine.
    Shares the count-table shape with llm_bigram_lm: two linear
    explode→groupBy passes build c(uv)/c(u), then each doc's bigrams
    join those tables on the token keys (at 100 TB the unigram table
    broadcasts; the bigram table is the one real shuffle join). 1e0/2e0
    literals keep both engines in DOUBLE division (decimal-literal
    trap, see memory).

    Plan note (r6 verdict task #4): the corpus-sized bigram explode was
    referenced 3× and the doc-grain cross-entropy stage 2× through the
    shared CTE. Now c(u) and c(uv) are two windows over the one bigram
    frame that share its exchange on `u`, so the bigrams are counted
    once; the vocabulary subquery explodes the reps once more.

    Round-13 exact-collapse (isolated-cache sweep: 69.9 s cold at 100×):
    H is a pure function of text + the corpus LM tables, so bigrams are
    exploded for ONE representative per distinct text; the LM tables are
    multiplicity-weighted integer sums (cuv = Σ m·k — identical copies
    contribute identical bigram counts), per-group H is the same
    Σ k·log2(p) / Σ k the instance average computes, and the per-source
    doc statistics weight each group by its copy count. `_PPL_DUCK`
    remains the unchanged oracle."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    grp = spark.sql(
        """
        SELECT md5(text) AS h, source, min(doc_id) AS rep_doc,
               count(*) AS mult
        FROM documents GROUP BY md5(text), source
        """
    )
    rep = spark.sql(
        "SELECT h, min(rep_doc) AS rep_doc, sum(mult) AS m FROM {grp} GROUP BY h",
        grp=grp,
    )
    kb = spark.sql(
        """
        SELECT r.h, r.m, element_at(tk, i) AS u, element_at(tk, i + 1) AS v,
               count(*) AS k
        FROM (SELECT r0.h, r0.m, split(d.text, ' ') AS tk
              FROM {rep} r0 JOIN documents d ON d.doc_id = r0.rep_doc) r
        LATERAL VIEW explode(sequence(1, size(tk) - 1)) s AS i
        WHERE size(tk) >= 2
        GROUP BY r.h, r.m, element_at(tk, i), element_at(tk, i + 1)
        """,
        rep=rep,
    )
    gh = spark.sql(
        """
        SELECT h,
               -sum(k * log2((cuv + 1e0)
                    / (cu + (SELECT CAST(count(DISTINCT w) AS DOUBLE)
                             FROM (SELECT explode(split(d2.text, ' ')) AS w
                                   FROM {rep} r2
                                   JOIN documents d2
                                     ON d2.doc_id = r2.rep_doc))))) / sum(k)
                 AS h_val
        FROM (SELECT h, k, cu, sum(k * m) OVER (PARTITION BY u, v) AS cuv
              FROM (SELECT h, m, u, v, k,
                           sum(k * m) OVER (PARTITION BY u) AS cu
                    FROM {kb}))
        GROUP BY h
        """,
        rep=rep,
        kb=kb,
    )
    return spark.sql(
        """
        SELECT g.source,
               CAST(sum(g.mult) AS BIGINT) AS n_docs,
               round(sum(g.mult * gh.h_val) / sum(g.mult), 6) AS mean_xent,
               round(max(gh.h_val), 6) AS max_xent,
               round(sum(g.mult * power(2e0, gh.h_val)) / sum(g.mult), 2)
                 AS mean_ppl,
               CAST(sum(CASE WHEN gh.h_val >
                          (SELECT sum(g2.mult * gh2.h_val) / sum(g2.mult)
                           FROM {grp} g2
                           JOIN {gh} gh2 ON gh2.h = g2.h)
                             THEN g.mult ELSE 0 END) AS BIGINT)
                 AS n_above_corpus_mean
        FROM {grp} g JOIN {gh} gh ON gh.h = g.h
        GROUP BY g.source
        ORDER BY g.source
        """,
        grp=grp,
        gh=gh,
    )


_FERTILITY_SQL = """
    WITH d AS (
      SELECT lang,
             n_chars,
             CAST({ws_tokens} AS BIGINT) AS ws_tok,
             CAST({bpe_tokens} AS BIGINT) AS bpe_tok
      FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(ws_tok) AS BIGINT) AS ws_tokens,
           CAST(sum(bpe_tok) AS BIGINT) AS bpe_tokens,
           round(sum(bpe_tok) * 1e0 / sum(ws_tok), 6) AS fertility,
           round(sum(n_chars) * 1e0 / sum(bpe_tok), 6) AS chars_per_token
    FROM d GROUP BY lang ORDER BY lang
"""


@register(
    "llm_tokenizer_fertility",
    oracle=_FERTILITY_SQL.format(
        ws_tokens="len(string_split(text, ' '))",
        bpe_tokens="len(regexp_extract_all(text,"
        " '[A-Za-z0-9]+|[^A-Za-z0-9 ]'))",
    ),
)
def llm_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per language: BPE-ish tokens (word
    runs + isolated non-alphanumerics, the llm_token_bpe regex family)
    per whitespace token, and characters per token — the
    cross-language cost metric every multilingual tokenizer evaluation
    reports (a language whose fertility is 2x pays 2x context budget
    for the same text). Token counts are exact integers from
    regexp_extract_all lengths; the two ratios are the only floats.
    Scale shape: one linear map-side scan (counts only — the token
    strings are never materialized corpus-wide), then a |langs|-grain
    aggregate."""
    return sql_q(
        spark,
        sf_dir,
        _FERTILITY_SQL.format(
            ws_tokens="size(split(text, ' '))",
            bpe_tokens="size(regexp_extract_all(text,"
            " '[A-Za-z0-9]+|[^A-Za-z0-9 ]', 0))",
        ),
    )


_FORMAT_SQL = """
    WITH f AS (
      SELECT source,
             CASE WHEN position('|' in text) > 0 THEN 1 ELSE 0 END AS has_pipe,
             CASE WHEN position('?' in text) > 0 THEN 1 ELSE 0 END AS has_q,
             CASE WHEN position(':' in text) > 0 THEN 1 ELSE 0 END AS has_colon,
             CASE WHEN position('(' in text) > 0
                    AND position(')' in text) > 0 THEN 1 ELSE 0 END
               AS has_parens,
             CASE WHEN position('.' in text) > 0 THEN 1 ELSE 0 END AS has_period
      FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(sum(has_pipe) * 1e0 / count(*), 6) AS table_markup_rate,
           round(sum(has_q) * 1e0 / count(*), 6) AS question_rate,
           round(sum(has_colon) * 1e0 / count(*), 6) AS keyvalue_rate,
           round(sum(has_parens) * 1e0 / count(*), 6) AS parenthetical_rate,
           round(sum(has_period) * 1e0 / count(*), 6) AS sentence_rate
    FROM f GROUP BY source ORDER BY source
"""


@register("llm_format_detect", oracle=_FORMAT_SQL)
def llm_format_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-format fingerprint per source: rates of table markup
    (pipes), interrogatives, key:value structure, parentheticals and
    sentence punctuation — the cheap structural signals a curation
    router uses to split prose / tabular / Q&A / code-ish shards
    before format-specific cleaning (full regex taggers run after
    this triage, on the shards it selects). Pure position() presence
    tests — one map-side scan, |sources|-grain aggregate, exact
    integer counts under the rounded rates; identical SQL text on
    both engines."""
    return sql_q(spark, sf_dir, _FORMAT_SQL)


_CHARMIX_SQL = """
    WITH c AS (
      SELECT source,
             CAST(length(text) AS BIGINT) AS total,
             CAST(length(regexp_replace(text, '[^A-Za-z]', ''{g}))
                  AS BIGINT) AS letters,
             CAST(length(regexp_replace(text, '[^0-9]', ''{g}))
                  AS BIGINT) AS digits,
             CAST(length(regexp_replace(text, '[^ ]', ''{g}))
                  AS BIGINT) AS spaces
      FROM documents)
    SELECT source,
           CAST(sum(total) AS BIGINT) AS n_chars,
           round(sum(letters) * 1e0 / sum(total), 6) AS letter_share,
           round(sum(digits) * 1e0 / sum(total), 6) AS digit_share,
           round(sum(spaces) * 1e0 / sum(total), 6) AS space_share,
           round(sum(total - letters - digits - spaces) * 1e0 / sum(total), 6)
             AS symbol_share,
           CAST(sum(total - letters - digits - spaces) * 1e0 / sum(total)
                > 0.10 AS BOOLEAN) AS symbol_heavy
    FROM c GROUP BY source ORDER BY source
"""


@register("llm_char_class_mix", oracle=_CHARMIX_SQL.format(g=", 'g'"))
def llm_char_class_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source: letter / digit /
    whitespace / symbol shares with a symbol-heavy flag — the
    mojibake-and-markup tripwire (a crawl source whose symbol share
    jumps is emitting broken encodings or raw markup, and belongs in
    quarantine before tokenization). Class counts via
    strip-and-measure regexp_replace (delete everything outside the
    class, take the length) — exact integers, portable character
    classes, one map-side scan, |sources|-grain aggregate."""
    return sql_q(spark, sf_dir, _CHARMIX_SQL.format(g=""))
