"""Deduplication operators (SURVEY.md §2.11): exact hash-collapse,
MinHash-LSH banding, SimHash, n-gram Jaccard / containment, substring
chunk-overlap (with the stop-chunk df cap), Bloom-probe incremental
dedup, cross-snapshot / prefix / cluster-structure audits, contamination
and decontamination, CDC chunking, and the estimator-calibration audits
(MinHash Jaccard, LSH tuning, SimHash FP).

Scale notes (100 TB):
* Exact dedup shuffles once on the content hash — the hash is computed
  map-side so the shuffle carries (hash, id), not documents.
* MinHash-LSH near-dedup is the linear-time path: banding turns O(n²)
  pairwise comparison into per-bucket joins; buckets are the shuffle key.
* EXACT-COLLAPSE-FIRST everywhere: pair-generating ops collapse verbatim
  copies (min id per md5(text)) before any shingle/chunk work, so the
  pair population is a function of DISTINCT content, not crawl
  duplication (copies² dies at the collapse; boilerplate² dies at the
  stop-chunk cap).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import plan_memo, register
from ..operators._util import _materialize_cache, ratio, sql_q, t
from ._llm_shared import _DOT_ORACLE
from .llm_ann import llm_embed_near_dup


@register(
    "llm_exact_dedup",
    oracle="""
    WITH doubled AS (SELECT doc_id, text FROM documents
                     UNION ALL SELECT doc_id, text FROM documents),
    hashed AS (SELECT doc_id, sha256(lower(trim(text))) AS text_hash FROM doubled)
    SELECT text_hash, min(doc_id) AS keep_doc_id, count(*) AS dup_cnt
    FROM hashed GROUP BY text_hash
    """,
)
@plan_memo
def llm_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a normalized content hash, deterministic keep-lowest-id
    rule. The corpus has no duplicate texts, so the input is doubled via
    self-union to make the dedup real (each hash → dup_cnt 2). Bench
    headline op.

    r16 optimization round: the doubled CTE's two branches are the SAME
    table, so the union is folded algebraically — aggregate the single
    scan and multiply the count by the branch multiplicity (min(doc_id)
    is idempotent across identical branches). One parquet scan + one
    sha2 per row instead of two of each; the shuffle carries the same
    (hash, partial-min, partial-count) rows. Result set is bit-identical
    to the doubled form (mirror-proven at sf0.001/0.01/0.1); the ORACLE
    keeps the doubled CTE, so the equivalence is re-proven at every
    driver gate."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT sha2(lower(trim(text)), 256) AS text_hash,
               min(doc_id) AS keep_doc_id,
               2 * count(*) AS dup_cnt
        FROM documents GROUP BY sha2(lower(trim(text)), 256)
        """,
    )


@register(
    "llm_near_dedup_minhash",
    oracle="""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    toks AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS tk
      FROM documents d JOIN reps USING (doc_id)),
    shingle AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(tk) - 2),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
      FROM toks),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingle GROUP BY doc_id),
    inter AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS shared
      FROM shingle sa JOIN shingle sb ON sa.sh = sb.sh AND sa.doc_id < sb.doc_id
      GROUP BY 1, 2)
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.shared AS DOUBLE) / (za.n + zb.n - i.shared), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE CAST(i.shared AS DOUBLE) / (za.n + zb.n - i.shared) >= 0.2
    """,
)
def llm_near_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs via MLlib MinHash-LSH candidates + EXACT verify.

    Pipeline: tokenize -> 3-shingles -> HashingTF (binary) -> MinHashLSH
    (5 tables, fixed seed 42) -> approxSimilarityJoin at feature-Jaccard
    distance <= 0.8 for CANDIDATES -> exact string-shingle Jaccard verify
    at >= 0.2 (array_intersect on distinct shingle sets). At 100 TB this
    is THE near-dedup path: banding makes candidate generation linear and
    the quadratic verify runs only on band-collision pairs.

    Exact-oracle admissibility (promoted from rows-only in round 4): the
    oracle is the full exact pair set at J >= 0.2. Equality needs LSH
    recall 1.0, which holds here because (a) hashed-feature Jaccard >=
    string Jaccard (HashingTF collisions only merge set elements), so no
    true pair is cut by the 0.8-distance join threshold, and (b) every
    true pair in this corpus has J >= 0.9 (probed at sf0.001/0.01/0.1),
    where a 5-table miss has probability (1-0.9)^5 = 1e-5 per pair - and
    the fixed seed's realized tables were verified to catch all of them
    at all three SFs. The returned ``jaccard`` is the exact string-level
    value, never the hashed-feature estimate.
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # EXACT collapse first (round 11): one representative per distinct
    # text (min doc_id over md5(text)) before featurization — verbatim
    # copies otherwise share every LSH bucket and the candidate set grows
    # ~copies² (the round-10 100x sweep TIMEOUT). Oracle applies the same
    # reps CTE. One linear (hash, id) shuffle; reps joins back by id.
    reps = (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d = (
        t(spark, sf_dir, "documents")
        .join(reps, "doc_id")
        .select("doc_id", F.split("text", " ").alias("toks"))
        # >= 3 tokens ≡ "has at least one 3-shingle". Filtering on toks
        # BEFORE the shingle projection matters: the former post-shingle
        # size(shingles) > 0 predicate was pushed below the reps join by
        # Catalyst, re-evaluating the whole transform/array_distinct HOF
        # per RAW document — 310 s on the 100x corpus (round 11); the
        # pushed-down form of this one is a single split+size per doc.
        # It also matches the oracle exactly: generate_series(1, n-2) is
        # empty below 3 tokens, while Spark's sequence(0, n-3) counts DOWN
        # for n < 3 and would emit junk shingles.
        .where(F.size("toks") >= 3)
    )
    shingled = d.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(toks) - 3),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
            )
        ).alias("shingles"),
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 16, binary=True)
    # cached: the featurized side is read 3x (fit + both join sides), and
    # the materialized cache's statistics let the planner broadcast the
    # LSH bucket join. Uncached, AQE measures the exploded bucket rows
    # (which carry the feature vectors and shingle arrays) above the
    # broadcast threshold and keeps a sort-merge join: fresh at sf0.1 on 4
    # cores 5.53 s uncached against 3.19 s cached (1.73 s against 1.24 s at
    # sf0.01), medians of 10.
    feats = tf.transform(shingled).cache()
    _materialize_cache(spark, feats)
    lsh = MinHashLSH(inputCol="features", outputCol="minhash", numHashTables=5, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.8, distCol="jaccard_dist")
    cand = pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id")).select(
        F.col("datasetA.doc_id").alias("doc_a"),
        F.col("datasetA.shingles").alias("sh_a"),
        F.col("datasetB.doc_id").alias("doc_b"),
        F.col("datasetB.shingles").alias("sh_b"),
    )
    # shuffle() wrap = §4.4 non-determinism pin (r16): size(shuffle(x)) ==
    # size(x), but it stops Catalyst from re-inlining the shingle-set
    # intersect into the >= 0.2 filter and both jaccard references — the
    # plan showed 2 evaluations per candidate pair, now 1. The intersect
    # is projected as its OWN column first (non-deterministic exprs are
    # excluded from codegen CSE, so inlining it into numerator AND union
    # would still evaluate twice). The seed is fixed so that the generated
    # code, which embeds it, is the same at every call and compiles once
    # per session; a seeded shuffle is still non-deterministic.
    inter = F.size(F.shuffle(F.array_intersect("sh_a", "sh_b"), seed=0))
    return (
        cand.select(
            "doc_a",
            "doc_b",
            inter.alias("_i"),
            (F.size("sh_a") + F.size("sh_b")).alias("_s"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("_i").cast("double") / (F.col("_s") - F.col("_i"))).alias("_j"),
        )
        .where(F.col("_j") >= 0.2)
        .select("doc_a", "doc_b", ratio(F.col("_j")).alias("jaccard"))
    )


_MHP = 4294967291  # largest 32-bit prime; a*h+b < 2^57, no 64-bit wrap


def _minhash_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The one Spark-side MinHash-LSH signature pipeline, as three uncached
    frames: ``shingle`` (doc_id, shs: the doc's distinct 3-shingle array,
    over one representative per distinct text), ``sig`` (doc_id, mh0..mh19:
    the 20 affine lanes) and ``cand`` (doc_a < doc_b: the 5x4-band
    candidate pairs). llm_minhash_banding, llm_containment_banded and
    llm_minhash_jaccard_estimate each add one verify query over them, so
    the three ops audit and deploy the same signature bit-for-bit.

    Nothing is cached and no job runs: AQE measures the verify joins'
    inputs at runtime, and the frames reach every later ``spark.sql`` as
    DataFrame arguments, whose temp views Spark drops after analysis."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    # DOC-GRAIN shingle sets (r17; guide §2.4): one distinct-shingle
    # ARRAY per doc feeds the signature build (one explode), makes sizes a
    # free size(shs) projection, and turns the verify into
    # size(array_intersect(..)) in whole-stage codegen, with the exact same
    # shingle multiset per doc as the old exploded (doc_id, sh) grain.
    # The shuffle(array(..), 0) wrap is the §4.4 single-evaluation pin
    # (value-identical: the array has one element; the fixed seed keeps
    # the generated code, which embeds it, the same at every call, so its
    # classes compile once per session). Without it Catalyst
    # falls into a pushdown trap: InferFiltersFromGenerate adds
    # size(shs) > 0 AND isnotnull(shs) for the signature build's
    # explode(shs), and predicate pushdown substitutes the shs and tk
    # aliases down to the documents scan, where split(text, ' ') is
    # re-evaluated inside the shingle lambda once per shingle: quadratic
    # per document. The non-deterministic projection stops the pushdown,
    # so shs is computed once per doc (plan-pinned in tests/test_plans.py).
    # Below 3 tokens shs is empty, as in the oracle's generate_series:
    # sequence(0, size(tk) - 3) counts down there, and tk[-1] raises.
    shingle = spark.sql(
        """
        SELECT doc_id, element_at(shuffle(array(IF(size(tk) < 3, array(),
            array_distinct(transform(sequence(0, size(tk) - 3),
            i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))))), 0), 1) AS shs
        FROM (SELECT d.doc_id, split(d.text, ' ') AS tk
              FROM documents d
              JOIN (SELECT min(doc_id) AS doc_id FROM documents
                    GROUP BY md5(text)) reps USING (doc_id))
        """
    )
    # All 20 min-hashes in ONE aggregation pass: per-row affine mixes
    # fold into map-side partial mins, so the shuffle carries 20
    # columns × n_docs groups, not an exploded (shingle × seed) set.
    minhashes = ",\n".join(
        f"min(({1000003 * (s + 1)} * h + {7919 * s + 271}) % {_MHP}) AS mh{s}"
        for s in range(20)
    )
    sig = spark.sql(
        f"""
        SELECT doc_id, {minhashes}
        FROM (SELECT doc_id,
                     cast(conv(substr(md5(sh), 1, 8), 16, 10) AS bigint) AS h
              FROM (SELECT doc_id, explode(shs) AS sh FROM {{shingle}}))
        GROUP BY doc_id
        """,
        shingle=shingle,
    )
    band_structs = ", ".join(
        "struct({j} AS band_id, md5(concat_ws('|', {cols})) AS band_sig)".format(
            j=j, cols=", ".join(f"cast(mh{4 * j + i} AS string)" for i in range(4))
        )
        for j in range(5)
    )
    # Candidate pairs: a PURE aggregation pipeline (sig agg → band explode
    # → bucket collect → pair distinct), so no strategy choice in it
    # depends on a size estimate. ONE bucket aggregation instead of a band
    # self-join: collect each (band_id, band_sig) bucket's doc list, emit
    # ordered pairs with a higher-order transform, DISTINCT across bands
    # (probed at sf0.1 and amplified sf1: identical 254-pair output, ~15%
    # faster warm than the join). Grain: pairs-per-bucket is quadratic
    # either way (that IS the candidate set); exact duplicates — the one
    # degenerate-bucket source — are collapsed to representatives upstream
    # (round 11), so bucket fan-out tracks DISTINCT near-dup density only.
    cand = spark.sql(
        f"""
        SELECT DISTINCT p.pr.doc_a, p.pr.doc_b
        FROM (
          SELECT explode(flatten(transform(ds, (x, ii) ->
                   slice(transform(ds, y -> struct(x AS doc_a, y AS doc_b)),
                         ii + 2, size(ds))))) AS pr
          FROM (SELECT sort_array(collect_list(doc_id)) AS ds
                FROM (SELECT doc_id, bs.band_id, bs.band_sig FROM {{sig}}
                      LATERAL VIEW explode(array({band_structs})) AS bs)
                GROUP BY band_id, band_sig
                HAVING count(*) > 1)) p
        """,
        sig=sig,
    )
    return shingle, sig, cand


@register(
    "llm_minhash_banding",
    oracle="""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    toks AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS tk
      FROM documents d JOIN reps USING (doc_id)),
    shingle AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(tk) - 2),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
      FROM toks),
    hashed AS (
      SELECT doc_id, sh,
             CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS h
      FROM shingle),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingle GROUP BY doc_id),
    sig AS (
      SELECT doc_id, s.seed,
             min((CAST(1000003 AS BIGINT) * (s.seed + 1) * h
                  + 7919 * s.seed + 271) % 4294967291) AS mh
      FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS seed) s
      GROUP BY doc_id, s.seed),
    band AS (
      SELECT doc_id, seed // 4 AS band_id,
             md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_sig
      FROM sig GROUP BY doc_id, seed // 4),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM band a JOIN band b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS shared
      FROM cand c
      JOIN shingle sa ON sa.doc_id = c.doc_a
      JOIN shingle sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           round(CAST(i.shared AS DOUBLE) / (za.n + zb.n - i.shared), 6) AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE CAST(i.shared AS DOUBLE) / (za.n + zb.n - i.shared) >= 0.2
    """,
)
@plan_memo
def llm_minhash_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding built from pure DataFrame ops (the 100 TB
    near-dedup path, deterministic and exactly oracle-checkable):

    EXACT collapse first (round 11): md5(text) groupBy keeps one
    representative doc_id per distinct text before anything is shingled —
    one linear shuffle carrying (hash, id). On a duplicate-heavy corpus
    (real web crawls; the 100x amplified probe corpus repeats every payload
    verbatim) the verbatim copies otherwise land in the same LSH buckets
    and the candidate pair set grows ~copies² (the 100x sweep TIMEOUT,
    round 10) — collapse makes the pair population a function of DISTINCT
    content only. Oracle applies the same reps CTE, so both engines see
    identical semantics on any corpus. Then:

    distinct 3-token shingles → ONE md5 per shingle, folded to a 32-bit
    base hash → 20 min-hashes from an affine universal-hash family
    ``(a_s·h + b_s) mod p`` (p = 4294967291, largest 32-bit prime; a_s, b_s
    seed-indexed constants) → 5 bands of 4 → band-signature self-join for
    candidates → exact Jaccard verify at ≥ 0.2. Banding makes candidate
    generation linear in corpus size; the quadratic work happens only
    inside band-collision buckets. The affine family replaces the previous
    20-md5s-per-shingle scheme — hashing cost drops 20× (md5 once, then
    integer ops that stay inside whole-stage codegen) and DuckDB replicates
    the signature bit-for-bit (all arithmetic < 2^57, no 64-bit wrap).
    At production scale xxhash64 would replace md5 as the base hash.

    Driver-side construction is a few Py4J calls (memoized corpus views,
    parse four SQL texts: three in ``_minhash_frames``, one verify): the
    Column-op version of this pipeline spent ~0.85 s PER CALL in
    driver-side DataFrame construction alone (hundreds of JVM round-trips
    for 20×6 arithmetic Columns), which dominated the sf0.1 wall-clock.
    The physical plan is identical.

    Nothing is cached, so building the op launches no job. The verify
    joins need no cached size statistics: AQE measures their inputs at
    runtime, so the initial plan keeps sort-merge joins and AQE demotes
    them to broadcast joins only where the measured side is small (sf0.1:
    254 candidate pairs). Nothing is force-broadcast, which OOMed at the
    100x corpus (round 10). A cache would also defeat the ``@plan_memo``
    (registry.py) the op is wrapped in: a repeat caller gets the same
    DataFrame back, and after ``clearCache()`` every hit would rebuild its
    InMemoryRelations in one task inside the result stage, while AQE
    stages are reused from their shuffle files. Composers
    (llm_lsh_tuning_curve, llm_dup_partner_degree_dist) call the
    unmemoized body (``llm_minhash_banding.__wrapped__``)."""
    shingle, _, cand = _minhash_frames(spark, sf_dir)
    # Verify (r17 doc-grain form): |A∩B| via array_intersect on the two
    # shingle-set arrays — arrays hold DISTINCT shingles, so
    # size(array_intersect) equals the old per-pair equi-join count(*)
    # exactly, and size(shs) equals the old per-doc shingle count. The
    # shuffle(.., 0) wrap is the same seeded §4.4 single-evaluation pin:
    # `shared` feeds the filter AND the jaccard projection, and without the pin
    # Catalyst re-inlines the intersect per reference (the
    # llm_near_dedup_minhash finding, r16; plan-pinned in
    # tests/test_plans.py). No BROADCAST hints anywhere (round 10): AQE
    # converts these joins to broadcast only after it has measured a side
    # as small, and a forced broadcast OOMed at 3.5 GiB at the 100x corpus.
    return spark.sql(
        """
        SELECT doc_a, doc_b,
               round(cast(shared AS double) / (na + nb - shared), 6)
                 AS jaccard
        FROM (
          SELECT c.doc_a, c.doc_b,
                 size(shuffle(array_intersect(sa.shs, sb.shs), 0)) AS shared,
                 size(sa.shs) AS na, size(sb.shs) AS nb
          FROM {cand} c
          JOIN {shingle} sa ON sa.doc_id = c.doc_a
          JOIN {shingle} sb ON sb.doc_id = c.doc_b)
        WHERE cast(shared AS double) / (na + nb - shared) >= 0.2
        """,
        cand=cand,
        shingle=shingle,
    )


@register(
    "llm_simhash",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
    bits AS (
      SELECT doc_id, b.b,
             CASE WHEN CAST(floor(CAST(('0x' || substr(md5(token), 1, 4)) AS INTEGER)
                                  / power(2, b.b)) AS INT) % 2 = 1
                  THEN 1 ELSE -1 END AS contrib
      FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) b),
    votes AS (
      SELECT doc_id, b, sum(contrib) AS v FROM bits GROUP BY doc_id, b)
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT)
             AS simhash
    FROM votes GROUP BY doc_id
    """,
)
def llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash document fingerprint: per-token md5 → first 16 bits →
    ±1 votes per bit position weighted by term frequency → sign → bits.
    Near-dup docs differ in few bits (Hamming); exact oracle because md5 and
    the vote arithmetic are engine-independent."""
    d = t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    h = F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("int")
    # single aggregation pass: one ±1 vote column per bit (map-side partial
    # sums; no (token × bit) row explosion), then assemble the 16-bit code.
    votes = tok.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when((F.shiftright(F.col("h"), b) % 2) == 1, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(16)
        ]
    )
    code = None
    for b in range(16):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        code = bit if code is None else code + bit
    return votes.select("doc_id", code.alias("simhash"))


@register(
    "llm_ngram_jaccard",
    oracle="""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    tok AS (
      SELECT DISTINCT d.doc_id, d.source,
             unnest(string_split(d.text, ' ')) AS token
      FROM documents d JOIN reps USING (doc_id)),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_cnt
      FROM tok a JOIN tok b ON a.token = b.token AND a.source = b.source
                           AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(CAST(shared_cnt AS DOUBLE) / (sa.n + sb.n - shared_cnt), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b
    LIMIT 100
    """,
)
def llm_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard similarity for document pairs within the same
    source (the blocking key that bounds the self-join — at 100 TB blocking
    is what keeps pairwise similarity tractable). EXACT-COLLAPSE FIRST
    (round 11): pairs run over one representative per distinct text
    (min doc_id over md5(text)) — verbatim duplicates otherwise make the
    token self-join output grow ~copies² (the round-10 100x sweep
    TIMEOUT); oracle applies the same reps CTE. Top-100 pairs.

    DOC-GRAIN PAIRING (r16, guide §2.3 'shuffle fewer bytes'): the old
    shape exploded to token grain, self-joined on (token, source) —
    ~11M intermediate rows at sf0.1 — and hash-aggregated them back to
    ~0.6M pairs. A pair's shared-token count is just the intersection
    size of the two docs' token SETS, so each doc now carries its
    distinct-token array (map-side ``array_distinct(split(..))``, no
    explode, no distinct shuffle), pairs form once per doc pair on the
    same blocking key, and ``size(array_intersect(..))`` computes
    shared_cnt inside whole-stage codegen. Plan: 3 exchanges + a
    token-grain hash agg collapse into 1 pair join; the oracle's pair
    set is reproduced exactly because pairs with 0 shared tokens are
    filtered (the oracle's inner token join never emits them)."""
    reps = (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d = t(spark, sf_dir, "documents").join(reps, "doc_id")
    # one row per rep doc with its token set; n is the set size (== the
    # old tok-grain count per doc). Both pair-join sides read it uncached.
    docsets = d.select(
        "doc_id",
        "source",
        F.array_distinct(F.split("text", " ")).alias("toks"),
    ).withColumn("n", F.size("toks"))
    a = docsets.alias("a")
    b = docsets.alias("b")
    # the shuffle() wrap is a deliberate non-determinism marker (guide
    # §4.4 applied to a JVM expression): size(shuffle(x)) == size(x)
    # always, but it stops Catalyst from (a) pushing the shared_cnt >= 1
    # filter into the join condition AHEAD of the cheap doc_id conjunct
    # and (b) re-inlining the intersect into filter + both jaccard
    # references — measured 3 evaluations per candidate pair (11.0 s)
    # without it, exactly 1 (3.6 s) with it; the plan pins one
    # array_intersect occurrence. Its seed is fixed so that the generated
    # code, which embeds it, compiles once per session, not at every call.
    shared = F.size(
        F.shuffle(F.array_intersect(F.col("a.toks"), F.col("b.toks")), seed=0)
    )
    return (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            shared.alias("shared_cnt"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .where(F.col("shared_cnt") >= 1)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("shared_cnt").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared_cnt")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.col("jaccard").desc(), "doc_a", "doc_b")
        .limit(100)
    )


@register(
    "llm_dedup_components",
    oracle=f"""
    WITH RECURSIVE reps AS (
      SELECT min(vec_id) AS vec_id FROM embeddings
      WHERE embedding IS NOT NULL GROUP BY embedding),
    e AS (
      SELECT x.vec_id, x.embedding FROM embeddings x JOIN reps USING (vec_id)),
    edges AS (
      SELECT a.vec_id AS src, b.vec_id AS dst
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE round({_DOT_ORACLE.format(a='a.embedding', b='b.embedding')}, 6) >= 0.35),
    undirected AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    nodes AS (
      SELECT DISTINCT src AS v FROM undirected),
    reach AS (
      SELECT v, v AS lbl FROM nodes
      UNION
      SELECT u.dst AS v, r.lbl
      FROM reach r JOIN undirected u ON u.src = r.v)
    SELECT v AS vec_id, min(lbl) AS component_id
    FROM reach GROUP BY v
    """,
)
def llm_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the cosine
    near-dup graph (edges = rounded sim ≥ 0.35), via iterative min-label
    propagation — the GraphFrames-free union-find named in SURVEY.md §4.2.

    Each iteration is one join + aggregate (Pregel-style superstep); the
    loop stops when no label changes. Iteration count is bounded by the
    graph diameter, and each superstep is a fully distributed shuffle-join —
    the standard way to run fixpoint algorithms on Spark without a graph
    library. Only nodes that appear in at least one edge are returned
    (singletons are trivially their own component). Inherits
    llm_embed_near_dup's round-11 exact-collapse, so the edge set (and the
    component graph) is over distinct embedding payloads — exact copies
    belong to their representative's cluster by construction. Oracle:
    recursive-CTE transitive reachability with the same min-label rule
    over the same collapsed reps."""
    edges = (
        llm_embed_near_dup(spark, sf_dir)
        .select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    )
    # the iterative frames are tiny relative to the corpus — size the
    # superstep shuffles to the GRAPH, not the session default (restored
    # below; all loop actions are eager so the conf applies only here)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        labels = _label_propagation_fixpoint(edges)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return labels.select(F.col("v").alias("vec_id"), F.col("lbl").alias("component_id"))


def _label_propagation_fixpoint(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """Min-label propagation with pointer jumping until no label changes.
    localCheckpoint truncates lineage each superstep — without it the
    logical plan nests exponentially across iterations (OOM at plan
    explain time long before data is a problem).

    Raises RuntimeError if the ``max_iter`` cap is hit with labels still
    changing (r16 verdict task #10): returning non-fixpoint labels would be
    silently wrong component ids. With path halving, ``max_iter`` supersteps
    cover ~2^max_iter diameter, so the raise is theoretical — but loud."""
    # checkpoint the DIRECTED edge list FIRST (r16): ``edges`` is the
    # uncached blocked-GEMM near-dup pipeline, and union(edges, reversed)
    # evaluated that whole pipeline once per union branch inside the one
    # checkpoint job — the full GEMM ran twice. Materializing it once and
    # unioning the checkpointed result with its cheap projection halves
    # the edge-build work; the undirected edge set is unchanged.
    ed = edges.localCheckpoint(eager=True)
    und = (
        ed.union(ed.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = (
        und.select(F.col("src").alias("v"))
        .distinct()
        .withColumn("lbl", F.col("v"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):  # pointer jumping: converges in O(log diameter)
        neighbor_min = (
            und.join(labels, und.src == labels.v)
            .groupBy(F.col("dst").alias("v2"))
            .agg(F.min("lbl").alias("nlbl"))
        )
        propagated = labels.join(neighbor_min, labels.v == F.col("v2"), "left").select(
            "v",
            F.col("lbl").alias("_old"),
            F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias("lbl"),
        )
        # pointer jumping (path halving): replace each label by ITS label so
        # chains collapse exponentially instead of one hop per superstep. The
        # jump table is the PREVIOUS iteration's CHECKPOINTED labels, not
        # ``propagated`` itself (r16): a self-join on the unmaterialized
        # propagated frame evaluated its whole join+agg subtree twice per
        # superstep (Catalyst does not CSE across self-join branches). Both
        # jump tables drive the same monotone descent to the same unique
        # fixpoint — every label ends at its component's min id, and the loop
        # only returns AT the fixpoint (changed == 0) — so the result is
        # identical; only the superstep count can differ by O(1).
        hop = labels.select(F.col("v").alias("jv"), F.col("lbl").alias("jlbl"))
        jumped = F.least(F.col("lbl"), F.coalesce("jlbl", F.col("lbl")))
        new_labels = (
            propagated.join(hop, propagated.lbl == hop.jv, "left")
            .select(
                "v",
                jumped.alias("lbl"),
                # changed-flag computed inline (r16): the convergence check
                # used to be a separate shuffle join of new vs old labels;
                # _old rides along from the propagate join, so the check is
                # now a limit-1 scan of the checkpointed superstep output.
                (jumped != F.col("_old")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(F.col("_chg")).limit(1).count()
        labels = new_labels.select("v", "lbl")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"label propagation did not converge within {max_iter} supersteps; "
        "refusing to return non-fixpoint component labels"
    )


@register(
    "llm_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_aggregate(
             list_transform(generate_series(1, len(string_split(text,' ')) - 2),
               i -> md5(concat_ws(' ', string_split(text,' ')[i],
                                       string_split(text,' ')[i+1],
                                       string_split(text,' ')[i+2]))),
             'min') AS fingerprint
    FROM documents
    """,
)
def llm_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-fingerprint (winnowing-lite): min md5 over all 3-token
    shingles — a compact rolling-hash signature for container-level dedup.
    The token array is split ONCE per row into a named column (r16):
    lambda bodies are opaque to Catalyst's subexpression elimination, so
    the inline form re-ran ``split(text, ' ')`` for every shingle index —
    ~3·n_shingles splits per document instead of 1 (guide §1.2 per-task
    work; measured 4.9 s → split-hoisted, plan shows a single split in
    the first Project)."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", F.split("text", " ").alias("tk")).select(
        "doc_id",
        F.expr(
            "array_min(IF(size(tk) < 3, array(), transform(sequence(0, size(tk) - 3),"
            " i -> md5(concat_ws(' ', tk[i], tk[i+1], tk[i+2])))))"
        ).alias("fingerprint"),
    )


@register(
    "llm_contamination",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS tk,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'f' AS is_eval
        FROM documents),
    grams AS (
        SELECT doc_id, is_eval,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(tk) - 4),
                   i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                        || ' ' || tk[i+3] || ' ' || tk[i+4]))) AS gram
        FROM base WHERE len(tk) >= 5),
    train_grams AS (SELECT DISTINCT gram FROM grams WHERE NOT is_eval),
    eval_grams AS (SELECT doc_id, gram FROM grams WHERE is_eval)
    SELECT e.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(t.gram) AS BIGINT) AS n_shared,
           round(CAST(count(t.gram) AS DOUBLE) / count(*), 6) AS contamination
    FROM eval_grams e LEFT JOIN train_grams t ON e.gram = t.gram
    GROUP BY e.doc_id
    """,
)
def llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: per held-out (eval) document, the
    fraction of its distinct 5-gram shingles that also appear anywhere in
    the train split (hash-bucketed eval = md5 first hex 'f', ~6%). This is
    the standard n-gram-overlap decontamination pass run before training.
    At 100 TB the train gram set is pre-deduplicated (one shuffle on the
    gram), eval grams are a sliver joined against it on the gram key; the
    left join keeps zero-overlap docs in the report."""
    base = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split(F.col("text"), " ").alias("tk"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "f").alias("is_eval"),
    ).where(F.size("tk") >= 5)
    grams = base.select(
        "doc_id",
        "is_eval",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, size(tk) - 5),"
                " i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2], tk[i+3], tk[i+4])))"
            )
        ).alias("gram"),
    )
    train_grams = grams.where(~F.col("is_eval")).select("gram").distinct()
    eval_grams = grams.where(F.col("is_eval")).select("doc_id", "gram")
    shared = train_grams.withColumn("hit", F.lit(1))
    return (
        eval_grams.join(shared, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_shared"),
            ratio(F.count("hit") / F.count(F.lit(1))).alias("contamination"),
        )
    )


@register(
    "llm_incremental_bloom_dedup",
    oracle="""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE doc_id % 10 >= 8 AND text IS NOT NULL
      AND md5(text) NOT IN (SELECT md5(text) FROM documents
                            WHERE doc_id % 10 < 8 AND text IS NOT NULL)
    """,
)
def llm_incremental_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-batch dedup with a hand-rolled distributed Bloom
    prefilter: docs with ``doc_id % 10 < 8`` stand in for the already-
    ingested corpus, the rest for today's batch; the op returns the batch
    docs whose content is genuinely new.

    The 100 TB shape this demonstrates: anti-joining a small daily batch
    against the full corpus hash set shuffles the corpus every day. A
    Bloom filter of the corpus hashes is a fixed-size bitmap (m bits,
    built once with a bit_or aggregate — here m = 2^17 as 2048 64-bit
    words) that routes the batch: positions not all set ⇒ DEFINITELY new,
    emitted with no join at all; all k positions set ⇒ *maybe* duplicate,
    and only that sliver takes the exact anti-join confirm. End result is
    EXACT regardless of the filter's false-positive rate — the bitmap only
    decides who pays for the join — so the plain NOT-IN oracle applies
    verbatim. Spark's built-in bloom_filter_agg/might_contain pair is not
    user-callable in this build (probed: UNRESOLVED_ROUTINE; Spark injects
    it only as a runtime join filter, see join_bloom_filter), so the
    bitmap is built from first principles in DataFrame algebra:
    k=3 affine hash positions per doc -> (word = pos div 64,
    mask = 1 << (pos mod 64)) -> groupBy word, bit_or(mask); membership is a
    broadcast equi-join of batch positions against the <=2048-row word
    table — corpus-size-independent traffic either way.
    ``tests/test_properties.py::test_bloom_dedup_result_independent_of_fp_rate``
    pins the exactness claim metamorphically: shrinking the bitmap 512x
    (FP rate ~1.0) must not change the result set."""
    return _bloom_dedup_impl(spark, sf_dir, m_bits=1 << 17)


def _bloom_dedup_impl(spark: SparkSession, sf_dir: str, m_bits: int) -> DataFrame:
    M = m_bits           # bitmap bits
    W = 64               # word width
    P = 4294967291       # 32-bit prime, same family as llm_minhash_banding
    # NULL text has no content hash — excluded from corpus AND batch on
    # both sides (r15 null sweep: one NULL in the oracle's NOT IN set
    # made EVERY membership test UNKNOWN and emptied the result — the
    # join_null_aware_anti trap biting an oracle).
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    h32 = F.expr("cast(conv(substr(md5(text), 1, 8), 16, 10) as bigint)")
    corpus = docs.where(F.col("doc_id") % 10 < 8).select(
        F.md5("text").alias("h"), h32.alias("h32")
    )
    batch = docs.where(F.col("doc_id") % 10 >= 8).select(
        "doc_id", "source", "n_chars", F.md5("text").alias("h"), h32.alias("h32")
    )

    def positions(df):
        pos = F.explode(
            F.array(
                *[
                    ((F.lit(1000003 * (k + 1)) * F.col("h32") + F.lit(7919 * k + 271)) % P) % M
                    for k in range(3)
                ]
            )
        ).alias("pos")
        return df.select(df["*"], pos)

    words = (
        positions(corpus)
        .select((F.col("pos") / W).cast("long").alias("word_idx"),
                F.expr(f"shiftleft(cast(1 as bigint), int(pos % {W}))").alias("mask"))
        .groupBy("word_idx")
        .agg(F.expr("bit_or(mask)").alias("word"))
    )
    # both output branches (definitely-new rows and the maybe-dup sliver
    # that pays the exact anti-join) read ``probed`` uncached: AQE runs the
    # position explode + broadcast membership join once and reuses its
    # exchange for the second branch (fresh at sf0.1, 4 cores: 0.78 s
    # against 0.91 s with the former cache, 6 jobs against 8).
    probed = (
        positions(batch)
        .withColumn("word_idx", (F.col("pos") / W).cast("long"))
        .withColumn("mask", F.expr(f"shiftleft(cast(1 as bigint), int(pos % {W}))"))
        .join(F.broadcast(words), "word_idx", "left")
        .withColumn(
            "hit",
            F.coalesce(F.col("word").bitwiseAND(F.col("mask")) != 0, F.lit(False)),
        )
        .groupBy("doc_id", "source", "n_chars", "h")
        .agg(F.min("hit").alias("all_hit"))
    )
    definitely_new = probed.where(~F.col("all_hit")).select(
        "doc_id", "source", "n_chars"
    )
    confirmed_new = (
        probed.where(F.col("all_hit"))
        .join(corpus.select("h").distinct(), "h", "left_anti")
        .select("doc_id", "source", "n_chars")
    )
    return definitely_new.unionByName(confirmed_new)


@register(
    "llm_chunk_overlap_dedup",
    oracle="""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    toks AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS tk
      FROM documents d JOIN reps USING (doc_id)),
    chunk AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(tk[i:i+19], ' ')) AS ch
      FROM toks, UNNEST(generate_series(1, len(tk) - 19, 10)) AS t(i)
      WHERE len(tk) >= 20)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM chunk a JOIN chunk b ON a.ch = b.ch AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def llm_chunk_overlap_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring partial-duplicate detection: doc pairs sharing at
    least one verbatim 20-token chunk (stride 10, so any >=30-token
    verbatim overlap is guaranteed to align with some chunk) — the
    substring-level dedup family that catches boilerplate and quoted
    passages MinHash's whole-document Jaccard dilutes away. Chunks are
    md5'd (20-token string -> 32 bytes) and pairs form ONLY inside
    equal-hash buckets — a hash-partitioned equi-join, linear in corpus
    size, never all-pairs.

    EXACT collapse first (round 14 — 1000× probe filled 58 GB of local
    shuffle spill and died on disk): pairs form over one representative
    per DISTINCT text (min doc_id over md5(text)), same reps CTE on the
    oracle side. Verbatim copies share every chunk bucket, so the
    uncollapsed pair set grows copies² under duplicate amplification
    (24 M pairs at 100×, ~2.4 B at 1000×) while carrying zero partial-dup
    information — copy↔copy pairs are EXACT duplicates, llm_exact_dedup /
    llm_dedup_survivorship's jurisdiction. Distinct-content grain is the
    production semantics and keeps the pair population a function of
    distinct content, not crawl duplication. 100 TB skew note: chunks
    shared by thousands of DISTINCT docs (licence headers, navigation
    boilerplate) still make quadratic buckets; production inserts a
    doc-frequency cap on chunks (drop ch with count > N as "stop-chunks")
    before the self-join — omitted here so the oracle stays the exact
    pair set."""
    reps = (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d = (
        t(spark, sf_dir, "documents")
        .join(reps, "doc_id")
        .select("doc_id", F.split("text", " ").alias("tk"))
        .where(F.size("tk") >= 20)
    )
    # uncached: both sides of the pair self-join plan the same
    # scan→reps-join→explode→distinct subtree, and AQE runs its distinct
    # exchange once and reuses it for the second side
    chunk = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 19, 10),"
                " i -> md5(array_join(slice(tk, i, 20), ' ')))"
            )
        ).alias("ch"),
    ).distinct()
    a, b = chunk.alias("a"), chunk.alias("b")
    return (
        a.join(b, (F.col("a.ch") == F.col("b.ch")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


_CHUNK_CAPPED_ORACLE_TMPL = """
    WITH reps AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    toks AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS tk
      FROM documents d JOIN reps USING (doc_id)),
    chunk AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(tk[i:i+19], ' ')) AS ch
      FROM toks, UNNEST(generate_series(1, len(tk) - 19, 10)) AS t(i)
      WHERE len(tk) >= 20),
    freq AS (SELECT ch, count(*) AS df FROM chunk GROUP BY ch),
    kept AS (
      SELECT c.doc_id, c.ch FROM chunk c JOIN freq USING (ch)
      WHERE freq.df <= {stop_df}),
    dropped AS (
      SELECT c.doc_id, count(*) AS n_stop FROM chunk c JOIN freq USING (ch)
      WHERE freq.df > {stop_df} GROUP BY c.doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared,
           CAST(coalesce(max(da.n_stop), 0) AS BIGINT) AS stop_dropped_a,
           CAST(coalesce(max(db.n_stop), 0) AS BIGINT) AS stop_dropped_b
    FROM kept a
    JOIN kept b ON a.ch = b.ch AND a.doc_id < b.doc_id
    LEFT JOIN dropped da ON da.doc_id = a.doc_id
    LEFT JOIN dropped db ON db.doc_id = b.doc_id
    GROUP BY 1, 2
    """


_CHUNK_CAPPED_DEFAULT_STOP_DF = 2


@register(
    "llm_chunk_overlap_dedup_capped",
    oracle=_CHUNK_CAPPED_ORACLE_TMPL.format(stop_df=_CHUNK_CAPPED_DEFAULT_STOP_DF),
)
def llm_chunk_overlap_dedup_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """llm_chunk_overlap_dedup with the STOP-CHUNK doc-frequency cap that
    op's docstring deferred (r14 verdict task #3) — the piece that makes
    substring dedup survive boilerplate at 100 TB. Chunks shared by more
    than STOP_DF DISTINCT-content docs (licence headers, navigation bars,
    cookie banners) are "stop-chunks": they carry no pairwise-duplication
    signal — membership in a million-doc boilerplate bucket says the docs
    share the BOILERPLATE, not each other's content — yet each such bucket
    forms df² pairs in the uncapped self-join. The cap drops them BEFORE
    pairing, bounding every bucket's width at STOP_DF and the whole pair
    set at (STOP_DF-1)/2 x |kept chunk instances| — linear in corpus.
    tools/boilerplate_probe.py measures the cliff on a header-injected
    amplified corpus: the uncapped pair set grows quadratically in the
    number of distinct docs sharing one header while the capped op stays
    flat.

    What the cap costs is EXACT and audited: pairs connected only through
    stop-chunks vanish (by design — production re-finds true boilerplate
    dups via llm_template_boilerplate_detect), and every surviving pair
    reports how many stop-chunks each member lost (stop_dropped_a/_b),
    computed linearly at doc grain — so a reader can see which pairs'
    n_shared was deflated by the cap. The exact-collapse-first rule from
    the parent op still applies (reps = min doc_id per md5(text), same
    CTE in the oracle): copies² dies at the collapse, boilerplate² dies
    at the cap — the two quadratic killers of substring dedup, handled in
    that order.

    The cap is the conf ``spark.graft.chunk_dedup.stop_df`` (default 2,
    mirroring ``spark.graft.geo_topk.force_cell_deg``'s override
    pattern). Default 2 because the synthetic corpus's chunk
    doc-frequency tops out at 4 (measured sf0.1), so a production-scale
    cap (~100s) would never fire at any oracle-checked tier and the
    capped path would be dead code at the gate — exactly the
    un-exercised-branch failure mode the r14 geo_grid_topk verdict
    flagged. The registered oracle is pinned at the default; the r16
    window test sweeps a second value (3) with the oracle formatted from
    the SAME template, so every tested cap is oracle-proven. At 100 TB
    the cap is the tunable sized by llm_stop_chunk_stats; the plan shape
    is identical at any value."""
    stop_df = int(
        spark.conf.get(
            "spark.graft.chunk_dedup.stop_df",
            str(_CHUNK_CAPPED_DEFAULT_STOP_DF),
        )
    )
    if stop_df < 1:
        raise ValueError(
            f"spark.graft.chunk_dedup.stop_df={stop_df}: a cap below 1 "
            "drops every chunk; use >=1"
        )
    reps = (
        t(spark, sf_dir, "documents")
        .groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d = (
        t(spark, sf_dir, "documents")
        .join(reps, "doc_id")
        .select("doc_id", F.split("text", " ").alias("tk"))
        .where(F.size("tk") >= 20)
    )
    # uncached: the static plan repeats the scan→reps-join→explode→
    # distinct subtree under freq, kept, dropped and kept's two self-join
    # sides, but AQE runs each repeated exchange once and reuses it
    chunk = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 19, 10),"
                " i -> md5(array_join(slice(tk, i, 20), ' ')))"
            )
        ).alias("ch"),
    ).distinct()
    freq = chunk.groupBy("ch").agg(F.count(F.lit(1)).alias("df"))
    kept = chunk.join(freq.where(F.col("df") <= stop_df), "ch").select("doc_id", "ch")
    dropped = (
        chunk.join(freq.where(F.col("df") > stop_df), "ch")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_stop"))
    )
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, (F.col("a.ch") == F.col("b.ch")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    drop_a = dropped.select(
        F.col("doc_id").alias("doc_a"), F.col("n_stop").alias("_sa")
    )
    drop_b = dropped.select(
        F.col("doc_id").alias("doc_b"), F.col("n_stop").alias("_sb")
    )
    return (
        pairs.join(drop_a, "doc_a", "left")
        .join(drop_b, "doc_b", "left")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.coalesce(F.col("_sa"), F.lit(0)).cast("long").alias("stop_dropped_a"),
            F.coalesce(F.col("_sb"), F.lit(0)).cast("long").alias("stop_dropped_b"),
        )
    )


@register(
    "llm_stop_chunk_stats",
    oracle="""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id FROM documents
      WHERE text IS NOT NULL GROUP BY md5(text)),
    toks AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS tk
      FROM documents d JOIN reps USING (doc_id)),
    chunk AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(tk[i:i+19], ' ')) AS ch
      FROM toks, UNNEST(generate_series(1, len(tk) - 19, 10)) AS t(i)
      WHERE len(tk) >= 20),
    freq AS (SELECT ch, CAST(count(*) AS BIGINT) AS df FROM chunk GROUP BY ch)
    SELECT df,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(count(*) * df AS BIGINT) AS n_instances,
           CAST(count(*) * df * (df - 1) / 2 AS BIGINT) AS pair_work
    FROM freq GROUP BY df
    """,
)
def llm_stop_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk doc-frequency DISTRIBUTION — the audit that tells you where
    to set llm_chunk_overlap_dedup_capped's STOP_DF before running the
    pair join: per df value, how many distinct chunks have it, how many
    chunk instances they account for, and the pair_work they would
    contribute to the uncapped self-join (n_chunks · df·(df−1)/2 — the
    sum over df > N is EXACTLY the work the cap at N eliminates). On a
    boilerplate-heavy corpus this table has a fat tail (one
    million-distinct-doc licence header = one chunk with pair_work
    ~5·10¹¹); reading it costs one linear chunk pass + a |distinct
    chunks|-grain aggregate, which is why production runs the audit
    BEFORE the O(Σ pair_work) join. Same exact-collapse + chunk scheme
    (20-token window, stride 10) and NULL-text exclusion as the whole
    substring-dedup family, so the df grain matches the capped op's
    routing decision one-for-one."""
    reps = (
        t(spark, sf_dir, "documents")
        .where(F.col("text").isNotNull())
        .groupBy(F.md5("text").alias("_h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    d = (
        t(spark, sf_dir, "documents")
        .join(reps, "doc_id")
        .select("doc_id", F.split("text", " ").alias("tk"))
        .where(F.size("tk") >= 20)
    )
    chunk = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 19, 10),"
                " i -> md5(array_join(slice(tk, i, 20), ' ')))"
            )
        ).alias("ch"),
    ).distinct()
    freq = chunk.groupBy("ch").agg(F.count(F.lit(1)).alias("df"))
    return freq.groupBy("df").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        (F.count(F.lit(1)) * F.col("df")).cast("long").alias("n_instances"),
        (F.count(F.lit(1)) * F.col("df") * (F.col("df") - 1) / 2)
        .cast("long")
        .alias("pair_work"),
    )


@register(
    "llm_containment_dedup",
    oracle="""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    sh AS (
      SELECT DISTINCT doc_id, source,
             unnest(list_transform(generate_series(1, len(tk) - 2),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
      FROM (SELECT d.doc_id, d.source, string_split(d.text, ' ') AS tk
            FROM documents d JOIN reps USING (doc_id))
      WHERE len(tk) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_cnt
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.source = b.source
                         AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(CAST(shared_cnt AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(shared_cnt AS DOUBLE) / least(sa.n, sb.n) >= 0.2
    ORDER BY containment DESC, doc_a, doc_b
    LIMIT 100
    """,
)
def llm_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-based near-dedup: shared 3-gram shingles over the
    SMALLER document's shingle count — the asymmetric measure that
    catches quote/sub-document/expansion relationships Jaccard misses
    (a 50-token doc fully embedded in a 5000-token doc has Jaccard ≈
    0.01 but containment 1.0; the Broder resemblance-vs-containment
    distinction). Same-source blocking bounds the self-join exactly as
    llm_ngram_jaccard; shuffle key is (shingle, source), never a pair
    list. EXACT-COLLAPSE FIRST (round 11): pairs run over one
    representative per distinct text — verbatim duplicates otherwise make
    the within-block pair output grow ~copies² (the round-10 100x sweep
    TIMEOUT); oracle applies the same reps CTE. The shingle stage is an
    uncached DataFrame argument read 3x (sizes + both self-join sides):
    AQE runs its exchanges once and reuses them, so no job runs at
    construction (a cache cost 5-6 staging jobs and was slower fresh)."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    sh = spark.sql(
        """
        SELECT DISTINCT doc_id, source, sh
        FROM (SELECT d.doc_id, d.source, split(d.text, ' ') AS tk
              FROM documents d
              JOIN (SELECT min(doc_id) AS doc_id FROM documents
                    GROUP BY md5(text)) reps USING (doc_id))
        LATERAL VIEW explode(transform(
          sequence(0, size(tk) - 3),
          i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
        WHERE size(tk) >= 3
        """
    )
    return spark.sql(
        """
        SELECT doc_a, doc_b,
               round(CAST(shared_cnt AS DOUBLE) / least(sa.n, sb.n), 6) AS containment
        FROM (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_cnt
          FROM {sh} a JOIN {sh} b ON a.sh = b.sh AND a.source = b.source
                                 AND a.doc_id < b.doc_id
          GROUP BY 1, 2) shared
        JOIN (SELECT doc_id, count(*) AS n FROM {sh} GROUP BY doc_id) sa
          ON sa.doc_id = doc_a
        JOIN (SELECT doc_id, count(*) AS n FROM {sh} GROUP BY doc_id) sb
          ON sb.doc_id = doc_b
        WHERE CAST(shared_cnt AS DOUBLE) / least(sa.n, sb.n) >= 0.2
        ORDER BY containment DESC, doc_a, doc_b
        LIMIT 100
        """,
        sh=sh,
    )


@register(
    "llm_dedup_survivorship",
    oracle="""
    WITH g AS (
      SELECT doc_id, n_chars, md5(lower(trim(text))) AS h FROM documents),
    ranked AS (
      SELECT doc_id, h, n_chars,
             row_number() OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id)
               AS rn,
             count(*) OVER (PARTITION BY h) AS sz
      FROM g)
    SELECT substr(h, 1, 8) AS grp,
           max(CASE WHEN rn = 1 THEN doc_id END) AS survivor_doc,
           CAST(max(sz) AS BIGINT) AS n_members,
           CAST(max(sz) - 1 AS BIGINT) AS n_discarded
    FROM ranked WHERE sz > 1 GROUP BY h
    """,
)
def llm_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup with a SURVIVORSHIP POLICY: exact-duplicate groups (normalized
    content hash) keep the highest-quality member — longest document,
    doc_id as the deterministic tiebreak — instead of llm_exact_dedup's
    keep-lowest-id rule. This is the master-data-management half of dedup:
    WHICH copy survives matters when duplicates differ in metadata
    completeness. One hash shuffle; rank and group-size come from the same
    window pass (no second aggregation over raw text), so the 100 TB cost
    is identical to plain exact dedup."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH g AS (
          SELECT doc_id, n_chars, md5(lower(trim(text))) AS h FROM documents),
        ranked AS (
          SELECT doc_id, h, n_chars,
                 row_number() OVER (PARTITION BY h ORDER BY n_chars DESC, doc_id)
                   AS rn,
                 count(*) OVER (PARTITION BY h) AS sz
          FROM g)
        SELECT substr(h, 1, 8) AS grp,
               max(CASE WHEN rn = 1 THEN doc_id END) AS survivor_doc,
               CAST(max(sz) AS BIGINT) AS n_members,
               CAST(max(sz) - 1 AS BIGINT) AS n_discarded
        FROM ranked WHERE sz > 1 GROUP BY h
        """,
    )


_CB_MINHASH_ORACLE = """
    WITH reps AS (
      SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
    toks AS (
      SELECT d.doc_id, string_split(d.text, ' ') AS tk
      FROM documents d JOIN reps USING (doc_id)),
    shingle AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(tk) - 2),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh
      FROM toks),
    hashed AS (
      SELECT doc_id, sh,
             CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS h
      FROM shingle),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingle GROUP BY doc_id),
    sig AS (
      SELECT doc_id, s.seed,
             min((CAST(1000003 AS BIGINT) * (s.seed + 1) * h
                  + 7919 * s.seed + 271) % 4294967291) AS mh
      FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, 19)) AS seed) s
      GROUP BY doc_id, s.seed),
    band AS (
      SELECT doc_id, seed // 4 AS band_id,
             md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_sig
      FROM sig GROUP BY doc_id, seed // 4),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM band a JOIN band b
        ON a.band_id = b.band_id AND a.band_sig = b.band_sig
       AND a.doc_id < b.doc_id),
    shared AS (
      SELECT c.doc_a, c.doc_b, count(*) AS shared_cnt
      FROM cand c
      JOIN shingle sa ON sa.doc_id = c.doc_a
      JOIN shingle sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
      GROUP BY c.doc_a, c.doc_b)
    SELECT s.doc_a, s.doc_b,
           round(CAST(s.shared_cnt AS DOUBLE) / least(za.n, zb.n), 6)
             AS containment
    FROM shared s
    JOIN sizes za ON za.doc_id = s.doc_a
    JOIN sizes zb ON zb.doc_id = s.doc_b
    WHERE CAST(s.shared_cnt AS DOUBLE) / least(za.n, zb.n) >= 0.2
    ORDER BY containment DESC, s.doc_a, s.doc_b
    LIMIT 100
"""


@register("llm_containment_banded", oracle=_CB_MINHASH_ORACLE)
def llm_containment_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production twin of ``llm_containment_dedup``: the same asymmetric
    containment verify (shared shingles / smaller doc's shingle count, the
    Broder containment measure), made linear-time by two composed stages —

    1. EXACT collapse: md5(text) groupBy keeps one representative doc_id
       per distinct text (the upstream stage of every production dedup
       pipeline; one shuffle carrying a 128-bit hash per doc). This removes
       the duplicate-multiplicity blowup that made the anchor quadratic
       (20x at 10x data on a 90%-exact-dup corpus).
    2. MinHash-LSH banding over representatives only — the
       ``llm_minhash_banding`` signature and candidates
       (``_minhash_frames``: one md5 + 20 affine integer lanes per
       shingle, 5x4 bands, band-bucket collect) — feeding the exact
       containment verify at >= 0.2.

    Documented recall tradeoff vs the anchor: minhash banding is tuned for
    resemblance, so a tiny doc fully contained in a huge one (containment
    1.0, Jaccard ~0.01) can miss all 5 bands; the anchor keeps the
    exhaustive-within-source form as the semantic oracle. Deterministic
    end-to-end — DuckDB replicates the affine signature bit-for-bit (all
    arithmetic < 2^57), so the twin stays exactly hash-checkable."""
    shingle, _, cand = _minhash_frames(spark, sf_dir)
    # Same doc-grain verify and single-evaluation pin as the banding op,
    # with the smaller doc's shingle count as the denominator.
    return spark.sql(
        """
        SELECT doc_a, doc_b,
               round(cast(shared AS double) / least(na, nb), 6) AS containment
        FROM (
          SELECT c.doc_a, c.doc_b,
                 size(shuffle(array_intersect(sa.shs, sb.shs), 0)) AS shared,
                 size(sa.shs) AS na, size(sb.shs) AS nb
          FROM {cand} c
          JOIN {shingle} sa ON sa.doc_id = c.doc_a
          JOIN {shingle} sb ON sb.doc_id = c.doc_b)
        WHERE cast(shared AS double) / least(na, nb) >= 0.2
        ORDER BY containment DESC, doc_a, doc_b
        LIMIT 100
        """,
        cand=cand,
        shingle=shingle,
    )


_DUPDIST_SQL = """
    WITH clusters AS (
      SELECT md5(text) AS h, count(*) AS sz FROM documents GROUP BY md5(text))
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs,
           round(CAST(sz * count(*) AS DOUBLE)
                 / (SELECT count(*) FROM documents), 6) AS corpus_share,
           CAST((sz - 1) * count(*) AS BIGINT) AS n_removable
    FROM clusters GROUP BY sz ORDER BY sz
"""


@register("llm_dup_cluster_size_dist", oracle=_DUPDIST_SQL)
def llm_dup_cluster_size_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate cluster-size distribution — the governance readout
    that sizes a dedup run BEFORE paying for it (how many clusters of
    size 2, 3, ...; what fraction of the corpus is removable as
    non-representative copies). Two hash aggregates: content digest →
    cluster sizes, then sizes → histogram; the shuffle carries one
    128-bit hash per doc, then one row per distinct size. The n_removable
    column is exactly the row count llm_exact_dedup would drop — pinned
    by the shared md5(text) grouping."""
    return sql_q(spark, sf_dir, _DUPDIST_SQL)


_XSNAP_SQL = """
    WITH hist AS (
      SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0),
    batch AS (
      SELECT doc_id, source, md5(text) AS h FROM documents WHERE doc_id % 2 = 1)
    SELECT b.source,
           CAST(count(*) AS BIGINT) AS n_batch,
           CAST(count(hist.h) AS BIGINT) AS n_dup_vs_hist,
           CAST(count(*) - count(hist.h) AS BIGINT) AS n_new,
           CAST(count(DISTINCT CASE WHEN hist.h IS NULL THEN b.h END)
                AS BIGINT) AS n_new_unique,
           round(CAST(count(hist.h) AS DOUBLE) / count(*), 6) AS dup_rate
    FROM batch b LEFT JOIN hist ON hist.h = b.h
    GROUP BY b.source ORDER BY b.source
"""


@register("llm_cross_snapshot_dedup", oracle=_XSNAP_SQL)
def llm_cross_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup audit: dedupe an arriving batch (odd
    doc_ids, standing in for today's crawl) against the historical
    snapshot (even doc_ids) by content digest — per source: batch size,
    docs already in history, genuinely new docs, and new-unique after
    within-batch collapse. This is the snapshot-over-snapshot accounting
    every continuously-ingesting corpus runs before appending (the
    companion of llm_incremental_bloom_dedup, which optimizes the same
    anti-join with a Bloom pre-filter). One digest shuffle per side +
    one left join on the 128-bit hash; history side carries DISTINCT
    hashes only, never documents."""
    return sql_q(spark, sf_dir, _XSNAP_SQL)


def _reploop_sql(from_clause: str) -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id, g
      FROM {from_clause}),
    per_gram AS (
      SELECT doc_id, g, count(*) AS c FROM sh GROUP BY doc_id, g),
    per_doc AS (
      SELECT doc_id, sum(c) AS n_grams, max(c) AS max_rep
      FROM per_gram GROUP BY doc_id)
    SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
           CAST(max_rep AS BIGINT) AS max_repeat,
           round(CAST(max_rep AS DOUBLE) / n_grams, 6) AS loop_score,
           CASE WHEN CAST(max_rep AS DOUBLE) / n_grams > 0.1
                THEN 1 ELSE 0 END AS is_loopy
    FROM per_doc
    ORDER BY loop_score DESC, doc_id
    LIMIT 20
    """


@register(
    "llm_repetition_loop_detect",
    oracle=_reploop_sql(
        """(SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(tk) - 2),
                     i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS g
            FROM (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM documents)
            WHERE len(tk) >= 3) sh0"""
    ),
)
def llm_repetition_loop_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degenerate-repetition detector: a document whose single most
    frequent 3-gram carries more than 10% of all its 3-gram mass is the
    looping-generation / boilerplate signature (the n-gram analogue of
    the Gopher repetition rules, scored continuously instead of
    thresholded per rule). Top-20 by loop score.

    Plan (round-13 exact-collapse: the r13 isolated-cache sweep timed the
    full-corpus 3-gram explode at 69.2 s cold at 100×): the loop score is
    a pure function of text, so ONE representative per distinct text is
    exploded; the doc-level top-20 is recovered from the top-20 content
    groups by (rounded score desc, min doc_id) — the same provably-
    containing expansion llm_dsir_importance uses — then re-sorted under
    the original (loop_score DESC, doc_id) order. Oracle unchanged."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    grp = spark.sql(
        "SELECT md5(text) AS h, min(doc_id) AS min_doc"
        " FROM documents GROUP BY md5(text)"
    )
    # split ONCE per representative (r16): the lambda body is opaque to
    # Catalyst CSE, so the inline form re-split the text for every
    # 3-gram index — ~3·n_grams splits per doc (guide §1.2).
    # MAP-SIDE max-repeat (r16 session 3 — the llm_gopher_repetition
    # fold): the per-(h, gram) explode + shuffle count + re-aggregate
    # existed only to produce TWO per-doc scalars, and the old shape also
    # re-evaluated grp's corpus group-by once per reference.
    # max_rep = max gram multiplicity = the longest equal run in the
    # SORTED 3-gram array (sort_array + codegen fold), and n_grams =
    # sum of per-gram counts = size(tk) - 2 exactly, so the top-20 rank
    # runs as one projection + TakeOrdered over the rep join — the
    # (h, g)-grain exchange disappears and grp is referenced once.
    top = spark.sql(
        """
        SELECT h, min_doc, CAST(size(tk) - 2 AS BIGINT) AS n_grams,
               aggregate(
                 sort_array(transform(sequence(0, size(tk) - 3),
                             i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))),
                 named_struct('prev', CAST(NULL AS STRING),
                              'run', 0L, 'best', 0L),
                 (acc, x) -> named_struct(
                   'prev', x,
                   'run', IF(x <=> acc.prev, acc.run + 1L, 1L),
                   'best', greatest(acc.best,
                                    IF(x <=> acc.prev, acc.run + 1L, 1L))),
                 acc -> acc.best) AS max_rep
        FROM (SELECT r.h, r.min_doc, split(d.text, ' ') AS tk
              FROM {grp} r JOIN documents d ON d.doc_id = r.min_doc)
        WHERE size(tk) >= 3
        ORDER BY round(CAST(max_rep AS DOUBLE) / n_grams, 6) DESC, min_doc
        LIMIT 20
        """,
        grp=grp,
    )
    return spark.sql(
        """
        SELECT d.doc_id, CAST(t.n_grams AS BIGINT) AS n_grams,
               CAST(t.max_rep AS BIGINT) AS max_repeat,
               round(CAST(t.max_rep AS DOUBLE) / t.n_grams, 6) AS loop_score,
               CASE WHEN CAST(t.max_rep AS DOUBLE) / t.n_grams > 0.1
                    THEN 1 ELSE 0 END AS is_loopy
        FROM {top} t JOIN documents d ON md5(d.text) = t.h
        ORDER BY loop_score DESC, d.doc_id
        LIMIT 20
        """,
        top=top,
    )


_PREFIX_DUP_SQL = """
    WITH pref AS (
      SELECT doc_id, source, md5(substr(text, 1, 120)) AS ph
      FROM documents WHERE length(text) >= 120),
    clusters AS (
      SELECT ph, count(*) AS sz, count(DISTINCT source) AS n_sources,
             min(doc_id) AS rep_doc
      FROM pref GROUP BY ph)
    SELECT rep_doc, CAST(sz AS BIGINT) AS cluster_size,
           CAST(n_sources AS BIGINT) AS n_sources
    FROM clusters WHERE sz >= 2
    ORDER BY cluster_size DESC, rep_doc
    LIMIT 20
"""


@register("llm_prefix_dup_clusters", oracle=_PREFIX_DUP_SQL)
def llm_prefix_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix duplicate clustering: docs whose first 120 characters
    hash identically form a cluster — the cheap detector for boilerplate
    headers, mirrored pages, and template farms that exact full-text
    dedup misses (bodies differ) and MinHash only catches at higher cost.
    Top-20 clusters with their source spread (a cluster spanning many
    sources = syndicated boilerplate; one source = a template farm). One
    map-side substr+md5, one hash aggregate — the first-pass triage
    before the shingle-level ops run."""
    return sql_q(spark, sf_dir, _PREFIX_DUP_SQL)


def _mh_est_sql() -> str:
    """MinHash estimate-vs-exact oracle (DuckDB). The lane constants are
    IDENTICAL to llm_minhash_banding's, so this op audits the exact
    signature family the production near-dedup runs — including its
    round-11 exact-collapse (one representative per distinct text), which
    also keeps the audited candidate-pair population a function of
    DISTINCT content (uncollapsed, the 100x verbatim-duplicate corpus made
    the pair set copies²-large: sweep TIMEOUT)."""
    shingle = (
        "SELECT DISTINCT d.doc_id,"
        " unnest(list_transform(generate_series(1, len(tk) - 2),"
        " i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh"
        " FROM (SELECT dd.doc_id, string_split(dd.text, ' ') AS tk"
        " FROM documents dd"
        " JOIN (SELECT min(doc_id) AS doc_id FROM documents"
        " GROUP BY md5(text)) reps USING (doc_id)) d"
    )
    base_hash = "CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT)"
    lanes = ",\n             ".join(
        f"min(({1000003 * (s + 1)} * h + {7919 * s + 271}) % {_MHP}) AS mh{s}"
        for s in range(20)
    )
    band = (
        "SELECT doc_id, CAST(seed // 4 AS INT) AS band_id,"
        " md5(string_agg(CAST(mh AS VARCHAR), '|' ORDER BY seed)) AS band_sig"
        " FROM (SELECT doc_id, u.seed,"
        " CASE u.seed "
        + " ".join(f"WHEN {s} THEN mh{s}" for s in range(20))
        + " END AS mh FROM sig CROSS JOIN"
        " (SELECT unnest(generate_series(0, 19)) AS seed) u)"
        " GROUP BY doc_id, seed // 4"
    )
    agree = " + ".join(
        f"(CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END)" for s in range(20)
    )
    return f"""
    WITH shingle AS ({shingle}),
    hashed AS (SELECT doc_id, {base_hash} AS h FROM shingle),
    sig AS (
      SELECT doc_id, {lanes}
      FROM hashed GROUP BY doc_id),
    band AS ({band}),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM band x JOIN band y
        ON x.band_id = y.band_id AND x.band_sig = y.band_sig
       AND x.doc_id < y.doc_id),
    est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(({agree}) AS DOUBLE) / 20 AS est_j
      FROM cand c
      JOIN sig a ON a.doc_id = c.doc_a
      JOIN sig b ON b.doc_id = c.doc_b),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingle GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS shared
      FROM cand c
      JOIN shingle sa ON sa.doc_id = c.doc_a
      JOIN shingle sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
      GROUP BY c.doc_a, c.doc_b)
    SELECT i.doc_a, i.doc_b,
           round(e.est_j, 6) AS est_jaccard,
           round(CAST(i.shared AS DOUBLE) / (za.n + zb.n - i.shared), 6)
             AS exact_jaccard,
           round(abs(e.est_j
                     - CAST(i.shared AS DOUBLE) / (za.n + zb.n - i.shared)), 6)
             AS abs_err
    FROM inter i
    JOIN est e ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b
    JOIN sizes za ON za.doc_id = i.doc_a
    JOIN sizes zb ON zb.doc_id = i.doc_b
    WHERE CAST(i.shared AS DOUBLE) / (za.n + zb.n - i.shared) >= 0.2
    ORDER BY exact_jaccard DESC, i.doc_a, i.doc_b
    """


@register("llm_minhash_jaccard_estimate", oracle=_mh_est_sql())
def llm_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the production MinHash family: for every
    LSH band candidate pair, the 20-lane signature-agreement Jaccard
    ESTIMATE next to the exact shingle-set Jaccard and the absolute error
    — the measurement that justifies (or indicts) a signature budget
    before a 100 TB dedup run ('is 20 lanes enough at our dup density?').
    Same affine lane constants and banding as llm_minhash_banding, so the
    audited estimator IS the deployed one. The signature self-join carries
    20 small ints per row; exact verify touches shingles only for the
    candidate set (LSH-bounded, linear in true-dup density).

    Shingles, signatures and candidates come from ``_minhash_frames``;
    the one query below verifies each candidate like the banding op and
    joins both docs' signatures for the agreement count."""
    shingle, sig, cand = _minhash_frames(spark, sf_dir)
    agree = " + ".join(
        f"(CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END)" for s in range(20)
    )
    return spark.sql(
        f"""
        SELECT doc_a, doc_b,
               round(est_j, 6) AS est_jaccard,
               round(j, 6) AS exact_jaccard,
               round(abs(est_j - j), 6) AS abs_err
        FROM (
          SELECT v.doc_a, v.doc_b, v.j,
                 CAST(({agree}) AS DOUBLE) / 20 AS est_j
          FROM (
            SELECT doc_a, doc_b, cast(shared AS double) / (na + nb - shared) AS j
            FROM (
              SELECT c.doc_a, c.doc_b,
                     size(shuffle(array_intersect(sa.shs, sb.shs), 0)) AS shared,
                     size(sa.shs) AS na, size(sb.shs) AS nb
              FROM {{cand}} c
              JOIN {{shingle}} sa ON sa.doc_id = c.doc_a
              JOIN {{shingle}} sb ON sb.doc_id = c.doc_b)
            WHERE cast(shared AS double) / (na + nb - shared) >= 0.2) v
          JOIN {{sig}} a ON a.doc_id = v.doc_a
          JOIN {{sig}} b ON b.doc_id = v.doc_b)
        ORDER BY exact_jaccard DESC, doc_a, doc_b
        """,
        cand=cand,
        shingle=shingle,
        sig=sig,
    )


def _idf_jaccard_sql() -> str:
    # EXACT-COLLAPSE FIRST (round 11): one representative per distinct
    # text before shingling, as in llm_minhash_banding.
    shingle = (
        "SELECT DISTINCT d.doc_id, d.source,"
        " unnest(list_transform(generate_series(1, len(tk) - 2),"
        " i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS sh"
        " FROM (SELECT dd.doc_id, dd.source, string_split(dd.text, ' ') AS tk"
        " FROM documents dd"
        " JOIN (SELECT min(doc_id) AS doc_id FROM documents"
        " GROUP BY md5(text)) reps USING (doc_id)) d"
    )
    return f"""
    WITH shingle AS ({shingle}),
    nn AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM shingle),
    idf AS (
      SELECT sh, ln(nn.n / count(DISTINCT doc_id)) AS w
      FROM shingle CROSS JOIN nn GROUP BY sh, nn.n),
    wsum AS (
      SELECT s.doc_id, sum(idf.w) AS tw
      FROM shingle s JOIN idf ON idf.sh = s.sh GROUP BY s.doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(idf.w) AS iw
      FROM shingle a
      JOIN shingle b ON b.source = a.source AND b.sh = a.sh
                    AND a.doc_id < b.doc_id
      JOIN idf ON idf.sh = a.sh
      GROUP BY a.doc_id, b.doc_id)
    SELECT i.doc_a, i.doc_b,
           round(i.iw / (wa.tw + wb.tw - i.iw), 6) AS weighted_jaccard
    FROM inter i
    JOIN wsum wa ON wa.doc_id = i.doc_a
    JOIN wsum wb ON wb.doc_id = i.doc_b
    WHERE i.iw / (wa.tw + wb.tw - i.iw) >= 0.2
    ORDER BY weighted_jaccard DESC, i.doc_a, i.doc_b
    LIMIT 20
    """


@register("llm_idf_weighted_jaccard", oracle=_idf_jaccard_sql())
def llm_idf_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted shingle Jaccard for same-source doc pairs: rare
    shingles dominate the similarity, so boilerplate shared by everything
    (navigation chrome, legal footers) stops producing false near-dups —
    the standard upgrade over unweighted Jaccard when a corpus has heavy
    template reuse. weighted_J = Σ_{{A∩B}} idf / Σ_{{A∪B}} idf with
    idf = ln(N/df). Source-blocked self-join (the llm_ngram_jaccard
    blocking) bounds the pair space; the idf join is |vocab|-grain.
    EXACT-COLLAPSE FIRST (round 11): shingles (and hence idf and the pair
    space) come from one representative per distinct text — verbatim
    duplicates otherwise blow the within-block pair output ~copies² (the
    round-10 100x sweep TIMEOUT) AND corrupt idf itself (copies deflate
    every contained shingle's weight); oracle applies the same reps CTE.
    Top-20 pairs at ≥ 0.2.

    Plan note: the shingle explode is corpus-sized and is referenced 5×
    (idf, wsum, both pair sides and the corpus count); the shingle,
    |vocab|-grain idf and doc-grain weight-sum stages are uncached
    DataFrame arguments, and AQE reuses the repeated exchanges (sf0.01:
    9 shuffle stages run, 4 reused). Caching them ran 16 staging jobs at
    construction and was slower fresh at sf0.1 (2.69 s against 2.13 s)
    — `_idf_jaccard_sql()` stays oracle-only."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    sh = spark.sql(
        "SELECT doc_id, source, sh"
        " FROM (SELECT d.doc_id, d.source, split(d.text, ' ') AS tk"
        " FROM documents d"
        " JOIN (SELECT min(doc_id) AS doc_id FROM documents"
        " GROUP BY md5(text)) reps USING (doc_id))"
        " LATERAL VIEW explode(IF(size(tk) < 3, array(), array_distinct(transform("
        "sequence(0, size(tk) - 3),"
        " i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))))) AS sh"
    )
    idf = spark.sql(
        """
        SELECT sh, ln((SELECT CAST(count(DISTINCT doc_id) AS DOUBLE)
                       FROM {sh}) / count(DISTINCT doc_id)) AS w
        FROM {sh} GROUP BY sh
        """,
        sh=sh,
    )
    wsum = spark.sql(
        "SELECT s.doc_id, sum(i.w) AS tw FROM {sh} s"
        " JOIN {idf} i ON i.sh = s.sh GROUP BY s.doc_id",
        sh=sh,
        idf=idf,
    )
    return spark.sql(
        """
        SELECT i.doc_a, i.doc_b,
               round(i.iw / (wa.tw + wb.tw - i.iw), 6) AS weighted_jaccard
        FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, sum(idf.w) AS iw
              FROM {sh} a
              JOIN {sh} b ON b.source = a.source AND b.sh = a.sh
                        AND a.doc_id < b.doc_id
              JOIN {idf} idf ON idf.sh = a.sh
              GROUP BY a.doc_id, b.doc_id) i
        JOIN {wsum} wa ON wa.doc_id = i.doc_a
        JOIN {wsum} wb ON wb.doc_id = i.doc_b
        WHERE i.iw / (wa.tw + wb.tw - i.iw) >= 0.2
        ORDER BY weighted_jaccard DESC, i.doc_a, i.doc_b
        LIMIT 20
        """,
        sh=sh,
        idf=idf,
        wsum=wsum,
    )


def _lsh_tuning_sql(pairs_sql: str) -> str:
    """Config-grid s-curve analysis over an observed near-dup pair set."""
    return f"""
    WITH pairs AS ({pairs_sql}),
    grid AS (
      SELECT * FROM (VALUES (20, 1), (10, 2), (5, 4), (4, 5), (2, 10),
                            (1, 20)) AS g(b, r))
    SELECT g.b AS n_bands, g.r AS rows_per_band,
           round(pow(CAST(1 AS DOUBLE) / g.b,
                     CAST(1 AS DOUBLE) / g.r), 6) AS s_star,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(1 - pow(1 - pow(p.jaccard, g.r), g.b)), 6)
             AS expected_recall,
           round(min(1 - pow(1 - pow(p.jaccard, g.r), g.b)), 6)
             AS worst_pair_recall
    FROM grid g CROSS JOIN pairs p
    GROUP BY g.b, g.r
    ORDER BY g.b DESC
    """


def _register_lsh_tuning() -> None:
    from ..registry import all_oracles

    banding_oracle = all_oracles()["llm_minhash_banding"]

    @register("llm_lsh_tuning_curve", oracle=_lsh_tuning_sql(banding_oracle))
    def llm_lsh_tuning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
        """LSH parameter-sweep planner: for every (bands × rows-per-band)
        split of the 20-lane signature budget, the s-curve threshold
        s* = (1/b)^(1/r) and the expected/worst-case detection recall
        1−(1−J^r)^b over the OBSERVED near-dup pair population (the exact
        Jaccards llm_minhash_banding verified) — the table an engineer
        reads before re-banding a 100 TB dedup ('(5,4) catches 99% of our
        actual dups; (2,10) would miss a third'). The pair set is LSH-
        bounded and the grid is 6 literal rows, so everything after the
        banding pipeline is broadcast arithmetic. Oracle composes the
        banding oracle verbatim as a CTE — lockstep by construction."""
        pairs = llm_minhash_banding.__wrapped__(spark, sf_dir)
        return spark.sql(_lsh_tuning_sql("SELECT * FROM {pairs}"), pairs=pairs)


_register_lsh_tuning()


_CDC_DIVISOR = 16  # expected chunk length ≈ divisor tokens


_CDC_SPARK = f"""
    WITH g AS (
      -- exact-collapse-first (round 13): chunk boundaries depend only on
      -- text, so chunk ONE representative per distinct (text, source)
      -- group and weight instance stats by copy multiplicity — exact
      -- integer products; chunked volume tracks DISTINCT content
      SELECT md5(text) AS ht, source, min(doc_id) AS rep_doc,
             count(*) AS mult
      FROM documents WHERE text IS NOT NULL
      GROUP BY md5(text), source),
    d AS (
      SELECT g.ht, g.source, g.mult, split(dd.text, ' ') AS tk,
             size(split(dd.text, ' ')) AS n
      FROM g JOIN documents dd ON dd.doc_id = g.rep_doc),
    b AS (
      SELECT ht, source, mult, tk, n,
             concat(
               array(0),
               CASE WHEN n >= 4 THEN
                 filter(sequence(3, n - 1), i ->
                   pmod(cast(conv(substr(md5(concat_ws(' ',
                          tk[i - 3], tk[i - 2], tk[i - 1])), 1, 4), 16, 10)
                        AS BIGINT), {_CDC_DIVISOR}) = 0)
               ELSE array() END,
               array(n)) AS bs
      FROM d),
    ch AS (
      SELECT ht, source, mult, c.h AS h, c.len AS len
      FROM b
      LATERAL VIEW explode(
        transform(sequence(1, size(bs) - 1), j -> struct(
          md5(concat_ws(' ',
            slice(tk, element_at(bs, j) + 1,
                  element_at(bs, j + 1) - element_at(bs, j)))) AS h,
          element_at(bs, j + 1) - element_at(bs, j) AS len))) t AS c),
    pergroup AS (
      SELECT ht, source, mult, count(*) AS n_chunks,
             sum(CAST(len AS BIGINT)) AS sum_len
      FROM ch GROUP BY ht, source, mult),
    srcstats AS (
      SELECT source, sum(mult) AS n_docs,
             sum(mult * n_chunks) AS total_chunks,
             sum(mult * sum_len) AS total_len
      FROM pergroup GROUP BY source),
    dch AS (
      SELECT source, count(DISTINCT h) AS distinct_chunks
      FROM ch GROUP BY source)
    SELECT s.source,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(s.total_chunks AS BIGINT) AS total_chunks,
           CAST(d.distinct_chunks AS BIGINT) AS distinct_chunks,
           round(1e0 - CAST(d.distinct_chunks AS DOUBLE) / s.total_chunks, 6)
             AS dup_chunk_rate,
           -- identical to avg over chunk instances: integer-valued double
           -- sums are exact, copies contribute identical chunk sets
           round(CAST(s.total_len AS DOUBLE) / s.total_chunks, 2)
             AS avg_chunk_tokens
    FROM srcstats s JOIN dch d ON d.source = s.source
    ORDER BY s.source
"""


_CDC_DUCK = f"""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS tk,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE text IS NOT NULL),
    b AS (
      SELECT doc_id, source, tk, n,
             list_concat(list_concat([0],
               list_filter(range(3, n), i ->
                 CAST(('0x' || substr(md5(array_to_string(
                        tk[(i - 2):(i)], ' ')), 1, 4)) AS BIGINT)
                   % {_CDC_DIVISOR} = 0)),
               [n]) AS bs
      FROM d),
    ch AS (
      SELECT doc_id, source,
             unnest(list_transform(range(2, len(bs) + 1), j -> struct_pack(
               h := md5(array_to_string(tk[(bs[j - 1] + 1):(bs[j])], ' ')),
               len := bs[j] - bs[j - 1]))) AS c
      FROM b)
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS total_chunks,
           CAST(count(DISTINCT c.h) AS BIGINT) AS distinct_chunks,
           round(1e0 - CAST(count(DISTINCT c.h) AS DOUBLE) / count(*), 6)
             AS dup_chunk_rate,
           round(avg(CAST(c.len AS DOUBLE)), 2) AS avg_chunk_tokens
    FROM ch
    GROUP BY source
    ORDER BY source
"""


@register("llm_cdc_chunking", oracle=_CDC_DUCK)
def llm_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC/rsync family): chunk boundaries
    fall AFTER any token whose trailing 3-token rolling window hashes to
    0 mod 16 — so boundaries are decided by CONTENT, not position, and
    an insertion near a document's head re-chunks only its local
    neighborhood instead of shifting every downstream window (the
    failure mode of llm_window_chunking's fixed stride that makes
    chunk-level dedup miss shifted duplicates). Per source: chunk count,
    distinct-chunk count (md5 identity), the chunk-level dup rate the
    dedup pipeline would harvest, and mean chunk length (≈ the 16-token
    divisor). Pure map-side higher-order functions (split → boundary
    filter → slice+md5 per chunk) then one source-grain aggregate with
    two count-distincts — no shuffle before the final 5-row grain.
    Boundary hash is the portable md5-prefix integer (ml_kfold
    convention) so Spark and DuckDB agree bit-for-bit."""
    return sql_q(spark, sf_dir, _CDC_SPARK)


_DECON_SPARK = """
    WITH toks AS (
      SELECT doc_id, source, split(text, ' ') AS tk,
             CASE WHEN doc_id % 17 = 0 THEN 'eval' ELSE 'train' END AS split
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, source, split,
             md5(array_join(slice(tk, i, 13), ' ')) AS g
      FROM toks
      LATERAL VIEW explode(sequence(1, size(tk) - 12)) s AS i
      WHERE size(tk) >= 13),
    eg AS (SELECT DISTINCT g FROM grams WHERE split = 'eval'),
    hits AS (
      SELECT tg.doc_id, count(*) AS n_hit
      FROM (SELECT doc_id, g FROM grams WHERE split = 'train') tg
      JOIN eg ON tg.g = eg.g
      GROUP BY tg.doc_id),
    tr AS (
      SELECT doc_id, source, count(*) AS n_grams
      FROM grams WHERE split = 'train' GROUP BY doc_id, source)
    SELECT tr.source,
           CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(count(h.doc_id) AS BIGINT) AS n_contaminated_docs,
           round(CAST(count(h.doc_id) AS DOUBLE) / count(*), 6)
             AS contamination_rate,
           CAST(sum(coalesce(h.n_hit, 0)) AS BIGINT) AS n_gram_hits
    FROM tr LEFT JOIN hits h ON tr.doc_id = h.doc_id
    GROUP BY tr.source
    ORDER BY tr.source
"""


_DECON_DUCK = """
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS tk,
             CASE WHEN doc_id % 17 = 0 THEN 'eval' ELSE 'train' END AS split
      FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, source, split,
             md5(array_to_string(tk[i:i + 12], ' ')) AS g
      FROM toks, UNNEST(generate_series(1, len(tk) - 12)) AS s(i)
      WHERE len(tk) >= 13),
    eg AS (SELECT DISTINCT g FROM grams WHERE split = 'eval'),
    hits AS (
      SELECT tg.doc_id, count(*) AS n_hit
      FROM (SELECT doc_id, g FROM grams WHERE split = 'train') tg
      JOIN eg ON tg.g = eg.g
      GROUP BY tg.doc_id),
    tr AS (
      SELECT doc_id, source, count(*) AS n_grams
      FROM grams WHERE split = 'train' GROUP BY doc_id, source)
    SELECT tr.source,
           CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(count(h.doc_id) AS BIGINT) AS n_contaminated_docs,
           round(CAST(count(h.doc_id) AS DOUBLE) / count(*), 6)
             AS contamination_rate,
           CAST(sum(coalesce(h.n_hit, 0)) AS BIGINT) AS n_gram_hits
    FROM tr LEFT JOIN hits h ON tr.doc_id = h.doc_id
    GROUP BY tr.source
    ORDER BY tr.source
"""


@register("llm_decontamination", oracle=_DECON_DUCK)
def llm_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark/eval-set decontamination audit (the GPT-3 / The-Pile
    13-gram protocol): docs with doc_id % 17 = 0 stand in for a held-out
    eval split; a TRAIN doc is contaminated when it shares at least one
    verbatim 13-token n-gram (stride 1) with any eval doc. Per source:
    train-doc count, contaminated-doc count and rate, and the total
    train-doc×gram hit count ``n_gram_hits`` (grams are DISTINCT'd per
    train doc, so a gram shared by k train docs contributes k — the
    per-doc-evidence tally, not a corpus-global distinct-gram count; the
    column was renamed from the misleading ``n_contaminated_grams`` per
    the r8 verdict, hash re-baselined at the r9 gate) — the report a
    curation pipeline signs off before training. Scale shape: n-grams are md5'd map-side so the
    join carries 32-byte keys, the eval-side gram set is DISTINCT'd
    first (eval splits are tiny by construction → broadcast), and the
    train side never self-joins — linear in corpus tokens, one shuffle
    on the gram hash. The stop-gram caveat from llm_chunk_overlap_dedup
    applies at 100 TB: ultra-common grams (boilerplate) would inflate
    hit counts and get a doc-frequency cap in production."""
    return sql_q(spark, sf_dir, _DECON_SPARK)


_BOILER_DUCK = """
    WITH sh AS (
      SELECT DISTINCT doc_id, source,
             unnest(list_transform(generate_series(1, len(tk) - 2),
               i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS g
      FROM (SELECT doc_id, source, string_split(text, ' ') AS tk
            FROM documents) t
      WHERE len(tk) >= 3),
    nd AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
           FROM sh GROUP BY source),
    df AS (
      SELECT sh.source, sh.g, CAST(count(*) AS BIGINT) AS df
      FROM sh GROUP BY sh.source, sh.g)
    SELECT nd.source, nd.docs AS n_docs,
           CAST(count(CASE WHEN df.df * 2 >= nd.docs THEN 1 END) AS BIGINT)
             AS n_boilerplate_shingles,
           CAST(sum(CASE WHEN df.df * 2 >= nd.docs THEN df.df ELSE 0 END)
                AS BIGINT) AS boilerplate_occurrences,
           round(sum(CASE WHEN df.df * 2 >= nd.docs THEN df.df ELSE 0 END)
                 * 1e0 / sum(df.df), 6) AS boilerplate_share
    FROM df JOIN nd ON df.source = nd.source
    GROUP BY nd.source, nd.docs
    ORDER BY nd.source
"""


@register("llm_template_boilerplate_detect", oracle=_BOILER_DUCK)
def llm_template_boilerplate_detect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Template/boilerplate detector per source: a 3-shingle that
    appears in at least HALF the source's documents is boilerplate
    (navigation chrome, legal footers, scraper artifacts — the text
    that IDF-weighting down-ranks and a curation pipeline strips
    before training); reports the boilerplate shingle count and the
    share of the source's shingle mass it owns. Per-doc-DISTINCT
    shingles so a doc repeating its own footer doesn't vote twice.

    Round-13 exact-collapse (isolated-cache sweep: 77.8 s cold at 100× —
    the full-corpus distinct-shingle stage): a doc's DISTINCT shingle set
    is a pure function of text, so shingles are exploded for ONE
    representative per distinct text and the doc-frequency table is the
    multiplicity-weighted sum df(source, g) = Σ_h mult(h, source) over
    groups whose text contains g — each identical copy still votes
    exactly once. Docs-per-source counts texts with ≥3 tokens (groups
    with ≥1 shingle), matching the original filter. Oracle unchanged.
    Scale shape: rep shingle explode is map-side over distinct content;
    one (source, shingle) shuffle at group grain."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    grp = spark.sql(
        """
        SELECT md5(text) AS h, source, min(doc_id) AS rep_doc,
               count(*) AS mult
        FROM documents GROUP BY md5(text), source
        """
    )
    shr = spark.sql(
        """
        SELECT DISTINCT r0.h, g
        FROM (SELECT h, min(rep_doc) AS rep_doc
              FROM {grp} GROUP BY h) r0
        JOIN (SELECT doc_id, split(text, ' ') AS tk FROM documents) d
          ON d.doc_id = r0.rep_doc
        LATERAL VIEW explode(transform(sequence(0, size(tk) - 3),
            i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS g
        WHERE size(tk) >= 3
        """,
        grp=grp,
    )
    return spark.sql(
        """
        SELECT nd.source, nd.docs AS n_docs,
               CAST(count(CASE WHEN df.df * 2 >= nd.docs THEN 1 END)
                    AS BIGINT) AS n_boilerplate_shingles,
               CAST(sum(CASE WHEN df.df * 2 >= nd.docs THEN df.df ELSE 0 END)
                    AS BIGINT) AS boilerplate_occurrences,
               round(sum(CASE WHEN df.df * 2 >= nd.docs
                              THEN df.df ELSE 0 END)
                     * 1e0 / sum(df.df), 6) AS boilerplate_share
        FROM (SELECT g.source, s.g, CAST(sum(g.mult) AS BIGINT) AS df
              FROM {shr} s JOIN {grp} g ON g.h = s.h
              GROUP BY g.source, s.g) df
        JOIN (SELECT g.source, CAST(sum(g.mult) AS BIGINT) AS docs
              FROM {grp} g
              WHERE g.h IN (SELECT DISTINCT h FROM {shr})
              GROUP BY g.source) nd
          ON df.source = nd.source
        GROUP BY nd.source, nd.docs
        ORDER BY nd.source
        """,
        grp=grp,
        shr=shr,
    )


def _simhash_code_sql(h_expr: str) -> str:
    """Per-doc 32-bit SimHash code from per-token hash ints, portable
    (integer-division bit tests — no engine-specific shift/xor). 32 bits
    (not llm_simhash's didactic 16) so the 4 LSH bands below are 8 bits
    wide: 256 values per band keeps band buckets ~n/256 instead of n/16
    — the width IS the scalability lever of simhash banding."""
    votes = ", ".join(
        f"sum(CASE WHEN CAST(floor(h / {1 << b}) AS BIGINT) % 2 = 1"
        f" THEN 1 ELSE -1 END) AS v{b}"
        for b in range(32)
    )
    code = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32)
    )
    return (
        f"SELECT doc_id, source, CAST({code} AS BIGINT) AS sim FROM ("
        f"SELECT doc_id, source, {votes} FROM ("
        f"SELECT doc_id, source, {h_expr} AS h FROM tokrows) hh"
        f" GROUP BY doc_id, source) v"
    )


def _simfp_sql() -> str:
    tokrows = (
        "SELECT doc_id, source, unnest(string_split(text, ' ')) AS token"
        " FROM reps"
    )
    h = "CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT)"
    sh3 = (
        "SELECT DISTINCT doc_id,"
        " unnest(list_transform(generate_series(1, len(tk) - 2),"
        " i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS g"
        " FROM (SELECT doc_id, string_split(text, ' ') AS tk"
        " FROM reps) t WHERE len(tk) >= 3"
    )
    ham = " + ".join(
        f"abs(CAST(floor(a.sim / {1 << b}) AS BIGINT) % 2"
        f" - CAST(floor(b.sim / {1 << b}) AS BIGINT) % 2)"
        for b in range(32)
    )
    return f"""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id, source, text
      FROM documents GROUP BY source, text),
    tokrows AS ({tokrows}),
    sim AS ({_simhash_code_sql(h)}),
    bands AS (
      SELECT doc_id, source, j,
             CAST(floor(sim / CASE j WHEN 0 THEN 1 WHEN 1 THEN 256
                                     WHEN 2 THEN 65536
                                     ELSE 16777216 END)
                  AS BIGINT) % 256 AS bv
      FROM sim CROSS JOIN (SELECT 0 AS j UNION ALL SELECT 1
                           UNION ALL SELECT 2 UNION ALL SELECT 3) js),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.source = y.source AND x.j = y.j AND x.bv = y.bv
       AND x.doc_id < y.doc_id),
    hd AS (
      SELECT c.doc_a, c.doc_b, CAST(({ham}) AS BIGINT) AS hamming
      FROM cand c
      JOIN sim a ON a.doc_id = c.doc_a
      JOIN sim b ON b.doc_id = c.doc_b),
    close AS (SELECT doc_a, doc_b, hamming FROM hd WHERE hamming <= 3),
    sh AS ({sh3}),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
              FROM sh GROUP BY doc_id),
    inter AS (
      SELECT cl.hamming, cl.doc_a, cl.doc_b,
             CAST(count(sb.g) AS BIGINT) AS shared
      FROM close cl
      JOIN sh sa ON sa.doc_id = cl.doc_a
      LEFT JOIN sh sb ON sb.doc_id = cl.doc_b AND sb.g = sa.g
      GROUP BY cl.hamming, cl.doc_a, cl.doc_b),
    verd AS (
      SELECT i.hamming,
             CASE WHEN i.shared * 1e0
                       / (za.n + zb.n - i.shared) >= 0.5
                  THEN 1 ELSE 0 END AS is_true
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b)
    SELECT hamming,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(is_true) AS BIGINT) AS n_true_dups,
           round(1e0 - sum(is_true) * 1e0 / count(*), 6)
             AS false_positive_rate
    FROM verd GROUP BY hamming ORDER BY hamming
    """


@register("llm_simhash_fp_audit", oracle=_simfp_sql())
def llm_simhash_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator-quality audit for the SimHash family (the
    llm_minhash_jaccard_estimate discipline applied to the OTHER
    fingerprint): band-blocked same-source candidate pairs at Hamming
    distance <= 3 on the 32-bit code (4 bands x 8 bits — any pair at
    hamming <= 3 shares a band by pigeonhole), each verified against exact
    3-shingle Jaccard >= 0.5 — per Hamming distance, the candidate
    count and false-positive rate that decide whether a SimHash cutoff
    is safe to deploy at 100 TB. EXACT-COLLAPSE FIRST: identical
    (source, text) docs keep one representative before fingerprinting
    (identical texts are hamming-0 trivial dups that hash dedup already
    catches; without the collapse the band join is quadratic in
    duplicate multiplicity on a dup-heavy corpus). Portable bit
    arithmetic throughout
    (integer-division bit tests, no engine xor/shift). The reps, token,
    code and shingle-set stages are uncached DataFrame arguments on the
    Spark side (AQE reuses their repeated exchanges); the shared builder
    emits the DuckDB oracle."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    # Both reads of ``reps`` filter on its grouping keys: the band join
    # implies isnotnull(source) and the shingle sets need 3 tokens. Pushed
    # below the aggregate one each, they planned two (source, text)
    # exchanges; filtered here once, the reads plan alike and AQE runs
    # one. A rep without both has no shingle set or no same-source
    # partner, so the verify joins drop it anyway.
    reps = spark.sql(
        "SELECT min(doc_id) AS doc_id, source, text FROM documents"
        " WHERE source IS NOT NULL AND size(split(text, ' ')) >= 3"
        " GROUP BY source, text"
    )
    tok = spark.sql(
        "SELECT doc_id, source, explode(split(text, ' ')) AS token"
        " FROM {reps}",
        reps=reps,
    )
    sim = spark.sql(
        _simhash_code_sql(
            "cast(conv(substr(md5(token), 1, 8), 16, 10) AS BIGINT)"
        ).replace("FROM tokrows)", "FROM {tok})"),
        tok=tok,
    )
    # DOC-GRAIN shingle sets (r16, guide §2.3): the exact-Jaccard verify
    # used to run at shingle grain — candidates joined to an exploded
    # (doc_id, g) view twice, then re-aggregated per pair; the shared
    # count is just the intersection size of the two docs' shingle-set
    # arrays, so the explode, the per-(doc_b, g) join and the pair-grain
    # hash agg all collapse into ``size(array_intersect(..))`` in codegen.
    sh = spark.sql(
        "SELECT doc_id, array_distinct(transform("
        "sequence(0, size(tk) - 3),"
        " i -> concat_ws(' ', tk[i], tk[i+1], tk[i+2]))) AS gs"
        " FROM (SELECT doc_id, split(text, ' ') AS tk FROM {reps})",
        reps=reps,
    )
    # One band row per (doc, band); the candidate pairs carry both codes,
    # so no further join reads ``sim``: its two references plan
    # identically, and AQE computes the token explode once and reuses it.
    bands = spark.sql(
        """
        SELECT doc_id, source, sim, j,
               CAST(floor(sim / CASE j WHEN 0 THEN 1 WHEN 1 THEN 256
                   WHEN 2 THEN 65536 ELSE 16777216 END) AS BIGINT) % 256 AS bv
        FROM {sim}
        CROSS JOIN (SELECT 0 AS j UNION ALL SELECT 1
                    UNION ALL SELECT 2 UNION ALL SELECT 3) js
        """,
        sim=sim,
    )
    ham = " + ".join(
        f"abs(CAST(floor(sim_a / {1 << b}) AS BIGINT) % 2"
        f" - CAST(floor(sim_b / {1 << b}) AS BIGINT) % 2)"
        for b in range(32)
    )
    return spark.sql(
        f"""
        SELECT hamming,
               CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(is_true) AS BIGINT) AS n_true_dups,
               round(1e0 - sum(is_true) * 1e0 / count(*), 6)
                 AS false_positive_rate
        FROM (
          SELECT i.hamming,
                 CASE WHEN i.shared * 1e0 / (i.nn - i.shared) >= 0.5
                      THEN 1 ELSE 0 END AS is_true
          FROM (
            SELECT cl.hamming,
                   size(array_intersect(sa.gs, sb.gs)) AS shared,
                   size(sa.gs) + size(sb.gs) AS nn
            FROM (
              SELECT doc_a, doc_b, CAST(({ham}) AS BIGINT) AS hamming
              FROM (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
                                    x.sim AS sim_a, y.sim AS sim_b
                    FROM {{bands}} x JOIN {{bands}} y
                      ON x.source = y.source AND x.j = y.j AND x.bv = y.bv
                     AND x.doc_id < y.doc_id)
              WHERE ({ham}) <= 3) cl
            JOIN {{sh}} sa ON sa.doc_id = cl.doc_a
            JOIN {{sh}} sb ON sb.doc_id = cl.doc_b) i
        ) v
        GROUP BY hamming ORDER BY hamming
        """,
        bands=bands,
        sh=sh,
    )


def _shsens_sql() -> str:
    """Same-source near-dup pair counts at shingle sizes 2/3/5 over the
    exact-collapsed corpus (DuckDB oracle)."""
    parts = []
    for n in (2, 3, 5):
        sh = (
            f"SELECT DISTINCT doc_id, source,"
            f" unnest(list_transform(generate_series(1, len(tk) - {n - 1}),"
            f" i -> concat_ws(' ', "
            + ", ".join(f"tk[i+{j}]" for j in range(n))
            + f"))) AS g FROM (SELECT doc_id, source,"
            f" string_split(text, ' ') AS tk FROM reps) t"
            f" WHERE len(tk) >= {n}"
        )
        parts.append(
            f"""
    SELECT {n} AS shingle_n,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(j), 6) AS mean_jaccard
    FROM (
      SELECT i.shared * 1e0 / (za.n + zb.n - i.shared) AS j
      FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS shared
            FROM ({sh}) a
            JOIN ({sh}) b ON b.source = a.source AND b.g = a.g
                         AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id) i
      JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
            FROM ({sh}) s GROUP BY doc_id) za ON za.doc_id = i.doc_a
      JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
            FROM ({sh}) s GROUP BY doc_id) zb ON zb.doc_id = i.doc_b
      WHERE i.shared * 1e0 / (za.n + zb.n - i.shared) >= 0.5) v"""
        )
    u = " UNION ALL ".join(parts)
    return f"""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id, source, text
      FROM documents GROUP BY source, text)
    SELECT * FROM ({u}) allrows ORDER BY shingle_n
    """


@register("llm_shingle_size_sensitivity", oracle=_shsens_sql())
def llm_shingle_size_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-size sensitivity sweep for the near-dup family: the
    number of same-source pairs at exact Jaccard >= 0.5 and their mean
    similarity, at shingle sizes 2, 3 and 5 — the parameter study that
    justifies the n=3 every other dedup op here uses (small n inflates
    matches with common phrases, large n misses paraphrase overlap;
    the pair count should fall monotonically in n). EXACT-COLLAPSE
    FIRST like its siblings. Scale shape: each arm's shingle explode
    and per-doc shingle counts are uncached DataFrame arguments that the
    static plan repeats per reference; AQE reuses the repeated exchanges
    (sf0.01: 15 shuffle stages run, 3 reused). Caching them ran 14
    staging jobs at construction and was slower fresh. Same SQL
    semantics per arm, oracle unchanged; in production the pair sets
    come from the banding pipeline and this audit runs on candidates
    only."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    reps = spark.sql(
        "SELECT min(doc_id) AS doc_id, source, text"
        " FROM documents GROUP BY source, text"
    )
    parts = []
    frames = {}
    for n in (2, 3, 5):
        grams = ", ".join(f"tk[i+{j}]" for j in range(n))
        sh = frames[f"sh{n}"] = spark.sql(
            f"""
            SELECT doc_id, source, g FROM (SELECT doc_id, source,
            split(text, ' ') AS tk FROM {{reps}})
            LATERAL VIEW explode(array_distinct(transform(
            sequence(0, size(tk) - {n}),
            i -> concat_ws(' ', {grams})))) AS g
            WHERE size(tk) >= {n}
            """,
            reps=reps,
        )
        frames[f"cnt{n}"] = spark.sql(
            "SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM {sh} GROUP BY doc_id",
            sh=sh,
        )
        parts.append(
            f"""
    SELECT {n} AS shingle_n,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(j), 6) AS mean_jaccard
    FROM (
      SELECT i.shared * 1e0 / (za.n + zb.n - i.shared) AS j
      FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS shared
            FROM {{sh{n}}} a
            JOIN {{sh{n}}} b ON b.source = a.source AND b.g = a.g
                         AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id) i
      JOIN {{cnt{n}}} za ON za.doc_id = i.doc_a
      JOIN {{cnt{n}}} zb ON zb.doc_id = i.doc_b
      WHERE i.shared * 1e0 / (za.n + zb.n - i.shared) >= 0.5) v"""
        )
    u = " UNION ALL ".join(parts)
    return spark.sql(f"SELECT * FROM ({u}) allrows ORDER BY shingle_n", **frames)


def _degree_dist_sql(pairs_sql: str) -> str:
    return f"""
    WITH pairs AS ({pairs_sql}),
    deg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_partners
      FROM (SELECT doc_a AS doc_id FROM pairs
            UNION ALL SELECT doc_b FROM pairs) u
      GROUP BY doc_id)
    SELECT n_partners,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(count(*)) OVER (ORDER BY n_partners
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_docs
    FROM deg GROUP BY n_partners ORDER BY n_partners
    """


def _register_dup_partner_degree() -> None:
    from ..registry import all_oracles

    banding_oracle = all_oracles()["llm_minhash_banding"]

    @register(
        "llm_dup_partner_degree_dist",
        oracle=_degree_dist_sql(banding_oracle),
    )
    def llm_dup_partner_degree_dist(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Dup-partner degree distribution of the verified near-dup pair
        graph (llm_minhash_banding's output): how many documents have
        1, 2, ... duplicate partners, with cumulative counts — the
        dedup ops-report that distinguishes 'pairwise near-dups'
        (degree 1-2, survivorship handles it) from 'dup galaxies'
        (high degree = one template spammed corpus-wide, where the
        right action is cluster-level collapse via
        llm_dedup_components, not pairwise removal). Degree grain is
        bounded by the max dup-cluster size; the window runs on the
        |degrees|-row histogram. Oracle composes the banding oracle
        verbatim as a CTE — lockstep by construction. Scale note:
        inherits llm_minhash_banding's round-11 exact-collapse, so the
        pair population (and this histogram) tracks DISTINCT content —
        the formerly output-bound verbatim-duplicate blowup (12.8x
        measured at 10x amplification in round 10) is gone."""
        pairs = llm_minhash_banding.__wrapped__(spark, sf_dir)
        return spark.sql(_degree_dist_sql("SELECT * FROM {pairs}"), pairs=pairs)


_register_dup_partner_degree()
