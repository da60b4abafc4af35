"""Scalar-function batteries (SURVEY.md §2.8): string, regex, date/time,
math, array, higher-order array, explode, JSON, map.

Everything here is a built-in ``pyspark.sql.functions`` expression — JVM-side,
inside whole-stage codegen, no Python boundary. Dialect deltas vs DuckDB are
resolved in the oracle SQL (noted per-operator): 1-based list indexing,
BIGINT year()/ceil(), dayofweek origin, string_split naming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import plan_memo, register
from ._util import money, ratio, sql_q, t


@register(
    "str_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS up_name,
           lower(c_mktsegment) AS lo_seg,
           substr(c_name, 1, 8) AS name8,
           length(c_name) AS name_len,
           concat_ws('-', c_mktsegment, c_name) AS seg_name,
           replace(c_name, '#', '@') AS at_name,
           trim(concat(' ', c_name, ' ')) AS trimmed
    FROM customer
    """,
)
def str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up_name"),
        F.lower("c_mktsegment").alias("lo_seg"),
        F.substring("c_name", 1, 8).alias("name8"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.concat_ws("-", "c_mktsegment", "c_name").alias("seg_name"),
        F.replace("c_name", F.lit("#"), F.lit("@")).alias("at_name"),
        F.trim(F.concat(F.lit(" "), F.col("c_name"), F.lit(" "))).alias("trimmed"),
    )


@register(
    "str_split_regex",
    oracle=r"""
    SELECT p_partkey,
           string_split(p_name, ' ')[1] AS first_word,
           string_split(p_name, ' ')[-1] AS last_word,
           regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled
    FROM part
    """,
)
def str_split_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split + regexp_extract/replace. Oracle deltas: DuckDB lists are
    1-based ([-1] = last) and regexp_replace needs the 'g' flag to match
    Spark's replace-all default."""
    p = t(spark, sf_dir, "part")
    words = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        words.getItem(0).alias("first_word"),
        F.element_at(words, -1).alias("last_word"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
    )


@register(
    "dt_extract",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS o_dow,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(last_day(o_orderdate) AS TIMESTAMP) AS month_end
    FROM orders
    """,
)
def dt_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-part extraction. Oracle deltas: DuckDB year()/month() return
    BIGINT (cast to INT), dayofweek is 0=Sunday vs Spark 1=Sunday (+1)."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofweek("o_orderdate").alias("o_dow"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
    )


@register(
    "dt_arith",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(date_diff('day', o_orderdate, l_shipdate) AS INT) AS ship_days,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date,
           CAST((year(l_shipdate) - year(o_orderdate)) * 12
                + (month(l_shipdate) - month(o_orderdate)) AS INT) AS months_diff,
           CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def dt_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic across the lineitem⋈orders join (ship delay, due
    date, whole-month diff, epoch seconds)."""
    df = t(spark, sf_dir, "lineitem").join(
        t(spark, sf_dir, "orders"), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return df.select(
        "l_orderkey",
        "l_linenumber",
        F.datediff("l_shipdate", "o_orderdate").alias("ship_days"),
        F.date_add(F.col("o_orderdate").cast("date"), 30).cast("timestamp").alias("due_date"),
        (
            (F.year("l_shipdate") - F.year("o_orderdate")) * 12
            + (F.month("l_shipdate") - F.month("o_orderdate"))
        ).alias("months_diff"),
        F.unix_timestamp("o_orderdate").alias("order_epoch"),
    )


@register(
    "math_funcs",
    oracle="""
    SELECT p_partkey,
           round(p_retailprice, 1) AS r1,
           abs(p_retailprice - 1000.0) AS dist1k,
           CAST(ceil(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
           round(sqrt(p_retailprice), 6) AS price_sqrt,
           round(pow(p_retailprice, 0.5) + ln(p_retailprice) + log10(p_retailprice), 6) AS combo,
           CAST(sign(p_retailprice - 1000.0) AS DOUBLE) AS above1k,
           greatest(p_retailprice, 1000.0) AS hi,
           least(p_retailprice, 1000.0) AS lo
    FROM part
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math battery. Oracle deltas: DuckDB ceil/floor return DOUBLE (cast to
    BIGINT to match Spark's LONG), sign returns numeric (cast DOUBLE).
    Transcendentals (ln/log10/pow) rounded to 6 — libm vs JVM last-ulp."""
    p = t(spark, sf_dir, "part")
    price = F.col("p_retailprice")
    return p.select(
        "p_partkey",
        F.round(price, 1).alias("r1"),
        F.abs(price - 1000.0).alias("dist1k"),
        F.ceil(price).alias("price_ceil"),
        F.floor(price).alias("price_floor"),
        ratio(F.sqrt(price)).alias("price_sqrt"),
        ratio(F.pow(price, 0.5) + F.log(price) + F.log10(price)).alias("combo"),
        F.signum(price - 1000.0).alias("above1k"),
        F.greatest(price, F.lit(1000.0)).alias("hi"),
        F.least(price, F.lit(1000.0)).alias("lo"),
    )


@register(
    "arr_basic",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INT) AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
           round(CAST(embedding[-1] AS DOUBLE), 6) AS last_elem,
           array_to_string(list_transform(embedding[1:3],
               x -> CAST(round(CAST(x AS DOUBLE), 6) AS DECIMAL(18,6))), ',') AS head3
    FROM embeddings
    """,
)
def arr_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array basics over the embedding column. Oracle deltas: DuckDB len()
    is BIGINT; DuckDB list slicing [1:3] ≡ Spark slice(arr, 1, 3). head3 is
    flattened through decimal(18,6) → string so both engines render
    identical fixed-point text (double→string diverges on sci-notation)."""
    e = t(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.round(F.element_at(emb, 1).cast("double"), 6).alias("first_elem"),
        F.round(F.element_at(emb, -1).cast("double"), 6).alias("last_elem"),
        F.array_join(
            F.transform(
                F.slice(emb, 1, 3),
                lambda x: F.round(x.cast("double"), 6).cast("decimal(18,6)").cast("string"),
            ),
            ",",
        ).alias("head3"),
    )


@register(
    "arr_higher_order",
    oracle="""
    SELECT vec_id,
           round(sqrt(list_aggregate(
                 list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                 'sum')), 6) AS l2_norm,
           round(list_aggregate(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                'sum'), 6) AS elem_sum,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS pos_cnt
    FROM embeddings
    """,
)
def arr_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order lambdas: aggregate (fold), transform, filter. Floats are
    cast to double INSIDE the lambda so both engines square in float64
    (float32 squaring would diverge)."""
    e = t(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    sq_sum = F.aggregate(
        emb,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    el_sum = F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    return e.select(
        "vec_id",
        ratio(F.sqrt(sq_sum)).alias("l2_norm"),
        ratio(el_sum).alias("elem_sum"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("pos_cnt"),
    )


@register(
    "arr_explode",
    oracle="""
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents) x
    GROUP BY token
    ORDER BY cnt DESC, token
    LIMIT 50
    """,
)
def arr_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + explode + count: the scan→explode→agg shape every text
    pipeline uses. Deterministic cut: (cnt DESC, token)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token"))
        .limit(50)
    )


@register(
    "json_extract",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS k_sum,
           round(avg(CAST(props->>'$.k' AS INT)), 6) AS k_avg,
           count(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
@plan_memo
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-in-string extraction (props = '{"k": <int>}') + aggregation.
    Bench headline op — one SQL text (see ``sql_q``).

    r16 optimization round (guide §1.2 per-task work): the flat form
    passed ``get_json_object(props, '$.k')`` to sum() AND avg(), and the
    physical plan carried TWO copies of the expression into the partial
    aggregate — two JSON parses per row unless codegen subexpression
    elimination happens to fuse them. Projecting the extraction once in a
    subquery makes single-parse-per-row structural: the plan now shows
    partial_sum(j)/partial_avg(j) over one Project-computed attribute.
    Same result set (identical expression, rows preserved)."""
    return sql_q(
        spark,
        sf_dir,
        """
        SELECT event_type,
               sum(j) AS k_sum,
               round(avg(j), 6) AS k_avg,
               count(*) AS cnt
        FROM (SELECT event_type,
                     cast(get_json_object(props, '$.k') AS int) AS j
              FROM events)
        GROUP BY event_type
        """,
    )


@register(
    "dt_format",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m') AS ym,
           strftime(o_orderdate, '%Y-%m-%d %H:%M') AS ymdhm,
           CAST(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d')
                AS TIMESTAMP) AS reparsed,
           CAST(make_date(CAST(year(o_orderdate) AS INT),
                          CAST(month(o_orderdate) AS INT), 1) AS TIMESTAMP) AS month_first
    FROM orders
    """,
)
def dt_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp ↔ string: date_format out, to_timestamp back (lossless
    round-trip), make_date construction. Locale-free patterns only."""
    o = t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm").alias("ymdhm"),
        F.to_timestamp(F.date_format("o_orderdate", "yyyy-MM-dd"), "yyyy-MM-dd").alias(
            "reparsed"
        ),
        F.make_date(F.year("o_orderdate"), F.month("o_orderdate"), F.lit(1))
        .cast("timestamp")
        .alias("month_first"),
    )


@register(
    "str_levenshtein",
    oracle="""
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
     AND a.p_partkey % 20 = 0 AND b.p_partkey % 20 = 0
    """,
)
def str_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance between part names within a brand (fuzzy-matching
    primitive; the brand equi-key blocks the pair space)."""
    a = t(spark, sf_dir, "part").where(F.col("p_partkey") % 20 == 0).alias("a")
    b = t(spark, sf_dir, "part").where(F.col("p_partkey") % 20 == 0).alias("b")
    return a.join(
        b,
        (F.col("a.p_brand") == F.col("b.p_brand"))
        & (F.col("a.p_partkey") < F.col("b.p_partkey")),
    ).select(
        F.col("a.p_partkey").alias("key_a"),
        F.col("b.p_partkey").alias("key_b"),
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name")).alias("edit_dist"),
    )


@register(
    "json_roundtrip",
    oracle="""
    SELECT event_id, event_type AS parsed_type,
           CAST(props->>'$.k' AS INT) AS parsed_k
    FROM events
    """,
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct → to_json → from_json round-trip plus a re-parse of the
    original props payload; proves JSON serialization is lossless for
    typed fields."""
    e = t(spark, sf_dir, "events")
    packed = e.select(
        "event_id",
        F.to_json(
            F.struct("event_type", F.get_json_object("props", "$.k").cast("int").alias("k"))
        ).alias("j"),
    )
    parsed = packed.select(
        "event_id",
        F.from_json("j", "event_type string, k int").alias("s"),
    )
    return parsed.select(
        "event_id",
        F.col("s.event_type").alias("parsed_type"),
        F.col("s.k").alias("parsed_k"),
    )


@register(
    "null_safe_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_quantity / nullif(l_discount, 0.0) AS qty_per_disc,
           coalesce(l_quantity / nullif(l_discount, 0.0), -1.0) AS qty_per_disc_filled,
           TRY_CAST(l_returnflag AS INT) AS flag_as_int
    FROM lineitem
    """,
)
def null_safe_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-free math: try_divide → NULL on /0 (≡ x / nullif(y,0)),
    try_cast on non-numeric strings → NULL instead of failure — the ANSI
    error-handling surface a production pipeline needs to not die on bad
    rows."""
    li = t(spark, sf_dir, "lineitem")
    qpd = F.try_divide("l_quantity", "l_discount")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        qpd.alias("qty_per_disc"),
        F.coalesce(qpd, F.lit(-1.0)).alias("qty_per_disc_filled"),
        F.try_to_number("l_returnflag", F.lit("9")).cast("int").alias("flag_as_int"),
    )


@register(
    "arr_setops",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             coalesce(list_distinct(string_split(text, ' ')),
                      CAST([] AS VARCHAR[])) AS toks
      FROM documents)
    SELECT doc_id,
           coalesce(array_to_string(list_sort(list_distinct(list_concat(toks, ['hash', 'zzz_new']))), ','), '') AS union_toks,
           coalesce(array_to_string(list_sort(list_filter(toks, x -> x IN ('hash', 'join', 'scan'))), ','), '') AS common_toks,
           coalesce(array_to_string(list_sort(list_filter(toks, x -> x NOT IN ('hash', 'join', 'scan'))), ','), '') AS rest_toks,
           (len(list_filter(toks, x -> x IN ('hash', 'join', 'scan'))) > 0) AS has_any
    FROM d
    """,
)
def arr_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra against a constant vocabulary: union / intersect /
    except / overlap. Outputs are sorted then comma-joined — set-op result
    order is engine-specific, and array cells don't survive the external
    canonicalizer (SURVEY.md §5.3). NULL text coalesces to the EMPTY set
    on both sides (r15 null sweep): Spark's array_union(NULL, x) is NULL
    while DuckDB's list_concat(NULL, x) is x — set algebra on an absent
    set is only portable if you pick the identity element explicitly."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.coalesce(
            F.array_distinct(F.split("text", " ")),
            F.array().cast("array<string>"),
        ).alias("toks"),
    )
    probe = F.array(F.lit("hash"), F.lit("join"), F.lit("scan"))
    return d.select(
        "doc_id",
        F.array_join(
            F.array_sort(F.array_union("toks", F.array(F.lit("hash"), F.lit("zzz_new")))),
            ",",
        ).alias("union_toks"),
        F.array_join(F.array_sort(F.array_intersect("toks", probe)), ",").alias("common_toks"),
        F.array_join(F.array_sort(F.array_except("toks", probe)), ",").alias("rest_toks"),
        F.arrays_overlap("toks", probe).alias("has_any"),
    )


@register(
    "str_funcs2",
    oracle="""
    SELECT p_partkey,
           lpad(p_brand, 12, '*') AS padded,
           rpad(p_type, 10, '.') AS rpadded,
           translate(p_name, 'aeiou', 'AEIOU') AS upvowel,
           CAST(strpos(p_name, 'e') AS INT) AS e_pos,
           repeat(p_brand, 2) AS doubled,
           reverse(p_type) AS revtype
    FROM part
    """,
)
def str_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string battery: pad / translate / locate / repeat / reverse
    (oracle delta: DuckDB strpos ≡ Spark locate, both 1-based, 0=missing)."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lpad("p_brand", 12, "*").alias("padded"),
        F.rpad("p_type", 10, ".").alias("rpadded"),
        F.translate("p_name", "aeiou", "AEIOU").alias("upvowel"),
        F.locate("e", "p_name").alias("e_pos"),
        F.repeat("p_brand", 2).alias("doubled"),
        F.reverse("p_type").alias("revtype"),
    )


@register(
    "agg_bitwise",
    oracle="""
    SELECT event_type,
           CAST(bit_and(event_id % 256) AS BIGINT) AS ids_and,
           CAST(bit_or(event_id % 256) AS BIGINT) AS ids_or,
           CAST(bit_xor(event_id % 256) AS BIGINT) AS ids_xor,
           CAST(sum(bit_count(event_id)) AS BIGINT) AS popcount_sum
    FROM events GROUP BY event_type
    """,
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregates (flag-mask rollups) + per-row popcount."""
    e = t(spark, sf_dir, "events")
    masked = (F.col("event_id") % 256).alias("m")
    return e.select("event_type", masked, F.bit_count("event_id").alias("pc")).groupBy(
        "event_type"
    ).agg(
        F.bit_and("m").alias("ids_and"),
        F.bit_or("m").alias("ids_or"),
        F.bit_xor("m").alias("ids_xor"),
        F.sum("pc").cast("bigint").alias("popcount_sum"),
    )


@register(
    "sql_lateral_view",
    oracle="""
    SELECT lang, token, count(*) AS cnt
    FROM (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token IN ('hash', 'join')
    GROUP BY lang, token
    """,
)
def sql_lateral_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HiveQL-compat LATERAL VIEW explode through the SQL surface (the
    TVF-style row-generator syntax; same plan as DataFrame explode)."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT lang, token, count(*) AS cnt
        FROM documents
        LATERAL VIEW explode(split(text, ' ')) tok AS token
        WHERE token IN ('hash', 'join')
        GROUP BY lang, token
        """
    )


@register(
    "xml_roundtrip",
    oracle="""
    SELECT event_id, event_type AS xml_type,
           CAST(props->>'$.k' AS INT) AS xml_k
    FROM events
    """,
)
def xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML as an interchange format: build an XML payload per event, parse
    it back with from_xml (Spark 4 built-in) — lossless for typed fields,
    mirroring json_roundtrip."""
    e = t(spark, sf_dir, "events")
    xml = F.concat(
        F.lit("<ev><t>"),
        F.col("event_type"),
        F.lit("</t><k>"),
        F.get_json_object("props", "$.k"),
        F.lit("</k></ev>"),
    )
    parsed = e.select(
        "event_id",
        F.from_xml(xml, "t STRING, k INT").alias("x"),
    )
    return parsed.select(
        "event_id",
        F.col("x.t").alias("xml_type"),
        F.col("x.k").alias("xml_k"),
    )


@register(
    "sql_udf",
    oracle="""
    SELECT o_orderkey,
           o_totalprice * 0.07 AS tax_due,
           CASE WHEN o_totalprice < 50000 THEN 'S'
                WHEN o_totalprice < 200000 THEN 'M'
                ELSE 'L' END AS size_band
    FROM orders
    """,
)
def sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-language UDFs (Spark 4 CREATE FUNCTION … RETURN expr): unlike
    Python UDFs these inline into the plan as expressions — full codegen,
    zero serialization boundary; the right way to package reusable scalar
    logic for SQL users."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tax_due(p DOUBLE)"
        " RETURNS DOUBLE RETURN p * 0.07"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION size_band(p DOUBLE) RETURNS STRING"
        " RETURN CASE WHEN p < 50000 THEN 'S' WHEN p < 200000 THEN 'M' ELSE 'L' END"
    )
    return spark.sql(
        """
        SELECT o_orderkey, tax_due(o_totalprice) AS tax_due,
               size_band(o_totalprice) AS size_band
        FROM orders
        """
    )


@register(
    "json_variant",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS k_sum,
           count(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT type (Spark 4): parse once with parse_json,
    extract typed paths with variant_get — the open-schema column pattern
    (vs per-access get_json_object string re-parsing in json_extract)."""
    e = t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'int')")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").alias("k_sum"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "map_ops",
    oracle="""
    WITH per_type AS (
      SELECT user_id, event_type, count(*) AS cnt
      FROM events GROUP BY user_id, event_type)
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY event_type) AS type_keys,
           string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY event_type) AS type_counts
    FROM per_type GROUP BY user_id
    """,
)
def map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build map<event_type → count> per user, read it back as sorted,
    comma-joined key/value strings (MAP iteration order is engine-specific
    and array cells don't survive the external canonicalizer — SURVEY.md
    §2.8 map_ops + §5.3)."""
    e = t(spark, sf_dir, "events")
    per_type = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    with_map = per_type.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "cnt"))).alias("m")
    )
    keys = F.array_sort(F.map_keys(F.col("m")))
    return with_map.select(
        "user_id",
        F.array_join(keys, ",").alias("type_keys"),
        F.array_join(
            F.transform(keys, lambda k: F.element_at(F.col("m"), k).cast("string")), ","
        ).alias("type_counts"),
    )


@register(
    "dt_timezone",
    oracle="""
    SELECT (CAST(o_orderdate AS TIMESTAMP) AT TIME ZONE 'UTC')
               AT TIME ZONE 'America/New_York' AS ny_wall,
           CAST(extract(hour FROM (CAST(o_orderdate AS TIMESTAMP) AT TIME ZONE 'UTC')
               AT TIME ZONE 'America/New_York') AS INT) AS ny_hour,
           CAST(count(*) AS BIGINT) AS cnt
    FROM orders
    WHERE o_orderkey < 500
    GROUP BY 1, 2
    """,
)
def dt_timezone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone conversion surface: UTC instant → America/New_York wall
    clock (from_utc_timestamp ≡ PG/DuckDB's double AT TIME ZONE hop), with
    DST-correct offsets from the shared IANA tzdb. Grouped to exercise tz
    conversion inside aggregation keys."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    ny = F.from_utc_timestamp("o_orderdate", "America/New_York")
    return (
        o.select(ny.alias("ny_wall"), F.hour(ny).alias("ny_hour"))
        .groupBy("ny_wall", "ny_hour")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "str_collate",
    oracle="""
    WITH mixed AS (
        SELECT c_name FROM customer WHERE c_custkey <= 500
        UNION ALL
        SELECT upper(c_name) FROM customer WHERE c_custkey <= 500)
    SELECT CAST(count(DISTINCT c_name) AS BIGINT) AS n_binary,
           CAST(count(DISTINCT lower(c_name)) AS BIGINT) AS n_ci
    FROM mixed
    """,
)
def str_collate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation support: COUNT DISTINCT under the UTF8_LCASE
    collation vs binary collation over a deliberately case-doubled input —
    the collation-aware path must see half as many distinct names. DuckDB
    has no collation-typed expressions, so the oracle lowers UTF8_LCASE to
    lower(), which is its defined comparison semantics."""
    c = (
        t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 500)
        .select("c_name")
    )
    mixed = c.unionAll(c.select(F.upper("c_name").alias("c_name")))
    return mixed.agg(
        F.countDistinct("c_name").alias("n_binary"),
        F.countDistinct(F.collate("c_name", "UTF8_LCASE")).alias("n_ci"),
    )


@register(
    "str_mask",
    oracle="""
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(c_name,
               '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS masked,
           CAST(length(c_name) AS INT) AS name_len
    FROM customer WHERE c_custkey <= 200
    """,
)
def str_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (Spark 3.4 mask()): uppercase→X, lowercase→x, digit→n,
    punctuation kept — the redaction primitive for exporting identifier
    columns. DuckDB has no mask(); the oracle lowers it to the 3-pass
    regexp_replace it is defined as."""
    c = t(spark, sf_dir, "customer").where(F.col("c_custkey") <= 200)
    return c.select(
        "c_custkey",
        F.mask("c_name", F.lit("X"), F.lit("x"), F.lit("n"), F.lit(None)).alias("masked"),
        F.length("c_name").cast("int").alias("name_len"),
    )


@register(
    "dt_interval_arith",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 3 MONTH + INTERVAL 10 DAY AS due_ts,
           CAST(date_diff('day', o_orderdate,
                o_orderdate + INTERVAL 3 MONTH + INTERVAL 10 DAY) AS BIGINT) AS due_days,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) // 7 AS BIGINT) AS weeks_since_95
    FROM orders WHERE o_orderkey < 300
    """,
)
def dt_interval_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic battery: make_interval addition (calendar-aware
    month + day offsets) and timestampdiff extraction at day/week units —
    the SLA/due-date computation surface. Month arithmetic clamps to
    month-end identically in both engines (Jan 31 + 1 month = Feb 28)."""
    o = t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 300)
    due = F.col("o_orderdate") + F.expr("make_interval(0, 3)") + F.expr("make_interval(0, 0, 0, 10)")
    return o.select(
        "o_orderkey",
        due.alias("due_ts"),
        F.expr(
            "timestampdiff(DAY, o_orderdate,"
            " o_orderdate + make_interval(0, 3) + make_interval(0, 0, 0, 10))"
        ).alias("due_days"),
        # WEEK units disagree across engines (7-day periods vs ISO-boundary
        # crossings) -> floor(days/7) explicitly on both sides
        (F.expr("timestampdiff(DAY, TIMESTAMP'1995-01-01', o_orderdate)") / 7)
        .cast("long")
        .alias("weeks_since_95"),
    )


@register(
    "sql_tvf_range",
    oracle="""
    SELECT r.id AS bucket_id,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders
    FROM range(0, 10) r(id)
    LEFT JOIN orders ON CAST(o_orderkey % 10 AS BIGINT) = r.id
    GROUP BY r.id
    """,
)
def sql_tvf_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-valued function surface: range() generating a dense spine in
    the FROM clause, left-joined so empty buckets survive — the TVF idiom
    behind calendar spines and bucket scaffolds."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT r.id AS bucket_id, count(o_orderkey) AS n_orders
        FROM range(0, 10) r
        LEFT JOIN orders ON o_orderkey % 10 = r.id
        GROUP BY r.id
        """
    )


@register(
    "sql_parameterized",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS cnt,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_totalprice > 150000 AND o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def sql_parameterized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized SQL (Spark 3.4 named-parameter binding): values bind
    as literals server-side — no string interpolation, no injection, and
    Catalyst still constant-folds them into pushed filters."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS cnt, round(sum(o_totalprice), 2) AS total
        FROM orders
        WHERE o_totalprice > :min_price AND o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"min_price": 150000, "status": "F"},
    )


@register(
    "str_regexp2",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'data')) AS INT) AS n_data,
           regexp_extract(text, '([a-z]+)a', 1) AS first_a_stem,
           CAST(CASE WHEN text IS NULL THEN NULL
                     WHEN regexp_matches(text, 'spark.*stream|stream.*spark')
                THEN 1 ELSE 0 END AS INT) AS both_terms
    FROM documents WHERE doc_id < 100
    """,
)
def str_regexp2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp battery 2 (Spark 3.5 additions): regexp_count, capture-group
    extraction, multi-pattern containment via rlike alternation. NULL
    text yields NULL in every column on both sides (r15 null sweep: the
    oracle's bare CASE coerced Spark's three-valued rlike(NULL) to 0)."""
    d = t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.regexp_count("text", F.lit("data")).cast("int").alias("n_data"),
        F.regexp_extract("text", r"([a-z]+)a", 1).alias("first_a_stem"),
        F.col("text").rlike("spark.*stream|stream.*spark").cast("int").alias("both_terms"),
    )


@register(
    "arr_map_hof",
    oracle="""
    WITH m AS (
        SELECT user_id,
               list({'et': event_type, 'cnt': cnt} ORDER BY event_type) AS entries
        FROM (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
              FROM events WHERE user_id < 20 GROUP BY user_id, event_type)
        GROUP BY user_id)
    SELECT user_id,
           coalesce(array_to_string(list_sort(list_transform(list_filter(entries, e -> e.cnt >= 10),
                                     e -> e.et)), ','), '') AS busy_types,
           coalesce(array_to_string(list_transform(list_sort(list_transform(entries, e -> e.cnt * 2)),
                                          x -> CAST(x AS VARCHAR)), ','), '') AS doubled,
           CAST(list_aggregate(list_transform(entries, e -> e.cnt), 'sum') AS BIGINT) AS total
    FROM m
    """,
)
def arr_map_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions: build map(event_type → count) per user,
    then map_filter / transform_values / aggregate over values. Outputs
    are sorted then comma-joined — map key order is engine-defined and
    array cells don't survive the external canonicalizer (SURVEY.md §2.8
    map_ops rule + §5.3)."""
    e = t(spark, sf_dir, "events").where(F.col("user_id") < 20)
    counts = (
        e.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("user_id")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
            ).alias("counts")
        )
    )
    return counts.select(
        "user_id",
        F.array_join(
            F.array_sort(F.map_keys(F.map_filter("counts", lambda k, v: v >= 10))), ","
        ).alias("busy_types"),
        F.array_join(
            F.transform(
                F.array_sort(F.map_values(F.transform_values("counts", lambda k, v: v * 2))),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("doubled"),
        F.aggregate(
            F.map_values("counts"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total"),
    )


@register(
    "sql_values_inline",
    oracle="""
    WITH tier(mktsegment, tier_name, tier_mult) AS (
        VALUES ('AUTOMOBILE', 'gold', 1.5),
               ('BUILDING',   'silver', 1.2),
               ('FURNITURE',  'bronze', 1.0))
    SELECT t.tier_name,
           CAST(count(*) AS BIGINT) AS n_cust,
           round(sum(c.c_acctbal * t.tier_mult), 2) AS weighted_bal
    FROM customer c
    JOIN tier t ON c.c_mktsegment = t.mktsegment
    GROUP BY t.tier_name
    """,
)
def sql_values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inline VALUES table (literal lookup/config data joined against the
    corpus — tier tables, config maps, enum decodes). The literal relation
    is driver-side and broadcasts by size automatically; the pattern
    replaces the collect-then-when-chain antipattern for small decode
    tables."""
    return sql_q(
        spark,
        sf_dir,
        """
        WITH tier(mktsegment, tier_name, tier_mult) AS (
            VALUES ('AUTOMOBILE', 'gold', 1.5D),
                   ('BUILDING',   'silver', 1.2D),
                   ('FURNITURE',  'bronze', 1.0D))
        SELECT t.tier_name,
               count(*) AS n_cust,
               round(sum(c.c_acctbal * t.tier_mult), 2) AS weighted_bal
        FROM customer c
        JOIN tier t ON c.c_mktsegment = t.mktsegment
        GROUP BY t.tier_name
        """
    )


@register(
    "dt_business_days",
    oracle="""
    WITH spans AS (
        SELECT o_orderpriority,
               CAST(len(list_filter(
                   generate_series(CAST(o_orderdate AS DATE),
                                   CAST(l_shipdate AS DATE), INTERVAL 1 DAY),
                   d -> dayofweek(d) NOT IN (0, 6))) AS BIGINT) AS busdays
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= o_orderdate
          AND l_shipdate <= o_orderdate + INTERVAL 30 DAY)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(avg(busdays), 6) AS avg_busdays,
           CAST(max(busdays) AS BIGINT) AS max_busdays
    FROM spans GROUP BY o_orderpriority
    """,
)
def dt_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day span between order and ship date (order-to-ship SLA
    in weekdays, ≤30-day fulfilments): a day sequence filtered by a
    weekday lambda, counted — all JVM-side higher-order date functions,
    no UDF. Engine delta encoded here: Spark dayofweek() is 1=Sunday,
    DuckDB 0=Sunday. The sequence explode is bounded (≤31 elements) so
    the expression stays O(1) per row at any corpus size."""
    joined = (
        t(spark, sf_dir, "orders")
        .join(
            t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .where(
            (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        )
    )
    busdays = F.size(
        F.expr(
            "filter(sequence(to_date(o_orderdate), to_date(l_shipdate),"
            " interval 1 day), d -> dayofweek(d) NOT IN (1, 7))"
        )
    ).cast("long")
    return (
        joined.select("o_orderpriority", busdays.alias("busdays"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.avg("busdays"), 6).alias("avg_busdays"),
            F.max("busdays").alias("max_busdays"),
        )
    )


@register(
    "sql_star_except",
    oracle="""
    SELECT * EXCLUDE (c_name, c_acctbal)
    FROM customer WHERE c_custkey < 20
    """,
)
def sql_star_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT * EXCEPT (cols) — Spark 4's star-except projection (DuckDB
    spells it EXCLUDE): project everything but the named columns without
    enumerating the survivors, the schema-evolution-friendly idiom for
    wide tables. Column pruning still reaches the scan: the excluded
    columns never leave the parquet footer."""
    return sql_q(
        spark,
        sf_dir,
        "SELECT * EXCEPT (c_name, c_acctbal) FROM customer WHERE c_custkey < 20",
    )


@register(
    "sql_lateral_join",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 2) o
    WHERE c.c_custkey < 500
    """,
)
def sql_lateral_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join (SQL:1999 lateral derived table,
    Spark 3.2+): per customer, the top-2 orders by price — the "for each
    row, run this parameterized subquery" SQL surface. Catalyst
    decorrelates it into the same join+window plan a hand-written
    row_number top-k produces (DecorrelateInnerQuery), so the declarative
    form costs nothing vs win_rownum_topk — worth pinning because naive
    engines execute LATERAL as a per-row nested loop, which at 100 TB is
    the difference between one shuffle and N subqueries. Identical syntax
    runs on DuckDB as the oracle."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
        FROM customer c, LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2) o
        WHERE c.c_custkey < 500
        """
    )


@register(
    "sql_identifier_dynamic",
    oracle="""
    SELECT n_name, CAST(count(*) AS BIGINT) AS n_cust
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def sql_identifier_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-injection-safe dynamic identifiers (Spark 3.4+ IDENTIFIER()
    clause): table and column names arrive as *parameters*, not string
    concatenation — the templating mechanism multi-tenant pipelines need
    (per-tenant table, per-config group-by column) without eval-style SQL
    injection. IDENTIFIER() binds at analysis time, so the resolved plan
    is byte-identical to the static query the oracle runs."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n_name, count(*) AS n_cust
        FROM IDENTIFIER(:fact) JOIN IDENTIFIER(:dim)
          ON IDENTIFIER(:fk) = IDENTIFIER(:pk)
        GROUP BY IDENTIFIER(:label)
        """,
        args={
            "fact": "customer",
            "dim": "nation",
            "fk": "c_nationkey",
            "pk": "n_nationkey",
            "label": "n_name",
        },
    )


@register(
    "join_array_membership",
    oracle="""
    SELECT lang,
           CAST(count(*) FILTER (
             len(list_intersect(string_split(text, ' '),
                                ['hash', 'join', 'index', 'query'])) > 0
           ) AS BIGINT) AS n_matching,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY lang
    """,
)
def join_array_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-set tagging WITHOUT a join: does a doc's token array
    intersect a (broadcastable) keyword list? Expressed as
    arrays_overlap against a literal array — a pure map-side predicate
    inside whole-stage codegen, where the naive formulation (explode +
    semi-join against a keyword table) would shuffle the exploded corpus.
    The rule of thumb this op pins: membership against a SMALL set is an
    expression, not a join — at 100 TB that's the difference between zero
    shuffle and a token-grain exchange."""
    kw = F.array(*[F.lit(w) for w in ("hash", "join", "index", "query")])
    d = t(spark, sf_dir, "documents").select(
        "lang", F.arrays_overlap(F.split("text", " "), kw).alias("hit")
    )
    return d.groupBy("lang").agg(
        F.count(F.when(F.col("hit"), 1)).alias("n_matching"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@register(
    "scalar_try_funcs",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(CASE WHEN l_quantity IS NULL OR (l_quantity % 2) = 0
                           THEN NULL
                           ELSE l_extendedprice END) AS BIGINT) AS n_div_ok,
           round(sum(l_extendedprice / nullif(l_quantity % 2, 0)), 2)
             AS odd_qty_price_sum,
           CAST(count(TRY_CAST(l_returnflag AS INT)) AS BIGINT) AS n_cast_ok,
           CAST(count(list_extract([l_linenumber], 3)) AS BIGINT)
             AS n_elem_ok
    FROM lineitem
    """,
)
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error-tolerant scalar battery: ``try_divide`` (NULL on
    divide-by-zero instead of ANSI exception), ``try_cast`` (NULL on
    malformed input), ``try_element_at`` (NULL past the end of an
    array) — the functions that keep a 100 TB job from dying on one bad
    row while ANSI mode stays on. DuckDB mirrors each via its native
    NULL-propagating forms (nullif-guarded division, TRY_CAST,
    out-of-bounds list_extract).

    Cost note (measured round 10, fixed round 16): ``try_cast(string AS
    int)`` pays Spark's exception-driven failure path on every row that
    FAILS the parse (~13 µs/row here, where all 600k l_returnflag values
    are non-numeric — this op's worst case is deliberate); succeeding
    rows are plain codegen. The r16 guard keeps the result bit-identical
    while skipping the exception path: a string with NO digit can never
    cast to INT (Spark trims whitespace then requires digits), so
    ``RLIKE '[0-9]'`` routes digit-free rows straight to NULL in codegen
    and only plausible rows ever reach try_cast — the guide §4 rule of
    paying the expensive path only on rows that might take it. At
    100 TB, budget try_cast by the expected failure rate, not the row
    count — a mostly-clean column is cheap."""
    li = t(spark, sf_dir, "lineitem")
    div = F.expr("try_divide(l_extendedprice, l_quantity % 2)")
    guarded_cast = F.expr(
        "CASE WHEN l_returnflag RLIKE '[0-9]'"
        " THEN try_cast(l_returnflag AS INT) END"
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(div).alias("n_div_ok"),
        money(F.sum(div)).alias("odd_qty_price_sum"),
        F.count(guarded_cast).alias("n_cast_ok"),
        F.count(F.expr("try_element_at(array(l_linenumber), 3)")).alias("n_elem_ok"),
    )


@register(
    "arr_posexplode_outer",
    oracle="""
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 = 0 THEN NULL
                  ELSE string_split(text, ' ')[1:3] END AS head_toks
      FROM documents),
    tok AS (
      SELECT doc_id, unnest(head_toks) AS tok
      FROM docs WHERE head_toks IS NOT NULL)
    SELECT CAST((SELECT count(*) FROM tok)
                + (SELECT count(*) FROM docs WHERE head_toks IS NULL)
                AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM tok) AS BIGINT) AS n_positions,
           CAST((SELECT count(DISTINCT tok) FROM tok) AS BIGINT)
             AS n_distinct_toks,
           CAST((SELECT count(*) FROM docs WHERE head_toks IS NULL)
                AS BIGINT) AS n_null_rows
    """,
)
def arr_posexplode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``posexplode_outer``: ordinal-preserving explode that KEEPS rows
    whose array is NULL (every 10th doc here) as a single null row —
    the off-by-default semantics that silently drop data when plain
    ``explode`` meets nullable arrays. The verification agg counts total
    rows (docs with arrays explode 3×, null docs survive 1×), positions,
    and null passthroughs. DuckDB mirrors with an inner unnest plus
    null-doc counts added back (its LATERAL LEFT JOIN can't carry the
    outer-explode shape directly)."""
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 != 0, F.slice(F.split("text", " "), 1, 3)
        ).alias("head_toks"),
    )
    exploded = docs.select(
        "doc_id", F.posexplode_outer("head_toks").alias("pos", "tok")
    )
    return exploded.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("pos").alias("n_positions"),
        F.countDistinct("tok").alias("n_distinct_toks"),
        F.sum(F.col("pos").isNull().cast("int")).alias("n_null_rows"),
    )


@register(
    "dt_constructors",
    oracle="""
    WITH d AS (SELECT CAST(o_orderdate AS DATE) AS od FROM orders)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN make_date(CAST(year(od) AS INT),
                                        CAST(month(od) AS INT),
                                        CAST(day(od) AS INT)) = od
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip,
           CAST(sum(CASE WHEN od = last_day(od) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_month_end,
           CAST(min(CAST(od + INTERVAL 1 MONTH AS DATE)) AS TIMESTAMP)
             AS min_next_month,
           CAST(max(CAST(od + INTERVAL 1 MONTH AS DATE)) AS TIMESTAMP)
             AS max_next_month
    FROM d
    """,
)
def dt_constructors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime constructor battery: ``make_date`` from extracted parts
    must round-trip every order date (proving extract/construct agree on
    the proleptic Gregorian calendar), ``last_day`` flags month-ends, and
    ``add_months`` shows the end-of-month CLAMP rule (Jan 31 + 1 month =
    Feb 29, not Mar 2 — the off-by-default trap of naive day arithmetic;
    DuckDB's ``+ INTERVAL 1 MONTH`` clamps identically). All map-side
    expressions + one aggregate."""
    d = t(spark, sf_dir, "orders").select(F.col("o_orderdate").cast("date").alias("od"))
    return d.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (
                F.make_date(F.year("od"), F.month("od"), F.dayofmonth("od"))
                == F.col("od")
            ).cast("int")
        ).cast("bigint").alias("n_roundtrip"),
        F.sum((F.col("od") == F.last_day("od")).cast("int"))
        .cast("bigint")
        .alias("n_month_end"),
        F.min(F.add_months("od", 1)).cast("timestamp").alias("min_next_month"),
        F.max(F.add_months("od", 1)).cast("timestamp").alias("max_next_month"),
    )


@register(
    "sql_pipe_syntax",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4.0, SQL:2023-adjacent ``|>`` chaining):
    the same scan→filter→aggregate expressed as a top-down pipeline —
    parses to the IDENTICAL logical plan as the nested form (verified:
    same filter pushdown, same partial/final hash aggregate), so the
    oracle is the classic formulation. Surface-parity row for users
    migrating pipelines written in the new syntax."""
    return sql_q(
        spark,
        sf_dir,
        """
        FROM lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |> AGGREGATE count(*) AS n_lines,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
           GROUP BY l_returnflag
        |> SELECT l_returnflag, CAST(n_lines AS BIGINT) AS n_lines, revenue
        """,
    )


@register(
    "sql_session_variables",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_value
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_totalprice > 250000.0
    GROUP BY o_orderpriority
    """,
)
def sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (Spark 4.0 ``DECLARE`` / ``SET VAR``): query
    parameters bound server-side by name — the SQL-native alternative to
    string interpolation (injection-safe like ``sql_parameterized``, but
    stateful across statements). The variables resolve to literals at
    analysis time, so pushdown and constant folding see them exactly as
    hard-coded constants; the oracle is the inlined form."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE cutoff_date TIMESTAMP")
    spark.sql("SET VAR cutoff_date = TIMESTAMP '1997-01-01'")
    spark.sql("DECLARE OR REPLACE min_value DOUBLE")
    spark.sql("SET VAR min_value = 250000.0")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               round(sum(o_totalprice), 2) AS total_value
        FROM orders
        WHERE o_orderdate >= cutoff_date AND o_totalprice > min_value
        GROUP BY o_orderpriority
        """
    )


@register(
    "sql_execute_immediate",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE c_acctbal > 5000.0
    GROUP BY c_mktsegment
    """,
)
def sql_execute_immediate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``EXECUTE IMMEDIATE ... USING`` (Spark 4.0): dynamic SQL with
    positional parameter binding — the pattern for templated statements
    built at run time (a query string from a config/metastore) without
    string-concatenation injection risk. The parameter arrives as a typed
    literal, so the plan is identical to the inlined oracle."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_customers
           FROM customer WHERE c_acctbal > ? GROUP BY c_mktsegment'
          USING 5000.0
        """
    )


@register(
    "sql_scripting",
    oracle="""
    WITH yearly AS (
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CAST(round(sum(o_totalprice) * 100, 0) AS BIGINT) AS cents
      FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1999
      GROUP BY year(o_orderdate))
    SELECT CAST(count(*) AS BIGINT) AS n_years,
           round(sum(cents) / 100.0, 2) AS total_value,
           CAST(max(cents) AS BIGINT) AS best_year_cents
    FROM yearly
    """,
)
def sql_scripting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4.0, SQL/PSM-style): a BEGIN…END block with
    DECLAREd variables and a WHILE loop that iterates the 1995–1999 order
    years, accumulating per-year revenue via scalar-subquery assignments —
    the stored-procedure-migration surface. Each loop body statement
    compiles to an ordinary Catalyst plan (the year filter is pushed down
    per iteration); the script's final SELECT is the result. The oracle
    computes the same rollup set-wise — proving the procedural and
    declarative forms agree."""
    from ..schemas import ensure_views

    ensure_views(spark, sf_dir)
    prev = spark.conf.get("spark.sql.scripting.enabled", "false")
    spark.conf.set("spark.sql.scripting.enabled", "true")
    try:
        return spark.sql(
            """
            BEGIN
              DECLARE yr INT DEFAULT 1995;
              DECLARE n_years INT DEFAULT 0;
              DECLARE total_cents BIGINT DEFAULT 0;
              DECLARE best_cents BIGINT DEFAULT 0;
              DECLARE this_cents BIGINT;
              WHILE yr <= 1999 DO
                SET this_cents = (
                  SELECT coalesce(cast(round(sum(o_totalprice) * 100, 0)
                                       AS BIGINT), 0)
                  FROM orders WHERE year(o_orderdate) = yr);
                IF this_cents > 0 THEN
                  SET n_years = n_years + 1;
                  SET total_cents = total_cents + this_cents;
                  IF this_cents > best_cents THEN
                    SET best_cents = this_cents;
                  END IF;
                END IF;
                SET yr = yr + 1;
              END WHILE;
              SELECT CAST(n_years AS BIGINT) AS n_years,
                     round(total_cents / double(100), 2) AS total_value,
                     best_cents AS best_year_cents;
            END
            """
        )
    finally:
        spark.conf.set("spark.sql.scripting.enabled", prev)


_TRGM_DUCK = """
    WITH names AS (
      SELECT min(p_partkey) AS id, p_brand AS blk, p_name AS nm
      FROM part GROUP BY p_brand, p_name),
    trg AS (
      SELECT DISTINCT id, blk, substr(nm, CAST(i AS INT), 3) AS g
      FROM names CROSS JOIN LATERAL
        unnest(generate_series(1, length(nm) - 2)) AS s(i)),
    sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n FROM trg GROUP BY id),
    shared AS (
      SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS sh
      FROM trg a JOIN trg b ON b.blk = a.blk AND b.g = a.g AND a.id < b.id
      GROUP BY a.id, b.id)
    SELECT s.id_a, s.id_b,
           round(s.sh * 1e0 / (za.n + zb.n - s.sh), 6) AS trigram_sim
    FROM shared s
    JOIN sizes za ON za.id = s.id_a
    JOIN sizes zb ON zb.id = s.id_b
    ORDER BY trigram_sim DESC, s.id_a, s.id_b
    LIMIT 15
"""


@register("str_trigram_similarity", oracle=_TRGM_DUCK)
def str_trigram_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram (pg_trgm-style) name similarity for part names,
    blocked by brand: Jaccard over the distinct 3-char windows — the
    set-based fuzzy matcher that, unlike join_fuzzy_levenshtein's
    edit distance, is INDEXABLE at scale (trigram inverted index =
    this exact join on g) and order-insensitive to word swaps. Top-15
    pairs. EXACT-COLLAPSE FIRST (the family discipline): identical
    (brand, name) rows keep one representative before pairing —
    verbatim duplicates are equality-join territory, and without the
    collapse the trigram pair join is quadratic in duplicate
    multiplicity (measured 34x at 10x on the key-shifted corpus whose
    payload names repeat verbatim; ~1x with it). The trigram explode is map-side, the pair join is
    brand-blocked + trigram-key co-partitioned — never all-pairs."""
    from ._util import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH names AS (
          SELECT min(p_partkey) AS id, p_brand AS blk, p_name AS nm
          FROM part GROUP BY p_brand, p_name),
        trg AS (
          SELECT DISTINCT id, blk, g
          FROM names
          LATERAL VIEW explode(transform(
            sequence(1, length(nm) - 2),
            i -> substr(nm, CAST(i AS INT), 3))) AS g),
        sizes AS (SELECT id, CAST(count(*) AS BIGINT) AS n
                  FROM trg GROUP BY id),
        shared AS (
          SELECT a.id AS id_a, b.id AS id_b, CAST(count(*) AS BIGINT) AS sh
          FROM trg a JOIN trg b ON b.blk = a.blk AND b.g = a.g
                              AND a.id < b.id
          GROUP BY a.id, b.id)
        SELECT s.id_a, s.id_b,
               round(s.sh * 1e0 / (za.n + zb.n - s.sh), 6) AS trigram_sim
        FROM shared s
        JOIN sizes za ON za.id = s.id_a
        JOIN sizes zb ON zb.id = s.id_b
        ORDER BY trigram_sim DESC, s.id_a, s.id_b
        LIMIT 15
        """,
    )


_FISCAL_SQL = """
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS BIGINT)
               + CASE WHEN month(o_orderdate) >= 2 THEN 1 ELSE 0 END
               AS fiscal_year,
             CAST(floor((month(o_orderdate) + 10) % 12 / 3) AS BIGINT) + 1
               AS fiscal_quarter,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders)
    SELECT fiscal_year, fiscal_quarter,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(cents) / 100e0, 2) AS revenue
    FROM m
    GROUP BY fiscal_year, fiscal_quarter
    ORDER BY fiscal_year, fiscal_quarter
"""


@register("dt_fiscal_quarter_rollup", oracle=_FISCAL_SQL)
def dt_fiscal_quarter_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fiscal-calendar rollup with a February year start (the 4-4-5-ish
    enterprise convention in its month-aligned form): fiscal year FY(n)
    runs Feb(n-1)..Jan(n), quarters are 3-month blocks from February —
    the calendar remap every finance-facing report needs because
    date_trunc('quarter') only speaks the civil calendar. Pure integer
    month arithmetic ((month+10) mod 12) shared verbatim by both
    engines; revenue summed in exact cents. One map-side remap +
    (fy, fq)-grain aggregate."""
    from ._util import sql_q

    return sql_q(spark, sf_dir, _FISCAL_SQL)
