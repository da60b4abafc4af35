"""Source/sink round-trips (SURVEY.md §2.1): CSV, JSON-lines, partitioned
parquet sink, and a file-based Structured Streaming source.

Scratch writes go under ``<repo>/_scratch`` (gitignored). Each operator is a
genuine write→read round-trip — the oracle reads the ORIGINAL table, so the
hash-match proves the round-trip lost nothing.

Scale notes: the partitioned sink demonstrates the layout contract for a
100 TB table — partition by a low-cardinality derived column (year) so
readers prune whole directories; at cluster scale add bucketing on the join
key inside each partition.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..registry import register
from ..schemas import SCHEMAS, check_events_ts
from ._scratch import scratch_dir
from ..operators._util import money, t


@register(
    "src_csv_roundtrip",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def src_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """region → CSV (header) → read back with explicit schema."""
    out = scratch_dir("csv_region")
    t(spark, sf_dir, "region").write.mode("overwrite").option("header", True).csv(out)
    return spark.read.schema(SCHEMAS["region"]).option("header", True).csv(out)


@register(
    "src_json_lines",
    oracle="""
    SELECT event_type, count(*) AS cnt, round(sum(value), 2) AS value_sum
    FROM events GROUP BY event_type
    """,
)
def src_json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events (sans ts — JSON timestamp format drift) → JSON lines → read
    back with explicit schema → aggregate. Doubles survive the text
    round-trip at full precision (Spark writes shortest-roundtrip repr)."""
    out = scratch_dir("json_events")
    t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    ).write.mode("overwrite").json(out)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    back = spark.read.schema(schema).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"), money(F.sum("value")).alias("value_sum")
    )


@register(
    "sink_parquet_part",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           count(*) AS cnt,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    WHERE year(o_orderdate) >= 1998
    GROUP BY 1
    """,
)
def sink_parquet_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders → parquet partitioned by derived o_year → read back with a
    partition filter (directory pruning: only year≥1998 dirs are scanned)."""
    out = scratch_dir("orders_by_year")
    t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    ).write.mode("overwrite").partitionBy("o_year").parquet(out)
    back = spark.read.parquet(out).where(F.col("o_year") >= 1998)
    return back.groupBy(F.col("o_year").cast("int").alias("o_year")).agg(
        F.count(F.lit(1)).alias("cnt"),
        money(F.sum("o_totalprice")).alias("revenue"),
    )


@register(
    "src_json_corrupt",
    oracle="""
    SELECT (event_id % 7 = 3) AS is_corrupt,
           count(*) AS cnt,
           CAST(sum(CASE WHEN event_id % 7 <> 3 THEN event_id END) AS BIGINT)
             AS good_id_sum
    FROM events
    GROUP BY 1
    """,
)
def src_json_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input tolerance: a JSON export where every (event_id%7==3)
    line is deterministically corrupted (truncated mid-object), read back
    in PERMISSIVE mode with a _corrupt_record column — bad rows are
    captured, not fatal, and good rows parse fully. The
    don't-die-on-bad-data contract of any 100 TB ingest."""
    from pyspark.sql.types import StructField, StructType

    out = scratch_dir("json_corrupt")
    src = t(spark, sf_dir, "events").select(
        F.when(
            F.col("event_id") % 7 == 3,
            F.concat(F.lit('{"event_id": '), F.col("event_id").cast("string"), F.lit(', "user_')),
        )
        .otherwise(F.to_json(F.struct("event_id", "user_id", "event_type")))
        .alias("value")
    )
    shutil.rmtree(out, ignore_errors=True)
    src.write.mode("overwrite").text(out)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out)
    )
    # cached per Spark's requirement: a query may not filter solely on the
    # corrupt-record column of an un-materialized relation
    back = back.cache()
    return back.groupBy(
        F.col("_corrupt_record").isNotNull().alias("is_corrupt")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("event_id"))).alias(
            "good_id_sum"
        ),
    )


@register(
    "sink_bucketed",
    oracle="""
    SELECT o_orderstatus, count(*) AS cnt,
           round(sum(l_extendedprice), 2) AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def sink_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed-table write + co-located join: both fact tables are written
    bucketed (and sorted) by the join key, so the join reads bucket-aligned
    files and needs NO shuffle — at 100 TB this is the difference between
    re-shuffling the fact table on every join and doing it once at write
    time. The round-trip is verified against the original tables."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for tbl in ("orders_bucketed", "lineitem_bucketed"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        # a fresh session's catalog doesn't know about leftover warehouse
        # dirs from a previous run — remove them or saveAsTable refuses
        shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)
    t(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).mode("overwrite").format("parquet").saveAsTable("orders_bucketed")
    t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    ).write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode(
        "overwrite"
    ).format("parquet").saveAsTable("lineitem_bucketed")
    o = spark.table("orders_bucketed")
    li = spark.table("lineitem_bucketed")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            money(F.sum("l_extendedprice")).alias("revenue"),
        )
    )


@register(
    "stream_file_source",
    oracle="""
    SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type
    """,
)
def stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Treat the events parquet as a file-streaming source: readStream →
    grouped count → memory sink (complete mode), availableNow trigger.
    End-of-stream state equals the batch aggregate, so the oracle is exact.
    The file source needs a directory, so the parquet is staged into
    scratch first."""
    from ..streaming.streams import run_available_now

    check_events_ts(f"{sf_dir}/events.parquet")
    src_dir = scratch_dir("stream_file_source_events")
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    shutil.copy(f"{sf_dir}/events.parquet", os.path.join(src_dir, "events_0.parquet"))
    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .parquet(src_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    run_available_now(
        stream,
        stream.writeStream.format("memory")
        .queryName("stream_file_source_sink")
        .outputMode("complete"),
    )
    return spark.sql("SELECT event_type, cnt FROM stream_file_source_sink")


@register(
    "src_orc_roundtrip",
    oracle="""
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_supp,
           round(sum(s_acctbal), 2) AS total_bal
    FROM supplier GROUP BY s_nationkey
    """,
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """supplier → ORC → read back → aggregate. ORC is the other columnar
    format Spark reads natively (vectorized, predicate pushdown, same
    planner path as parquet); the oracle reads the parquet source since
    the round-trip must be lossless."""
    out = scratch_dir("orc_supplier")
    t(spark, sf_dir, "supplier").write.mode("overwrite").orc(out)
    back = spark.read.schema(SCHEMAS["supplier"]).orc(out)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.round(F.sum("s_acctbal"), 2).alias("total_bal"),
    )


@register(
    "src_binary_files",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 50 AND text IS NOT NULL
    """,
)
def src_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile ingest — THE source for multimodal corpora (images,
    audio, video arrive as opaque files, not rows): 50 payload files are
    staged on disk (UTF-8 doc text standing in for media bytes), read
    back with ``format("binaryFile")`` (path, length, content columns),
    and identity-audited by md5 of the raw bytes; the doc key is
    recovered from the file path. At 100 TB this scan parallelizes per
    file and binds payload bytes to typed metadata columns — exactly the
    mm_decode/resize plumbing's upstream. ASCII text ⇒ strlen(text) on
    the oracle side equals the staged byte length."""
    from ..operators._util import t as _t

    stage = scratch_dir(f"binfiles_{os.path.basename(sf_dir.rstrip('/'))}")
    done = os.path.join(stage, "_STAGED")
    if not os.path.exists(done):
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage, exist_ok=True)
        rows = (
            _t(spark, sf_dir, "documents")
            # a NULL payload has no file to stage (r15 null sweep) — the
            # oracle filters the same rows, and binaryFile ingest of a
            # real media corpus only ever sees files that exist
            .where((F.col("doc_id") < 50) & F.col("text").isNotNull())
            .select("doc_id", "text")
            .collect()  # <=50 tiny rows: driver-side staging of fixture files
        )
        for r in rows:
            with open(os.path.join(stage, f"doc_{r.doc_id}.bin"), "wb") as f:
                f.write(r.text.encode("utf-8"))
        open(done, "w").close()
    binf = spark.read.format("binaryFile").load(os.path.join(stage, "*.bin"))
    return binf.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1).cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


@register(
    "src_text_lines",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
    FROM documents WHERE text IS NOT NULL
    """,
)
def src_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text round-trip (spark.read/write.text): the rawest corpus
    interchange format — one document per line, id and body joined with a
    tab (the corpus has no embedded newlines/tabs, asserted implicitly by
    the count check). Write partitions in parallel, read back as a single
    `value` column, split on the first tab, and re-derive the corpus
    audit (docs / tokens / chars) — equal to computing it from the source
    table directly, which is exactly what the oracle does. The text source
    supports the same pushdown-free streaming-friendly line semantics
    wholeTextFiles-era pipelines expect."""
    d = scratch_dir("text_lines_docs")
    shutil.rmtree(d, ignore_errors=True)
    # a NULL-text doc has no line to write (r15 null sweep: concat_ws
    # SKIPS nulls, so the null doc wrote its id as a tab-less line that
    # read back as its own body)
    docs = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    docs.select(
        F.concat_ws("\t", F.col("doc_id").cast("string"), "text").alias("value")
    ).write.mode("overwrite").text(d)
    back = spark.read.text(d).select(
        F.substring_index("value", "\t", 1).cast("long").alias("doc_id"),
        F.expr("substring(value, instr(value, '\t') + 1)").alias("text"),
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
        F.sum(F.length("text")).cast("long").alias("n_chars_sum"),
    )


@register(
    "sink_compression_codecs",
    oracle="""
    SELECT codec, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(o_totalprice), 2) AS value_checksum
    FROM (SELECT 'snappy' AS codec, o_totalprice FROM orders
          UNION ALL
          SELECT 'zstd' AS codec, o_totalprice FROM orders) t
    GROUP BY codec
    """,
)
def sink_compression_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet compression-codec round-trip: write orders under snappy
    (the splittable low-CPU default) AND zstd (the better-ratio choice
    for cold 100 TB tiers), read both back, and prove content equality
    via per-codec row counts + value checksums. Codec choice is a pure
    storage concern — the oracle asserts the data is bit-identical either
    way. Writes go to process-namespaced scratch (\\_scratch.scratch_dir)
    so concurrent harnesses don't collide."""
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    outs = []
    for codec in ("snappy", "zstd"):
        d = scratch_dir(f"codec_{codec}_{os.path.basename(sf_dir)}")
        shutil.rmtree(d, ignore_errors=True)
        orders.write.mode("overwrite").option("compression", codec).parquet(d)
        outs.append(
            spark.read.parquet(d).select(
                F.lit(codec).alias("codec"), "o_totalprice"
            )
        )
    both = outs[0].unionByName(outs[1])
    return both.groupBy("codec").agg(
        F.count(F.lit(1)).alias("n_rows"),
        money(F.sum("o_totalprice")).alias("value_checksum"),
    )


@register(
    "src_glob_recursive",
    oracle="""
    SELECT n_regionkey, count(*) AS n_nations FROM nation
    GROUP BY n_regionkey
    """,
)
def src_glob_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-directory ingestion surface: the nation table is scattered
    across a two-level date-style directory tree mixed with decoy files,
    then read back with ``recursiveFileLookup`` + ``pathGlobFilter`` —
    the lake-ingestion options that make Spark skip sidecar/_SUCCESS/
    manifest junk without a manifest service. The glob filter prunes at
    FILE LISTING time (driver-side, before any task launches), which at
    100 TB with millions of files is the difference between a listing
    and a scan."""
    base = scratch_dir("glob_recursive")
    shutil.rmtree(base, ignore_errors=True)
    nation = t(spark, sf_dir, "nation")
    for i, sub in enumerate(["day=01/hour=00", "day=01/hour=12", "day=02/hour=00"]):
        part = nation.where(F.col("n_nationkey") % 3 == i)
        part.write.mode("overwrite").parquet(os.path.join(base, sub, "data"))
        # decoy sidecar files the glob must skip
        with open(os.path.join(base, sub, "manifest.json"), "w") as f:
            f.write("{}")
    back = (
        spark.read.schema(SCHEMAS["nation"])
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(base)
    )
    return back.groupBy("n_regionkey").agg(F.count(F.lit(1)).alias("n_nations"))


@register(
    "src_csv_quoted_multiline",
    oracle="""
    SELECT CAST(2 AS INT) AS doc_id_mod, CAST(2 AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN k = 1 THEN n_lines END) AS INT) AS lines_doc1,
           CAST(sum(CASE WHEN k = 2 THEN n_lines END) AS INT) AS lines_doc2
    FROM (VALUES (1, 3), (2, 2)) t(k, n_lines)
    """,
)
def src_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV edge-case parsing: quoted fields containing embedded newlines,
    commas and escaped double-quotes — the shape that silently corrupts
    a naive line-split ingest. Read with ``multiLine=true`` + explicit
    quote/escape options; the assertion is the parsed line count per
    logical record (3 and 2), proving record boundaries came from the
    quoting, not from \\n. Production note: multiLine CSV cannot be
    split within a file (each file is one task's input) — shard BEFORE
    landing multiline CSV at scale, or land JSONL instead; this op
    documents the constraint the option hides."""
    base = scratch_dir("csv_multiline")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    with open(os.path.join(base, "docs.csv"), "w") as f:
        f.write('id,body\n')
        f.write('1,"first line\nsecond, with comma\nthird ""quoted"" word"\n')
        f.write('2,"alpha\nbeta"\n')
    schema = StructType(
        [StructField("id", IntegerType()), StructField("body", StringType())]
    )
    parsed = (
        spark.read.schema(schema)
        .option("header", True)
        .option("multiLine", True)
        .option("quote", '"')
        .option("escape", '"')
        .csv(base)
    )
    per_doc = parsed.select(
        "id", (F.size(F.split("body", "\n"))).alias("n_lines")
    )
    return per_doc.agg(
        F.count_distinct("id").cast("int").alias("doc_id_mod"),
        F.count(F.lit(1)).alias("n_rows"),
        F.max(F.when(F.col("id") == 1, F.col("n_lines"))).cast("int").alias("lines_doc1"),
        F.max(F.when(F.col("id") == 2, F.col("n_lines"))).cast("int").alias("lines_doc2"),
    )


@register(
    "src_csv_permissive_corrupt",
    oracle="""
    SELECT (event_id % 9 = 4) AS is_corrupt,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CASE WHEN event_id % 9 <> 4 THEN user_id END) AS BIGINT)
             AS good_user_sum
    FROM events
    GROUP BY 1
    """,
)
def src_csv_permissive_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV PERMISSIVE-mode tolerance, the sibling of src_json_corrupt for
    the other ubiquitous ingest format: every (event_id%9==4) line gets a
    non-numeric token in a LongType column (the classic
    hand-edited-spreadsheet corruption — short rows only null-fill in
    PERMISSIVE, so a type-level poison is the deterministic trigger),
    read back with an explicit schema + _corrupt_record column: bad rows
    are captured with their raw text, good rows parse fully, nothing is
    fatal."""
    from pyspark.sql.types import StructField, StructType

    out = scratch_dir("csv_permissive_corrupt")
    src = t(spark, sf_dir, "events").select(
        F.when(
            F.col("event_id") % 9 == 4,
            F.concat(
                F.col("event_id").cast("string"),
                F.lit(",xx"),
                F.coalesce(F.col("user_id").cast("string"), F.lit("")),
                F.lit(",corrupted"),
            ),
        )
        .otherwise(
            # concat (not concat_ws): a NULL user_id must serialize as an
            # EMPTY FIELD, not a dropped one — concat_ws skips nulls, so
            # the row lost a column and its event_type poisoned the
            # LongType slot into _corrupt_record (r15 null sweep)
            F.concat(
                F.col("event_id").cast("string"),
                F.lit(","),
                F.coalesce(F.col("user_id").cast("string"), F.lit("")),
                F.lit(","),
                F.col("event_type"),
            )
        )
        .alias("value")
    )
    shutil.rmtree(out, ignore_errors=True)
    src.write.mode("overwrite").text(out)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    ).cache()
    return back.groupBy(
        F.col("_corrupt_record").isNotNull().alias("is_corrupt")
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("user_id"))
        ).alias("good_user_sum"),
    )
