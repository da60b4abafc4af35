"""Declared schemas for the ground-truth corpus (FIXTURES.md §2).

Schemas are declared, not inferred, so that timestamp units and integer
widths can't drift between reads (SURVEY.md §1.3). The declared schema is
handed to the parquet reader as given, not compared with the file footers;
only ``events.ts`` is checked up front (``check_events_ts``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)


def _st(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


SCHEMAS: dict[str, StructType] = {
    "region": _st(
        ("r_regionkey", IntegerType()),
        ("r_name", StringType()),
    ),
    "nation": _st(
        ("n_nationkey", IntegerType()),
        ("n_name", StringType()),
        ("n_regionkey", IntegerType()),
    ),
    "customer": _st(
        ("c_custkey", LongType()),
        ("c_name", StringType()),
        ("c_nationkey", IntegerType()),
        ("c_acctbal", DoubleType()),
        ("c_mktsegment", StringType()),
    ),
    "supplier": _st(
        ("s_suppkey", LongType()),
        ("s_name", StringType()),
        ("s_nationkey", IntegerType()),
        ("s_acctbal", DoubleType()),
    ),
    "part": _st(
        ("p_partkey", LongType()),
        ("p_name", StringType()),
        ("p_brand", StringType()),
        ("p_type", StringType()),
        ("p_size", IntegerType()),
        ("p_retailprice", DoubleType()),
    ),
    "orders": _st(
        ("o_orderkey", LongType()),
        ("o_custkey", LongType()),
        ("o_orderstatus", StringType()),
        ("o_totalprice", DoubleType()),
        ("o_orderdate", TimestampType()),
        ("o_orderpriority", StringType()),
    ),
    "lineitem": _st(
        ("l_orderkey", LongType()),
        ("l_partkey", LongType()),
        ("l_suppkey", LongType()),
        ("l_linenumber", IntegerType()),
        ("l_quantity", DoubleType()),
        ("l_extendedprice", DoubleType()),
        ("l_discount", DoubleType()),
        ("l_tax", DoubleType()),
        ("l_returnflag", StringType()),
        ("l_linestatus", StringType()),
        ("l_shipdate", TimestampType()),
    ),
    "events": _st(
        ("event_id", LongType()),
        ("ts", TimestampType()),  # timestamp[us] in parquet; see check_events_ts
        ("user_id", LongType()),
        ("event_type", StringType()),
        ("value", DoubleType()),
        ("props", StringType()),  # JSON string, shape {"k": <int>}
    ),
    "documents": _st(
        ("doc_id", LongType()),
        ("text", StringType()),
        ("lang", StringType()),
        ("source", StringType()),
        ("n_chars", LongType()),
    ),
    "embeddings": _st(
        ("vec_id", LongType()),
        ("embedding", ArrayType(FloatType())),  # fixed dim 64, L2-normalized
        ("label", IntegerType()),
    ),
}

TABLE_NAMES = tuple(SCHEMAS)

EMBEDDING_DIM = 64

#: events.ts must land in this closed interval (FIXTURES.md: corpus spans
#: 2024-01-01…2024-01-30). A unit drift (ns↔µs mixup = ×1000) blows far
#: past this window, so the guard turns silent corruption into a loud error.
_EVENTS_TS_MIN_US = 1_672_531_200_000_000  # 2023-01-01 UTC, generous lower bound
_EVENTS_TS_MAX_US = 1_735_689_600_000_000  # 2025-01-01 UTC, generous upper bound

#: Fingerprints of events datasets that passed ``check_events_ts``, keyed on
#: (path, newest mtime_ns, total size) so a corpus regenerated in place
#: mid-process is checked again instead of trusted.
_EVENTS_CHECKED: set[tuple[str, int, int]] = set()


def _events_fingerprint(path: str) -> tuple[str, int, int]:
    """Corpus fingerprint (max mtime_ns, total bytes) over every parquet
    data file under ``path`` — recursive, so a Spark-written directory
    dataset (table.parquet/part-*.parquet) is covered by its part files,
    not just the directory entry: an in-place part rewrite changes the
    fingerprint and invalidates any memo keyed on it."""
    import glob
    import os

    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        )
    else:
        files = [path]
    mtime = 0
    size = 0
    for f in files:
        if os.path.isdir(f):
            # a *.parquet-named directory: its part files are already in
            # the recursive glob; the dir entry itself carries no data.
            continue
        st = os.stat(f)
        mtime = max(mtime, st.st_mtime_ns)
        size += st.st_size
    return (path, mtime, size)


def check_events_ts(path: str) -> None:
    """Refuse an events dataset unless every file stores ``ts`` as
    timestamp[us] inside the documented corpus range.

    Driver-side, footer-only (no data pages), one footer read per file,
    cached per fingerprint. Every file is checked, so a dataset that mixes
    encodings is refused too. Every row group's ``ts`` statistics must lie
    in [_EVENTS_TS_MIN_US, _EVENTS_TS_MAX_US]. Run it on corpus files only:
    Spark writes parquet timestamps as INT96, which pyarrow reports as
    timestamp[ns], and Spark reads those back natively.
    """
    import datetime as _dt
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    fp = _events_fingerprint(path)
    if fp in _EVENTS_CHECKED:
        return
    files = sorted(glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")

    epoch = _dt.datetime(1970, 1, 1)

    def _to_us(v: _dt.datetime) -> int:
        return (v - epoch) // _dt.timedelta(microseconds=1)

    for fpath in files:
        md = pq.read_metadata(fpath)
        arrow_schema = md.schema.to_arrow_schema()
        t = arrow_schema.field("ts").type
        if t != pa.timestamp("us"):
            raise ValueError(
                f"events.ts in {fpath} has parquet type {t}; only "
                f"timestamp[us] is supported — refusing to load"
            )
        ts_idx = arrow_schema.get_field_index("ts")
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(ts_idx).statistics
            if stats is None or not stats.has_min_max:
                continue
            lo_us, hi_us = _to_us(stats.min), _to_us(stats.max)
            if not (_EVENTS_TS_MIN_US <= lo_us and hi_us <= _EVENTS_TS_MAX_US):
                raise ValueError(
                    f"events.ts statistics out of documented corpus range "
                    f"(FIXTURES.md 2024-01-01…2024-01-30): min={stats.min} "
                    f"max={stats.max} file={fpath} row_group={rg} "
                    f"— possible unit drift; refusing to load"
                )
    _EVENTS_CHECKED.add(fp)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One corpus table: the session's registered view of it
    (``ensure_views``), so every op reads the same listed relation."""
    ensure_views(spark, sf_dir)
    return spark.table(name)


def session_corpus_key(spark: SparkSession, sf_dir: str) -> tuple:
    """(session identity, corpus fingerprint): the key of every
    per-session corpus memo (``ensure_views``, ``registry.plan_memo``).

    Session identity is the JVM session's UUID, not id() of the py4j
    proxy: two Python wrappers of one JVM session share a UUID, and a
    stopped session's UUID is never reused, while CPython reuses a freed
    proxy's id() for the next session. applicationId alone would alias
    sibling newSession() clones, whose conf/temp-view state may differ.
    The fingerprint covers every parquet file under ``sf_dir``, so any
    table rewritten in place changes the key."""
    return (str(spark._jsparkSession.sessionUUID()), _events_fingerprint(sf_dir))


#: session UUID → corpus fingerprint currently registered by ensure_views.
_VIEWS_REGISTERED: dict[str, tuple[str, int, int]] = {}


def ensure_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view, once per
    ``session_corpus_key``.

    The one read path of the corpus: ``load`` (the ops' ``t``) and
    ``sql_q`` read these views, and only here is a corpus table read with
    its declared schema or ``events`` checked. A per-call read lists the
    files again: at sf0.01 (local[2], median of 15 calls) it took 11–16 ms
    per table against 3–4 ms for ``load`` (same optimized plans), and it
    was 66–77 ms of a 0.64 s warm ``udf_map_in_arrow`` call.

    The key covers every parquet file under ``sf_dir``, so an in-place
    rewrite of any table, or switching the session to another sf_dir,
    registers and checks all ten views again. Plain view names hold one
    corpus per session at a time, exactly the driver/mirror/pytest usage.
    The memo entry is dropped first, so a refused or incomplete corpus
    leaves nothing that a later call would trust.
    """
    session, corpus = session_corpus_key(spark, sf_dir)
    if _VIEWS_REGISTERED.get(session) == corpus:
        return
    _VIEWS_REGISTERED.pop(session, None)
    check_events_ts(f"{sf_dir}/events.parquet")
    for name in TABLE_NAMES:
        spark.read.schema(SCHEMAS[name]).parquet(
            f"{sf_dir}/{name}.parquet"
        ).createOrReplaceTempView(name)
    _VIEWS_REGISTERED[session] = corpus
