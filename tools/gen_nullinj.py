"""Generate the NULL-injection / empty-group mirror corpus (r14 verdict
task #6).

The synthetic corpus has ZERO nulls, so NULL edges ride only on
outer-join manufacture inside individual ops — and three rounds of ADVICE
items (range-binned NULL pairs, zero-pair groups, null-aware anti joins)
kept finding the same latent class one op at a time. This tool derives a
perturbed corpus from sf0.01 once, so the WHOLE pair-forming + agg
surface can be mirrored against it in one sweep: both engines read the
same parquet, so any mirror divergence is a genuine semantic split
(Spark vs DuckDB null ordering, null join keys, three-valued logic,
null-skipping aggregates) or an op-level non-null assumption.

Deterministic injections (modulus-keyed, so reruns are identical):

* customer:  c_acctbal NULL @ c_custkey%37==0; c_mktsegment NULL @ %41==0;
             c_nationkey NULL @ %101==0 (wave 2: FK join keys)
* orders:    o_totalprice NULL @ o_orderkey%53==0;
             o_orderdate NULL @ %71==0 (wave 2: date windows/as-of);
             dropped entirely @ o_custkey%113==0  (customers w/o orders)
* lineitem:  l_discount NULL @ l_orderkey%61==0; l_tax NULL @ %67==0;
             l_quantity NULL @ l_partkey%73==0 and l_extendedprice NULL
             @ l_suppkey%89==0 (wave 2: measures in money sums);
             dropped entirely @ l_orderkey%127==0 (orders w/o lineitems)
* events:    user_id NULL @ event_id%43==0 (NULL JOIN KEYS);
             value NULL @ event_id%59==0 (wave 2; ts stays NON-NULL —
             the streaming replay oracles derive watermarks from max
             event time, a separate perturbation axis);
             'signup' rows dropped (empty event_type group)
* documents: text NULL @ doc_id%47==0; lang NULL @ doc_id%71==0
* embeddings: embedding NULL @ vec_id%97==0
* nation/region/part/supplier: copied verbatim (domain dims stay sound)

Usage: python tools/gen_nullinj.py [--out DIR]  -> DIR (default _scratch/nullinj/)
Then:  python tools/mirror.py --sf _scratch/nullinj [ops...]
The test suite builds both corpora once per session with ``build()``
(``tests/conftest.py``).

WAVE 3 (r15 verdict task #9, the STREAMING axis): ``--stream`` writes a
second corpus (default _scratch/nullinj_stream/) that additionally injects
* events.ts NULL @ event_id%83==0 — a NULL EVENT TIME entering
  withWatermark / window() / session_window /
  dropDuplicatesWithinWatermark state;
* events.event_type NULL @ event_id%79==0 — a NULL routing/filter key
  through the click/purchase splits and groupBy keys.
The base nullinj corpus deliberately keeps ts NON-NULL (its wave-1/2
oracles derive replay watermarks from max event time); the streaming
axis therefore rides its own corpus so the batch tier's claims stay
pinned to the corpus they were proven on. Mirror the 17 stream_* ops:
    python tools/gen_nullinj.py --stream
    python tools/mirror.py --sf _scratch/nullinj_stream stream_...
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = "/root/testdata/sf0.01"
OUT = os.path.join(REPO, "_scratch", "nullinj")

#: table -> SELECT rewriting the base parquet with injections. COLUMNS MUST
#: KEEP the base order and physical types (schemas.load pins them).
RULES = {
    "customer": """
        SELECT c_custkey, c_name,
               CASE WHEN c_custkey % 101 = 0 THEN NULL ELSE c_nationkey END
                 AS c_nationkey,
               CASE WHEN c_custkey % 37 = 0 THEN NULL ELSE c_acctbal END AS c_acctbal,
               CASE WHEN c_custkey % 41 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
        FROM t
    """,
    "orders": """
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 53 = 0 THEN NULL ELSE o_totalprice END AS o_totalprice,
               CASE WHEN o_orderkey % 71 = 0 THEN NULL ELSE o_orderdate END AS o_orderdate,
               o_orderpriority
        FROM t WHERE o_custkey % 113 <> 0
    """,
    "lineitem": """
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
               CASE WHEN l_partkey % 73 = 0 THEN NULL ELSE l_quantity END AS l_quantity,
               CASE WHEN l_suppkey % 89 = 0 THEN NULL ELSE l_extendedprice END AS l_extendedprice,
               CASE WHEN l_orderkey % 61 = 0 THEN NULL ELSE l_discount END AS l_discount,
               CASE WHEN l_orderkey % 67 = 0 THEN NULL ELSE l_tax END AS l_tax,
               l_returnflag, l_linestatus, l_shipdate
        FROM t WHERE l_orderkey % 127 <> 0
    """,
    "events": """
        SELECT event_id, ts,
               CASE WHEN event_id % 43 = 0 THEN NULL ELSE user_id END AS user_id,
               event_type,
               CASE WHEN event_id % 59 = 0 THEN NULL ELSE value END AS value,
               props
        FROM t WHERE event_type <> 'signup'
    """,
    "documents": """
        SELECT doc_id,
               CASE WHEN doc_id % 47 = 0 THEN NULL ELSE text END AS text,
               CASE WHEN doc_id % 71 = 0 THEN NULL ELSE lang END AS lang,
               source, n_chars
        FROM t
    """,
    "embeddings": """
        SELECT vec_id,
               CASE WHEN vec_id % 97 = 0 THEN NULL ELSE embedding END AS embedding,
               label
        FROM t
    """,
    "nation": "SELECT * FROM t",
    "region": "SELECT * FROM t",
    "part": "SELECT * FROM t",
    "supplier": "SELECT * FROM t",
}


#: wave-3 events override: NULL event time + NULL routing key, on top of
#: the wave-1 NULL user_id / value injections. The WHERE filters on the
#: BASE event_type (signup drop) before the NULL override, so the drop
#: set is identical to the base corpus's.
STREAM_EVENTS_RULE = """
    SELECT event_id,
           CASE WHEN event_id % 83 = 0 THEN NULL ELSE ts END AS ts,
           CASE WHEN event_id % 43 = 0 THEN NULL ELSE user_id END AS user_id,
           CASE WHEN event_id % 79 = 0 THEN NULL ELSE event_type END AS event_type,
           CASE WHEN event_id % 59 = 0 THEN NULL ELSE value END AS value,
           props
    FROM t WHERE event_type <> 'signup'
"""


def build(out: str, stream: bool = False) -> None:
    """Write the null-injection corpus (``stream``: the wave-3 one) to
    ``out``."""
    rules = dict(RULES)
    if stream:
        rules["events"] = STREAM_EVENTS_RULE
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for table, sel in rules.items():
        src = f"{BASE}/{table}.parquet"
        dst = f"{out}/{table}.parquet"
        con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM read_parquet('{src}')")
        con.execute(f"COPY ({sel}) TO '{dst}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
        print(f"{table}: {n} rows -> {dst}")
    con.close()


def main() -> None:
    stream = "--stream" in sys.argv
    out = OUT + "_stream" if stream else OUT
    if "--out" in sys.argv:
        out = sys.argv[sys.argv.index("--out") + 1]
    build(out, stream)


if __name__ == "__main__":
    main()
