"""Amplify an sf directory N× with key-shifted copies (≈ next scale factor).

Each copy shifts every key/foreign-key column by copy_index × (max(key)+1 of
the base table), so referential joins stay consistent and key cardinality
scales with the data (no artificial hot keys). Non-key payload columns are
repeated verbatim — document texts therefore gain exact duplicates, which is
the realistic shape for dedup operators at scale. pyarrow is used end-to-end
so physical types (notably the timestamp[us] events.ts) survive unchanged.

Usage:
    python tools/gen_sf_amplify.py [--base /root/testdata/sf0.1] \
        [--out /root/repo/_scratch/sf1] [--copies 10]
"""

from __future__ import annotations

import argparse
import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: table → columns to shift, each tagged with the DOMAIN table/column whose
#: max defines the shift stride (so FKs shift exactly like their PK).
KEYS = {
    "customer": [("c_custkey", ("customer", "c_custkey"))],
    "orders": [
        ("o_orderkey", ("orders", "o_orderkey")),
        ("o_custkey", ("customer", "c_custkey")),
    ],
    "lineitem": [
        ("l_orderkey", ("orders", "o_orderkey")),
        ("l_partkey", ("part", "p_partkey")),
        ("l_suppkey", ("supplier", "s_suppkey")),
    ],
    "part": [("p_partkey", ("part", "p_partkey"))],
    "supplier": [("s_suppkey", ("supplier", "s_suppkey"))],
    "events": [
        ("event_id", ("events", "event_id")),
        ("user_id", ("events", "user_id")),
    ],
    "documents": [("doc_id", ("documents", "doc_id"))],
    "embeddings": [("vec_id", ("embeddings", "vec_id"))],
    "nation": [],
    "region": [],
}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/root/repo/_scratch/sf1")
    ap.add_argument("--copies", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    tables = {t: pq.read_table(f"{args.base}/{t}.parquet") for t in KEYS}
    strides = {}
    for t, cols in KEYS.items():
        for _, (dom_t, dom_c) in cols:
            if (dom_t, dom_c) not in strides:
                strides[(dom_t, dom_c)] = (
                    pc.max(tables[dom_t][dom_c]).as_py() + 1
                )

    for t, cols in KEYS.items():
        base = tables[t]
        if not cols:  # fixed dimensions copied verbatim
            pq.write_table(base, f"{args.out}/{t}.parquet")
            continue
        copies = [base]
        for i in range(1, args.copies):
            shifted = base
            for col, dom in cols:
                idx = shifted.schema.get_field_index(col)
                new = pc.add(shifted[col], i * strides[dom]).cast(
                    shifted.schema.field(col).type
                )
                shifted = shifted.set_column(idx, shifted.schema.field(col), new)
            copies.append(shifted)
        out = pa.concat_tables(copies)
        pq.write_table(out, f"{args.out}/{t}.parquet")
        print(f"{t}: {base.num_rows} → {out.num_rows} rows")


if __name__ == "__main__":
    main()
