"""Untimed preparation of one run, in its own process: write the seeded
corpus and compute every op's DuckDB oracle on it once.

    python3 perfbench/prepare.py --workload headline_sf0.1 --seed 3 --out DIR

writes ``DIR/corpus/<table>.parquet`` and ``DIR/oracles.pkl`` (op name ->
pandas DataFrame). Running it apart from the measured process keeps the
generator's and DuckDB's memory out of ``peak_rss_mb``.
"""

from __future__ import annotations

import argparse
import os
import pickle
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from corpus import write_corpus  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def oracle_frames(corpus_dir: str, ops) -> dict:
    import duckdb

    from highspeedrailwaybigdatasystem_spark.registry import all_oracles
    from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES

    sql = all_oracles()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')"
        )
    return {op: con.execute(sql[op]).fetchdf() for op in ops}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]
    corpus_dir = os.path.join(args.out, "corpus")
    write_corpus(corpus_dir, wl.sf, args.seed)
    with open(os.path.join(args.out, "oracles.pkl"), "wb") as fh:
        pickle.dump(oracle_frames(corpus_dir, wl.ops), fh)


if __name__ == "__main__":
    main()
