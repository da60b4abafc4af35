"""Local replica of the driver's t2 correctness gate (SURVEY.md §5.2).

For every ``queries()`` entry with an ``oracle_sql()`` counterpart, run the
Spark query AND the DuckDB oracle on the same sf dir and compare:
row count, column names, dtypes (loose families), and order-insensitive
exact values (floats must match exactly — the queries themselves are
responsible for rounding per the §5.3 canonicalization contract).

Usage:
    python tools/mirror.py [--sf /root/testdata/sf0.01] [name ...]
"""

from __future__ import annotations

import math
import sys
from datetime import date, datetime

import numpy as np
import pandas as pd


def _canon_cell(v):
    """Canonicalize one value for order-insensitive comparison."""
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if isinstance(v, datetime):
        return v
    if isinstance(v, date):
        return datetime(v.year, v.month, v.day)
    if isinstance(v, bytes):
        return v
    if v is pd.NaT:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    rows = [tuple(_canon_cell(v) for v in row) for row in df[cols].itertuples(index=False)]
    rows.sort(key=lambda r: tuple((x is None, str(type(x)), str(x)) for x in r))
    return rows


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s_rows, d_rows = canon_rows(spark_pdf), canon_rows(duck_pdf)
    if s_rows != d_rows:
        n_bad = sum(1 for a, b in zip(s_rows, d_rows) if a != b) + abs(
            len(s_rows) - len(d_rows)
        )
        problems.append(f"values differ in ~{n_bad} rows")
        for a, b in zip(s_rows, d_rows):
            if a != b:
                problems.append(f"  first diff:\n    spark={a!r}\n    duck ={b!r}")
                break
    # dtype families (loose): int vs float vs object vs datetime vs bool
    for c in spark_pdf.columns:
        sk, dk = spark_pdf[c].dtype.kind, duck_pdf[c].dtype.kind
        fam = lambda k: {"i": "i", "u": "i", "f": "f", "M": "M", "b": "b"}.get(k, "O")
        if fam(sk) != fam(dk) and not (spark_pdf[c].isna().all() or duck_pdf[c].isna().all()):
            problems.append(f"dtype family for {c}: spark={sk} duck={dk}")
    return problems


def run_mirror(sf_dir: str, only: list[str] | None = None) -> dict[str, list[str]]:
    import duckdb

    sys.path.insert(0, ".")
    import __spark_entry__ as mod
    from highspeedrailwaybigdatasystem_spark.session import build_session

    spark = build_session("mirror")
    con = duckdb.connect()
    from highspeedrailwaybigdatasystem_spark.schemas import TABLE_NAMES

    for t_ in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t_} AS SELECT * FROM read_parquet('{sf_dir}/{t_}.parquet')"
        )

    qs, oracles = mod.queries(), mod.oracle_sql()
    results: dict[str, list[str]] = {}
    names = only or list(qs)
    for name in names:
        fn = qs[name]
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as ex:  # noqa: BLE001
            results[name] = [f"SPARK ERROR: {type(ex).__name__}: {str(ex)[:300]}"]
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            results[name] = [f"DUCKDB ERROR: {type(ex).__name__}: {str(ex)[:300]}"]
            continue
        results[name] = compare(name, spark_pdf, duck_pdf)
    return results


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    if args and args[0] == "--sf":
        sf_dir = args[1]
        args = args[2:]
    results = run_mirror(sf_dir, args or None)
    n_pass = sum(1 for v in results.values() if not v)
    for name in sorted(results):
        probs = results[name]
        print(f"{'PASS' if not probs else 'FAIL'} {name}")
        for p in probs:
            print(f"      {p}")
    print(f"\n{n_pass}/{len(results)} pass on {sf_dir}")
    return 0 if n_pass == len(results) else 1


if __name__ == "__main__":
    raise SystemExit(main())
