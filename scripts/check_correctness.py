#!/usr/bin/env python
"""Local replica of the driver's correctness gate.

Runs entry(spark) as a smoke check, then every queries()[k] at the
given scale factor side-by-side with oracle_sql()[k] in DuckDB.
Compares row count, column names, and order-insensitive values
(columns sorted by name, rows sorted, floats compared bitwise after
pandas normalization).

Usage: python scripts/check_correctness.py [sf_dir] [key ...]

A key argument may be an fnmatch pattern ('ts_*').
"""

from __future__ import annotations

import fnmatch
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif df[c].dtype == object:
            # Decimal / str normalization
            df[c] = df[c].map(lambda v: float(v) if hasattr(v, "as_tuple") else v)
    sort_cols = list(df.columns)
    df = df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
    return df


def values_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    if a is pd.NaT or b is pd.NaT:
        # NaT != NaT: two null timestamps are equal, NaT vs a time is not
        return all(v is None or v is pd.NaT for v in (a, b))
    return a == b


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> tuple[bool, str]:
    if list(a.columns) != list(b.columns):
        return False, f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    # The driver's hash canon distinguishes numeric kinds (e.g. DuckDB
    # HUGEINT arrives as float64 while Spark BIGINT is int64); mirror
    # that by requiring matching dtype kinds, not just equal values.
    for c in a.columns:
        ka, kb = a[c].dtype.kind, b[c].dtype.kind
        if ka != kb and {ka, kb} <= {"i", "u", "f"}:
            if not ({ka, kb} <= {"i", "u"}):
                return False, f"col {c}: dtype kind differs ({a[c].dtype} vs {b[c].dtype})"
    if len(a) != len(b):
        return False, f"row counts differ: {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            if not values_equal(x, y):
                return False, f"col {c} row {i}: {x!r} != {y!r}"
    return True, ""


def oracle_connection(sf_dir: str):
    """A DuckDB connection with one view per table of `sf_dir`, the
    names the oracle SQL reads."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    import __spark_entry__ as e
    from fossil_spark.session import get_spark

    spark = get_spark("correctness-check")

    # --- entry smoke ------------------------------------------------------
    res = e.entry(spark)
    n = res.count()
    print(f"entry(): OK, {n} row(s), schema: {res.schema.simpleString()}")

    con = oracle_connection(sf_dir)
    qs, oracles = e.queries(), e.oracle_sql()
    failed = []
    for key, fn in qs.items():
        if only and not any(fnmatch.fnmatchcase(key, p) for p in only):
            continue
        try:
            got = normalize(fn(spark, sf_dir).toPandas())
        except Exception as ex:
            failed.append(key)
            print(f"FAIL {key}: spark error: {ex}")
            continue
        sql = oracles.get(key)
        if sql is None:
            print(f"ok?  {key}: rows-only check ({len(got)} rows)")
            continue
        try:
            want = normalize(con.execute(sql).df())
        except Exception as ex:
            failed.append(key)
            print(f"FAIL {key}: oracle error: {ex}")
            continue
        ok, why = frames_equal(got, want)
        if ok:
            print(f"PASS {key} ({len(got)} rows)")
        else:
            failed.append(key)
            print(f"FAIL {key}: {why}")

    print(f"\n{len(failed)} failure(s)" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
