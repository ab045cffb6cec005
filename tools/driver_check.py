"""Local twin of the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB over the same sf dir; compare
row-count, schema width, and an order-insensitive value comparison.

Usage: python tools/driver_check.py [sf_dir] [name ...]

Imports the package from the checkout the script sits in.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the driver and the executors' Python workers import this checkout
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p
)

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize_frame(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif str(df[c].dtype).startswith("decimal") or df[c].dtype.name == "object":
            df[c] = df[c].astype(float).round(9)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str | None:
    if len(a) != len(b):
        return f"rowcount {len(a)} vs {len(b)}"
    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    a, b = normalize_frame(a), normalize_frame(b)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(a[c].dtype, np.floating):
            if not np.allclose(av, bv.astype(float), rtol=0, atol=2e-9, equal_nan=True):
                bad = np.flatnonzero(~np.isclose(av, bv.astype(float), rtol=0, atol=2e-9))
                return f"col {c}: {len(bad)} diffs, first at {bad[0]}: {av[bad[0]]} vs {bv[bad[0]]}"
        else:
            if not (av == bv).all():
                neq = av != bv
                i = int(np.flatnonzero(neq)[0])
                return f"col {c}: {neq.sum()} diffs, first at {i}: {av[i]!r} vs {bv[i]!r}"
    return None


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from similaripy_spark.session import get_spark

    spark = get_spark(parallelism=8, shuffle_partitions=16,
                      extra_conf={"spark.driver.memory": "12g"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    qs, oracles = E.queries(), E.oracle_sql()
    failures = []
    n_run = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.monotonic()
        try:
            got = fn(spark, sf_dir).toPandas()
        except Exception as ex:
            failures.append((name, f"SPARK ERROR: {ex}"))
            print(f"FAIL  {name:28s} spark error: {str(ex)[:200]}")
            continue
        if name not in oracles:
            print(f"skip  {name:28s} (no oracle, {len(got)} rows)")
            continue
        try:
            exp = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            failures.append((name, f"DUCKDB ERROR: {ex}"))
            print(f"FAIL  {name:28s} duckdb error: {str(ex)[:200]}")
            continue
        diff = compare(got, exp)
        dt = time.monotonic() - t0
        if diff:
            failures.append((name, diff))
            print(f"FAIL  {name:28s} {diff}")
        else:
            print(f"ok    {name:28s} {len(got):7d} rows  {dt:5.1f}s")
    print(f"\n{n_run - len(failures)}/{n_run} ok")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
