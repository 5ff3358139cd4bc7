"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
(with query names given, only those entries run — targeted re-checks)

The DuckDB oracles run first, in a child process that has exited before
the Spark session starts: the two engines' memory never adds up (one
quadratic oracle alone holds gigabytes until its process ends).
"""

from __future__ import annotations

import multiprocessing
import os
import sys
import tempfile

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("int64") // 10**9
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def run_oracles(sf: str, names: list[str], out_dir: str) -> None:
    """Write each named oracle's DuckDB result to ``out_dir/<name>.pkl``."""
    import __spark_entry__ as entrymod

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    oracles = entrymod.oracle_sql()
    for name in names:
        con.sql(oracles[name]).df().to_pickle(os.path.join(out_dir, f"{name}.pkl"))


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    only = set(sys.argv[2:])
    if only:
        unknown = only - set(qs)
        if unknown:
            print(f"unknown queries: {sorted(unknown)}")
            return 2
        qs = {k: v for k, v in qs.items() if k in only}
    oracles = entrymod.oracle_sql()
    with tempfile.TemporaryDirectory() as out_dir:
        child = multiprocessing.get_context("spawn").Process(
            target=run_oracles,
            args=(sf, [n for n in qs if n in oracles], out_dir),
        )
        child.start()
        child.join()
        if child.exitcode != 0:
            print(f"oracle process failed with exit code {child.exitcode}")
            return 1
        return compare(sf, qs, oracles, out_dir)


def compare(sf: str, qs: dict, oracles: dict, out_dir: str) -> int:
    from featurescreening_jl_spark.plans.session import get_spark

    spark = get_spark("correctness-check", parallelism=8)
    failures = []
    for name, fn in qs.items():
        spark_pdf = fn(spark, sf).toPandas()
        if name not in oracles:
            print(f"{name:24s} rows={len(spark_pdf):7d}  (rows-only, no oracle)")
            continue
        duck_pdf = pd.read_pickle(os.path.join(out_dir, f"{name}.pkl"))
        status = []
        if len(spark_pdf) != len(duck_pdf):
            status.append(f"ROWS {len(spark_pdf)} != {len(duck_pdf)}")
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            status.append(f"COLS {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}")
        if not status:
            a, b = canon(spark_pdf), canon(duck_pdf)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6)
            except AssertionError as exc:
                status.append(f"VALUES {str(exc).splitlines()[-1][:120]}")
        if status:
            failures.append(name)
            print(f"{name:24s} FAIL  {'; '.join(status)}")
        else:
            print(f"{name:24s} OK    rows={len(spark_pdf)}")
    spark.stop()
    if failures:
        print(f"\nFAILED: {failures}")
        return 1
    print("\nall oracle checks passed")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
