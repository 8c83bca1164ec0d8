"""Local stand-in for the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark and its
``oracle_sql()`` twin on DuckDB at the given sf dir, then compares
row count, column names/types, and order-insensitive values (exact,
stricter than the driver's hash). Usage:

    python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

import __spark_entry__ as entrymod
from hbase_gis_spark.session import make_session
from hbase_gis_spark.sources.tables import TABLES


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    out = df[sorted(df.columns)].copy()
    out = out.sort_values(by=list(out.columns), ignore_index=True)
    return out


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = set(a for a in args if "/" not in a)
    # data-dependent oracles (IVF centroid training) must read the same
    # sf this check compares against
    import os

    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    spark = make_session(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_connection(sf_dir)

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"weak  {name}: rows={len(sdf)} (no oracle, rows-only check)")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            print(f"FAIL  {name}: columns {list(a.columns)} vs {list(b.columns)}")
            failures += 1
            continue
        if len(a) != len(b):
            print(f"FAIL  {name}: rows {len(a)} vs {len(b)}")
            failures += 1
            continue
        try:
            pd.testing.assert_frame_equal(
                a, b, check_dtype=False, check_exact=True
            )
        except AssertionError as e:
            print(f"FAIL  {name}: value mismatch\n{str(e)[:500]}")
            failures += 1
            continue
        # The driver's value-hash IS dtype-sensitive: DuckDB HUGEINT
        # (any sum(BIGINT)) materializes as float64 while Spark emits
        # int64, and that alone flips hash_match even when values are
        # exactly equal. Treat a dtype-kind mismatch as a failure here
        # so it never reaches the driver.
        kind_bad = [
            c
            for c in a.columns
            if a[c].dtype.kind != b[c].dtype.kind
            and {a[c].dtype.kind, b[c].dtype.kind} <= {"i", "u", "f"}
        ]
        arr_bad = [
            c
            for c in a.columns
            if a[c].dtype == object
            and a[c].map(lambda v: isinstance(v, (list, tuple))).any()
        ]
        if kind_bad:
            print(
                f"FAIL  {name}: dtype-kind mismatch (driver hash trap) "
                f"{[(c, str(a[c].dtype), str(b[c].dtype)) for c in kind_bad]}"
            )
            failures += 1
        elif arr_bad:
            print(
                f"FAIL  {name}: array-typed output cols {arr_bad} "
                "(driver canonicalizer crash)"
            )
            failures += 1
        else:
            print(f"ok    {name}: rows={len(a)} exact match")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
