"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() in DuckDB at sf0.01,
compare row count + column names + order-insensitive value hash, and
print the hash of each match.

Usage: python tests/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive: sort columns by name, normalize values to
    strings (floats via repr of float64), sort rows, sha256."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols].copy()
    norm = pd.DataFrame()
    for c in cols:
        s = pdf[c]
        if s.dtype.kind == "f":
            norm[c] = s.astype("float64").map(
                lambda v: "null" if pd.isna(v) else repr(round(v, 9))
            )
        elif str(s.dtype).startswith("datetime"):
            norm[c] = s.astype("datetime64[us]").astype(str)
        else:
            norm[c] = s.map(lambda v: "null" if v is None or v is pd.NA else str(v))
    rows = sorted("\x1f".join(r) for r in norm.itertuples(index=False, name=None))
    return hashlib.sha256("\x1e".join(rows).encode()).hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, REPO_ROOT)
    import __spark_entry__ as entrymod
    from geotiff_spark.session import get_spark

    spark = get_spark("oracle-check")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oq = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL  {name}: spark error {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        if name not in oq:
            print(f"FAIL  {name}: no oracle [{time.time()-t0:.1f}s]")
            failures.append(name)
            continue
        try:
            duck_pdf = con.execute(oq[name]).df()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error {exc}")
            failures.append(name)
            continue
        problems = []
        if len(spark_pdf) != len(duck_pdf):
            problems.append(f"rows {len(spark_pdf)} != {len(duck_pdf)}")
        if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
            problems.append(
                f"cols {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
            )
        elif value_hash(spark_pdf) != value_hash(duck_pdf):
            problems.append("value hash mismatch")
        if problems:
            print(f"FAIL  {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            failures.append(name)
        else:
            print(f"ok    {name}: rows={len(spark_pdf)} hash match "
                  f"{value_hash(spark_pdf)} [{time.time()-t0:.1f}s]")
    spark.stop()
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
