"""Local mirror of the driver's correctness gate: run every
__spark_entry__ query at a given SF and compare against its DuckDB
oracle (row count + column-name-sorted order-insensitive value hash).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def value_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        tuple("\x00NULL" if v is None or (isinstance(v, float) and v != v) else str(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as e
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = e.queries()
    os_ = e.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"FAIL unknown query name(s): {sorted(unknown)}")
        return 2
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sql = os_.get(name)
        if sql is None:
            print(f"FAIL {name}: no oracle")
            failures += 1
            continue
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"FAIL {name}: spark query raised {type(exc).__name__}: {exc}")
            failures += 1
            continue
        try:
            oracle_pdf = con.sql(sql).df()
        except Exception as exc:
            print(f"FAIL {name}: oracle raised {type(exc).__name__}: {exc}")
            failures += 1
            continue
        ok_rows = len(spark_pdf) == len(oracle_pdf)
        ok_cols = sorted(spark_pdf.columns) == sorted(oracle_pdf.columns)
        ok_hash = ok_cols and value_hash(spark_pdf) == value_hash(oracle_pdf)
        if ok_rows and ok_hash:
            print(f"PASS {name}: {len(spark_pdf)} rows")
        else:
            failures += 1
            print(
                f"FAIL {name}: rows {len(spark_pdf)} vs {len(oracle_pdf)}, "
                f"cols_ok={ok_cols}, hash_ok={ok_hash}"
            )
            if ok_cols:
                cols = sorted(spark_pdf.columns)
                a = {tuple(str(v) for v in r) for r in spark_pdf[cols].itertuples(index=False, name=None)}
                b = {tuple(str(v) for v in r) for r in oracle_pdf[cols].itertuples(index=False, name=None)}
                for label, diff in (("spark-only", a - b), ("oracle-only", b - a)):
                    for row in list(diff)[:3]:
                        print(f"    {label}: {row}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
