"""spark-submit front-end for the query registry: run any named gate
from `__spark_entry__.queries()` against a scale-factor directory and
write the result to parquet (or print a sample) — the operational
counterpart of the driver's correctness harness, so an operator can run
exactly the gated plan in production without touching Python APIs.

    spark-submit --py-files semargl_spark.zip jobs/run_query.py \
        --sf-dir /root/testdata/sf0.01 --query kg_degree_stats \
        --output /tmp/out [--show 20]

Prints one JSON summary line (query, rows, wall_sec, output). The
writer uses dynamic partition overwrite semantics via a plain overwrite
of the target directory — rerunning the same query over the same input
is idempotent (same rows, same files), matching the pipeline job's
MERGE stance (reference parity: the reference's CLI is
StreamProcessor.process(file) per document, BaseStreamProcessor.java;
here a query IS the unit of execution).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", required=True, help="parquet table dir")
    ap.add_argument("--query", required=True, help="registry query name")
    ap.add_argument("--output", default=None, help="parquet output dir")
    ap.add_argument("--show", type=int, default=0,
                    help="print the first N rows instead of/in addition "
                         "to writing")
    ap.add_argument("--list", action="store_true",
                    help="list registry query names and exit")
    args = ap.parse_args()

    # the driver contract module carries the registry; jobs run from any
    # cwd under spark-submit --py-files, so resolve it by path
    import os
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(repo, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    registry = entry.queries()

    if args.list:
        for name in sorted(registry):
            print(name)
        return 0
    if args.query not in registry:
        print(json.dumps({"error": f"unknown query {args.query!r}; "
                          f"{len(registry)} available (--list)"}))
        return 2

    # spark-submit owns the master; apply the session defaults
    # tuned_session uses without overriding it
    from pyspark.sql import SparkSession

    from semargl_spark.spark_util import SESSION_DEFAULTS, ensure_py_files

    spark = (
        SparkSession.builder.appName(f"run-query-{args.query}")
        .config(map=SESSION_DEFAULTS)
        .getOrCreate()
    )
    ensure_py_files(spark)
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    df = registry[args.query](spark, args.sf_dir)
    if args.output:
        df.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    else:
        n = df.count()
    if args.show:
        df.show(args.show, truncate=80)
    print(json.dumps({
        "query": args.query,
        "rows": n,
        "wall_sec": round(time.perf_counter() - t0, 2),
        "output": args.output,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
