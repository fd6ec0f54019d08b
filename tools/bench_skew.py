#!/usr/bin/env python3
"""Uniform-vs-zipf wall-clock pairs (VERDICT r3 item 7): the skew gates
verify CORRECTNESS on zipf corpora at sf0.01; this measures that the
skew-shaped inputs do not blow up WALL CLOCK at sf0.1 either, writing
BENCH/skew_pairs.json with per-pair seconds and the zipf/uniform ratio
(cited by BENCH/BASELINE.md §6).

Usage: python tools/bench_skew.py [sf_dir]
"""

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402

PAIRS = [
    ("canonicalize", "canonicalize_skew"),
    ("dedup_minhash", "dedup_minhash_skew"),
    ("entity_link", "entity_link_skew"),
    ("quality_topk", "quality_topk_skew"),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "24g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from semargl_spark.queries import registry
    from semargl_spark.spark_util import ensure_py_files

    ensure_py_files(spark)
    reg = registry()

    def run(name):
        reg[name](spark, sf_dir).count()  # warm-up: JVM/codegen/pyfiles
        t0 = time.monotonic()
        n = reg[name](spark, sf_dir).count()
        return round(time.monotonic() - t0, 2), n

    out = {"sf_dir": sf_dir, "pairs": {}}
    for uniform, skew in PAIRS:
        ut, un = run(uniform)
        st, sn = run(skew)
        out["pairs"][uniform] = {
            "uniform_sec": ut, "uniform_rows": un,
            "zipf_sec": st, "zipf_rows": sn,
            "zipf_over_uniform": round(st / ut, 2) if ut else None,
        }
        print(uniform, out["pairs"][uniform])
    with open(os.path.join(REPO, "BENCH", "skew_pairs.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
