"""Offset-indexed vs whole-file WARC framing on ONE large archive.

The r4 verdict's top ask: a single multi-hundred-MB ``.warc.gz`` is one
task and one Arrow cell under the (file_id, content) reader — correct,
but the coarsest possible skew unit. This bench builds one archive of
``--records`` synthetic response records (~1 KiB HTML each, gzip member
per record, the Common Crawl layout), then times

  whole   split_warc_records   — one row, one task frames everything
  indexed split_warc_records_indexed — offset index + member ranges
                                       fanned across all cores

Both sides run the same terminal aggregate (count + sum of body
lengths) so the decode work is identical and nothing is collected.
Writes BENCH/warc_offsets.json (``--random-filler``:
warc_offsets_large.json; ``--downstream`` adds a _downstream suffix),
the BENCH/warc_offsets*.json that BENCH/BASELINE.md §9c cites.

Usage: python tools/bench_warc_offsets.py [--records 300000] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def build_archive(path: str, n_records: int, random_filler: bool = False) -> int:
    # --random-filler: a cheap deterministic LCG keeps the filler
    # incompressible, so the on-disk archive is ~1 KiB/record like a
    # real crawl segment instead of deflating 30:1
    state = 0x9E3779B97F4A7C15
    with open(path, "wb") as f:
        for i in range(n_records):
            if random_filler:
                chunks = []
                for _ in range(150):
                    state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
                    chunks.append(f"{state:016x}")
                filler = "".join(chunks)[:900]
            else:
                filler = "x" * 900
            body = (
                f"<html><body>doc {i}\nWARC/1.0\nquoted {filler}</body></html>"
            )
            payload = (
                "HTTP/1.1 200 OK\r\n"
                "Content-Type: text/html; charset=utf-8\r\n\r\n" + body
            ).encode()
            rec = (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Record-ID: <urn:uuid:r{i}>\r\n".encode()
                + f"WARC-Target-URI: https://wc.example/p/{i}\r\n".encode()
                + b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
                + f"Content-Length: {len(payload)}\r\n\r\n".encode()
                + payload
                + b"\r\n\r\n"
            )
            c = zlib.compressobj(6, zlib.DEFLATED, 31)
            f.write(c.compress(rec) + c.flush())
    return os.path.getsize(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--records", type=int, default=300_000)
    ap.add_argument("--random-filler", action="store_true")
    ap.add_argument(
        "--downstream",
        action="store_true",
        help="attach per-record work after framing (3x sha2 over the "
        "body) — the realistic shape, since framing always feeds "
        "extraction/curation. The whole-file side must pay a full "
        "data shuffle (repartition) to spread its single output "
        "partition first; the indexed side is already fanned out.",
    )
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from semargl_spark.sources.warc_records import (
        split_warc_records,
        split_warc_records_indexed,
    )
    from semargl_spark.spark_util import ensure_py_files

    spark = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .config("spark.sql.shuffle.partitions", str(args.cpus))
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .appName("bench-warc-offsets")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(spark)

    base = tempfile.mkdtemp(prefix="bench_warc_off_")
    arch = os.path.join(base, "big.warc.gz")
    size = build_archive(arch, args.records, random_filler=args.random_filler)
    print(f"archive: {size/1e6:.1f} MB, {args.records} records", flush=True)

    def work(df):
        h = F.col("body")
        for _ in range(3):
            h = F.sha2(F.concat(h.cast("string"), F.lit("x")), 256)
        return df.withColumn("h", h)

    def agg(df):
        if args.downstream:
            df = work(df)
            return df.agg(
                F.count("*").alias("n"),
                F.sum(F.length("h") + F.length("body")).alias("bytes"),
            ).collect()[0]
        return df.agg(
            F.count("*").alias("n"),
            F.sum(F.length("body")).alias("bytes"),
        ).collect()[0]

    # warm the JVM + python worker pool with a tiny archive through BOTH
    # plan shapes, so neither timed side absorbs session startup (the
    # reference benches warm up too); timings then measure the pipeline
    warm = os.path.join(base, "warm.warc.gz")
    build_archive(warm, 500)
    wpaths = spark.createDataFrame([(warm,)], "path string")
    split_warc_records_indexed(wpaths).agg(F.count("*")).collect()
    with open(warm, "rb") as f:
        wblob = f.read()
    wdf = spark.createDataFrame(
        [(warm, wblob)], "path string, content binary"
    )
    split_warc_records(wdf, id_col="path").agg(F.count("*")).collect()

    # indexed first (cold cache order favors the whole-file side if anything)
    paths = spark.createDataFrame([(arch,)], "path string")
    t0 = time.monotonic()
    r_idx = agg(split_warc_records_indexed(paths))
    t_indexed = time.monotonic() - t0

    with open(arch, "rb") as f:
        blob = f.read()
    whole = spark.createDataFrame([(arch, blob)], "path string, content binary")
    whole_df = split_warc_records(whole, id_col="path")
    if args.downstream:
        # the whole-file reader emits ONE output partition; spreading the
        # downstream work costs it a full data shuffle first
        whole_df = whole_df.repartition(args.cpus)
    t0 = time.monotonic()
    r_whole = agg(whole_df)
    t_whole = time.monotonic() - t0

    assert (r_idx["n"], r_idx["bytes"]) == (r_whole["n"], r_whole["bytes"]), (
        r_idx,
        r_whole,
    )
    out = {
        "archive_mb": round(size / 1e6, 1),
        "records": args.records,
        "random_filler": args.random_filler,
        "downstream": args.downstream,
        "cpus": args.cpus,
        "whole_file_sec": round(t_whole, 2),
        "indexed_sec": round(t_indexed, 2),
        "speedup": round(t_whole / t_indexed, 2),
        "rows": int(r_idx["n"]),
    }
    print(json.dumps(out), flush=True)
    fname = "warc_offsets_large.json" if args.random_filler else "warc_offsets.json"
    if args.downstream:
        fname = fname.replace(".json", "_downstream.json")
    dest = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCH", fname)
    with open(os.path.abspath(dest), "w") as f:
        json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
