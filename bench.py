"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS] (default: the host's CPU count). Prints ONE
JSON line:

    {"metric": "triples_per_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...}

Each query is timed via a full materialization (count), which forces the
extraction UDFs and any shuffles without driver-side transfer overhead.
Scaling-efficiency numbers (N vs 4N cores) come from
tools/bench_scaling.py and are recorded in BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat — lets the bench record
    hypervisor contention over ITS OWN window. This box is
    multi-tenant: measured steal ranges 0–19%, and a 15%-steal window
    roughly halves multi-core throughput, so a headline number without
    its steal context is not comparable across rounds."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except OSError:
        return (0, 0)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count()))
    turns_per_doc = int(os.environ.get("SPARK_GRAFT_TURNS_PER_DOC", "64"))
    steal0, total0 = _cpu_ticks()

    from semargl_spark.spark_util import tuned_session

    spark = tuned_session(parallelism=cpus, app_name="semargl-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from semargl_spark import queries as Q
    from semargl_spark.operators.extract import extract_statements, triples
    from semargl_spark.sources.transcripts import synth_transcripts

    timings: dict[str, float] = {}
    counts: dict[str, int] = {}

    def timed(name: str, make_df, runs: int = 2) -> None:
        # time construction + materialization: iterative operators
        # (connected components) do eager work while building the plan.
        # best-of-N: the first run of each distinct plan shape absorbs
        # JVM codegen/JIT compilation (~seconds) that a long-running
        # cluster job pays once; warm numbers are the steady state
        # (the reference benches warm up too, BenchmarkRdfa.java:86-92)
        best = None
        for _ in range(runs):
            t0 = time.perf_counter()
            df = make_df() if callable(make_df) else make_df
            counts[name] = df.count()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)

    # warm the JVM + the mapInArrow python-worker pool so per-query
    # numbers measure the pipeline, not interpreter startup (reference
    # benches also warm up, BenchmarkRdfa.java:86-92)
    triples(
        extract_statements(synth_transcripts(spark, sf_dir, turns_per_doc=1))
    ).count()

    # flagship: mixed-format corpus at bench turn multiplier; best of 3
    # (the first timed runs still absorb tail-end JIT/worker warmup, and
    # the headline number should not ride on one noisy sample)
    mixed = synth_transcripts(spark, sf_dir, turns_per_doc=turns_per_doc)
    timed("extract_mixed", lambda: triples(extract_statements(mixed)), runs=4)

    # every other registry gate once, sorted for a deterministic order
    registry = Q.registry()
    for name in sorted(registry):
        if name in timings:
            continue
        try:
            timed(name, lambda n=name: registry[n](spark, sf_dir))
        except Exception:
            timings[name] = -1.0

    total_triples = counts.get("extract_mixed", 0)
    wall = timings.get("extract_mixed", 1.0)
    tps = round(total_triples / wall, 1) if wall > 0 else 0.0

    # scheduler-noise-free streaming numbers (r4 verdict item 3): the
    # wall of an availableNow replay carries ~2× micro-batch scheduling
    # jitter across host windows; the summed per-batch triggerExecution
    # durations are the comparable work metric, reported side by side.
    from semargl_spark import queries_pipeline as QP

    stream_work = dict(sorted(QP.STREAM_WORK_SEC.items()))

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    steal1, total1 = _cpu_ticks()
    steal_pct = (
        round(100.0 * (steal1 - steal0) / (total1 - total0), 2)
        if total1 > total0 else None
    )
    print(
        json.dumps(
            {
                "metric": "triples_per_sec",
                "value": tps,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "counts": counts,
                "cpus": cpus,
                "turns_per_doc": turns_per_doc,
                "host_steal_pct": steal_pct,
                "stream_work_sec": stream_work,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
