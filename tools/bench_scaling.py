"""Scaling-efficiency benchmark: the same extraction job at two
parallelism levels (local[N] vs local[4N] standing in for N- vs
4N-executor clusters, per the round driver's north rule).

Methodology (round 2 rework):

* **The input is storage-resident parquet, materialized once** before
  either timed level — exactly what a production job sees (the north
  rule's Iceberg transcript table). Round 1 regenerated the corpus with
  JVM codegen inside the timed region, which charged the bench harness's
  generation cost against the *high* level disproportionately: at
  local[4N] the generation threads compete with the Python parser
  workers for cores, while at local[N] they overlap into idle ones.
* The corpus is written as ``2·4N`` files so the low level runs 8 task
  waves (natural load balancing) and the high level still has 2 (a
  single wave makes the wall hostage to one straggler task; many more
  waves charge pyspark's per-task setup ~50 ms against the measurement —
  at 100 TB the per-task cost is amortized by >100× longer tasks).
* Each level runs in its own subprocess (fresh JVM, no warm-cache
  bleed-through). Levels are INTERLEAVED across two rounds (low, high,
  low, high) with best-of-3 trials per round and per-level best across
  rounds: this sandbox drifts ±10% in multi-core throughput over
  minutes with zero reported steal, and disjoint measurement windows
  would bias the ratio. Steal time is still sampled around every trial
  so hypervisor contamination stays visible in the record.

Writes BENCH/scaling.json, the figure BENCH/BASELINE.md §3 and §9e
cite.

Usage: python tools/bench_scaling.py [sf_dir] [turns_per_doc] [N]
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_GEN = r"""
import sys
sf_dir = sys.argv[1]; tpd = int(sys.argv[2]); out = sys.argv[3]; files = int(sys.argv[4])
from semargl_spark.spark_util import tuned_session
spark = tuned_session(parallelism=16, app_name="scale-gen")
spark.sparkContext.setLogLevel("ERROR")
from semargl_spark.sources.transcripts import synth_transcripts
t = synth_transcripts(spark, sf_dir, turns_per_doc=tpd)
t.repartition(files).write.mode("overwrite").parquet(out)
spark.stop()
"""

_WORKER = r"""
import sys, time, json
par = int(sys.argv[1]); inp = sys.argv[2]
from semargl_spark.spark_util import tuned_session
spark = tuned_session(parallelism=par, app_name=f"scale-{par}")
spark.sparkContext.setLogLevel("ERROR")
from semargl_spark.operators.extract import extract_statements, triples

t = spark.read.parquet(inp)
n_turns = t.count()
# warm: JVM + parquet footers + the mapInArrow python workers (one
# small extraction so worker fork + Arrow init is out of the timing)
triples(extract_statements(t.limit(2000))).count()

def read_steal():
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(x) for x in parts[1:9]]
    return sum(vals), vals[7]  # total jiffies, steal jiffies

# best of 3 per round (rounds are interleaved low/high by the parent,
# so slow-machine phases hit both levels): early trials pay JVM C2
# compilation; steady state is what a long-running cluster job sees
walls = []
steals = []
n_triples = 0
for _ in range(3):
    tot0, st0 = read_steal()
    t0 = time.perf_counter()
    n_triples = triples(extract_statements(t)).count()
    walls.append(time.perf_counter() - t0)
    tot1, st1 = read_steal()
    steals.append(round(100.0 * (st1 - st0) / max(tot1 - tot0, 1), 1))
wall = min(walls)
print(json.dumps({"parallelism": par, "turns": n_turns,
                  "triples": n_triples, "wall_sec": round(wall, 2),
                  "walls": [round(w, 2) for w in walls],
                  "steal_pct": steals,
                  "triples_per_sec": round(n_triples / wall, 1),
                  "turns_per_sec": round(n_turns / wall, 1)}))
spark.stop()
"""


def _run_py(code: str, *args: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", code, *args],
        capture_output=True, text=True, timeout=3600, cwd=REPO,
    )
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return line
    raise RuntimeError(f"no result: {out.stderr[-2000:]}")


def run_level(par: int, inp: str) -> dict:
    return json.loads(_run_py(_WORKER, str(par), inp))


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    tpd = int(sys.argv[2]) if len(sys.argv) > 2 else 128
    n = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    inp = os.path.join(tempfile.gettempdir(), f"scale_corpus_{os.getpid()}")
    n_files = 2 * 4 * n  # 8 waves at local[N], 2 at local[4N]
    subprocess.run(
        [sys.executable, "-c", _GEN, sf_dir, str(tpd), inp, str(n_files)],
        check=True, timeout=3600, cwd=REPO,
    )
    try:
        # interleave the levels across rounds: this sandbox shows ±10%
        # multi-core throughput drift over minutes with zero reported
        # steal, so measuring low and high in disjoint windows biases
        # the ratio; alternating rounds + per-level best-of exposes both
        # levels to the same machine phases
        rounds = [(run_level(n, inp), run_level(4 * n, inp)) for _ in range(2)]
        low = min((r[0] for r in rounds), key=lambda r: r["wall_sec"])
        low["walls"] = [w for r in rounds for w in r[0]["walls"]]
        low["steal_pct"] = [s for r in rounds for s in r[0]["steal_pct"]]
        print("low :", low)
        high = min((r[1] for r in rounds), key=lambda r: r["wall_sec"])
        high["walls"] = [w for r in rounds for w in r[1]["walls"]]
        high["steal_pct"] = [s for r in rounds for s in r[1]["steal_pct"]]
        print("high:", high)
    finally:
        shutil.rmtree(inp, ignore_errors=True)

    efficiency = (high["triples_per_sec"] / low["triples_per_sec"]) / 4.0
    result = {
        "sf_dir": sf_dir,
        "turns_per_doc": tpd,
        "N": n,
        "input_files": n_files,
        "input": "storage-resident parquet, materialized before timing",
        "low": low,
        "high": high,
        "scaling_efficiency": round(efficiency, 3),
        "target": 0.8,
        "pass": efficiency >= 0.8,
    }
    print(json.dumps(result))
    os.makedirs(f"{REPO}/BENCH", exist_ok=True)
    with open(f"{REPO}/BENCH/scaling.json", "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
