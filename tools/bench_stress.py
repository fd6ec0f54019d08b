"""Sustained stress run: shuffle-heavy operator families at ~10^8-turn
scale with per-stage shuffle/spill/skew accounting.

The per-round bench (bench.py) times the whole registry at sf scale;
this tool answers the question the small runs can't: do the
shuffle-heavy families (extraction, minhash-LSH dedup, connected
components over a hub graph, global shuffle) survive a 10^8-row pass
without spill-thrash, OOM, or task retries — and how much shuffle do
they actually move? Metrics come from the live REST status API (stage
shuffle read/write + memory/disk spill + failed-task counts), the SQL
metrics endpoint (AQE "number of skewed partitions" splits), and the
JVM's VmHWM (true peak RSS of the single local-mode process).

Usage:
    python tools/bench_stress.py [--scale 1.0] [--out BENCH/stress.json]

``--scale 0.01`` runs the same shapes at 1/100 size for a smoke pass.
The default ``--out`` is the repo's BENCH/stress.json, cited by
BENCH/BASELINE.md §3b.
Corpora are synthesized executor-side (closed forms of spark.range) —
nothing is collected to the driver.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def _cpu_ticks():
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except OSError:
        return (0, 0)


def _jvm_peak_rss_mb() -> int | None:
    """VmHWM of the local-mode JVM (the java child of this driver)."""
    try:
        import subprocess

        out = subprocess.run(
            ["pgrep", "-f", "org.apache.spark.deploy.SparkSubmit|java.*spark"],
            capture_output=True, text=True,
        ).stdout.split()
        best = None
        for pid in out:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM"):
                            kb = int(line.split()[1])
                            best = max(best or 0, kb // 1024)
            except OSError:
                continue
        return best
    except Exception:
        return None


class RestMetrics:
    """Deltas of completed-stage metrics from the Spark REST API."""

    def __init__(self, ui_base: str):
        self.base = ui_base
        apps = self._get("applications") or []
        self.app = apps[0]["id"] if apps else None

    def _get(self, path: str):
        try:
            with urllib.request.urlopen(
                f"{self.base}/api/v1/{path}", timeout=10
            ) as r:
                return json.load(r)
        except Exception:
            return None

    def snapshot(self) -> dict:
        if not self.app:
            return {}
        stages = self._get(f"applications/{self.app}/stages?status=complete") or []
        agg = {
            "shuffle_write_mb": 0,
            "shuffle_read_mb": 0,
            "memory_spill_mb": 0,
            "disk_spill_mb": 0,
            "failed_tasks": 0,
            "stages": len(stages),
        }
        for s in stages:
            agg["shuffle_write_mb"] += s.get("shuffleWriteBytes", 0) // 2**20
            agg["shuffle_read_mb"] += s.get("shuffleReadBytes", 0) // 2**20
            agg["memory_spill_mb"] += s.get("memoryBytesSpilled", 0) // 2**20
            agg["disk_spill_mb"] += s.get("diskBytesSpilled", 0) // 2**20
            agg["failed_tasks"] += s.get("numFailedTasks", 0)
        return agg

    def skew_splits(self) -> int:
        """Total AQE skew-join partition splits across all SQL queries."""
        if not self.app:
            return 0
        total = 0
        sqls = self._get(f"applications/{self.app}/sql?length=1000") or []
        for q in sqls:
            for node in q.get("nodes", []):
                for m in node.get("metrics", []):
                    if "skewed" in m.get("name", "") and "splits" in m.get(
                        "name", ""
                    ):
                        try:
                            total += int(str(m["value"]).split()[0].replace(",", ""))
                        except (ValueError, KeyError):
                            pass
        return total


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=float, default=1.0)
    ap.add_argument(
        "--out", default=os.path.join(REPO, "BENCH", "stress.json")
    )
    ap.add_argument("--cpus", type=int,
                    default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count())))
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from semargl_spark.spark_util import tuned_session

    # tuned defaults + UI for the REST metrics endpoint
    spark = tuned_session(
        parallelism=args.cpus,
        app_name="semargl-stress",
        extra_conf={"spark.ui.enabled": "true", "spark.ui.port": "4049"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl or "http://localhost:4049"
    rest = RestMetrics(ui)

    from semargl_spark.operators import curation, dedup
    from semargl_spark.operators.canon import connected_components
    from semargl_spark.operators.extract import extract_statements, triples
    from semargl_spark.sources.transcripts import synth_transcripts

    results = {}
    steal0, total0 = _cpu_ticks()

    def run(name, make_df):
        before = rest.snapshot()
        skew_before = rest.skew_splits()
        t0 = time.perf_counter()
        n = make_df().count()
        wall = round(time.perf_counter() - t0, 1)
        after = rest.snapshot()
        delta = {
            k: after[k] - before.get(k, 0)
            for k in after
        } if after else {}
        results[name] = {
            "rows": n,
            "wall_sec": wall,
            "rows_per_sec": round(n / wall, 1) if wall else None,
            "stage_metrics_delta": delta,
            "aqe_skew_splits_delta": rest.skew_splits() - skew_before,
            "jvm_peak_rss_mb_sofar": _jvm_peak_rss_mb(),
        }
        print(name, json.dumps(results[name]), flush=True)

    s = args.scale

    # 1. extraction at 10^8 turns: 5000 docs × 20000 turns/doc. The
    # Python/Arrow boundary at full width — no shuffle, pure scan+flatMap.
    tpd = max(1, int(20000 * s))
    run("extract_turns", lambda: triples(extract_statements(
        synth_transcripts(spark, args.sf_dir, turns_per_doc=tpd))))

    # 2. minhash-LSH near-dup over 10^7 synthetic docs (8-word texts,
    # ~1.5% planted duplicate pairs; zipf-ish hot shingle: word 'hot'
    # appears in 10% of docs). Shuffle-heavy: shingle explode →
    # signature agg → band bucket join → verify join.
    n_docs = int(10_000_000 * s)

    def _dedup_corpus():
        did = F.col("id")
        base = F.when(did % 64 == 0, did - 1).otherwise(did)  # planted dup
        word = lambda k: F.concat(  # noqa: E731
            F.lit(f"w{k}_"), (base * (k + 7) % 999_983).cast("string")
        )
        hot = F.when(did % 10 == 0, F.lit("hot")).otherwise(
            F.concat(F.lit("c"), (did % 997).cast("string"))
        )
        return spark.range(n_docs).select(
            did.alias("doc_id"),
            F.concat_ws(
                " ", hot, *[word(k) for k in range(7)]
            ).alias("text"),
        )

    run("dedup_minhash", lambda: dedup.near_dedup_minhash(
        _dedup_corpus(), threshold=0.5))

    # 3. connected components over 3×10^7 edges with a zipf hub: chain
    # blocks of 16 plus 10% of nodes starring into one hub node — the
    # giant-component + hot-key shape. Iterative shuffle joins.
    n_edges = int(30_000_000 * s)

    def _cc_edges():
        did = F.col("id")
        chain = spark.range(n_edges).filter(did % 16 != 15).select(
            did.cast("string").alias("src"),
            (did + 1).cast("string").alias("dst"),
        )
        star = spark.range(n_edges).filter(did % 10 == 0).select(
            did.cast("string").alias("src"), F.lit("HUB").alias("dst")
        )
        return chain.unionByName(star)

    run("canonicalize_cc", lambda: connected_components(_cc_edges()))

    # 4. global shuffle of 3×10^7 docs: full-corpus md5 sort via the
    # order-preserving block construction (one wide shuffle).
    n_gs = int(30_000_000 * s)
    run("global_shuffle", lambda: curation.global_shuffle(
        spark.range(n_gs).select(F.col("id").alias("doc_id"))))

    steal1, total1 = _cpu_ticks()
    out = {
        "scale": s,
        "cpus": args.cpus,
        "jobs": results,
        "jvm_peak_rss_mb": _jvm_peak_rss_mb(),
        "host_steal_pct": round(
            100.0 * (steal1 - steal0) / (total1 - total0), 2
        ) if total1 > total0 else None,
        "note": (
            "single local-mode JVM; stage metrics are REST deltas over "
            "completed stages; skew splits from SQL metrics "
            "('number of skewed partitions splits')"
        ),
    }
    os.makedirs(os.path.dirname(args.out) or ".", exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"written": args.out, **{k: v["wall_sec"] for k, v in results.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
