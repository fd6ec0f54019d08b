"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_formats --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from the seed, starts Spark on
local[nproc] in this process, runs the workload's warm-up passes, then
timed passes until ``--seconds`` have elapsed (at least the workload's
minimum pass count, at most its maximum), checking every pass against the
generated manifest. With ``--trace 1`` it then runs one untraced
reference pass, one traced pass and the layer probes, writes the spans
to ``.perfbench_work/traces/`` and prints per-layer metrics instead of
the end-to-end ones. The last stdout line is the result object; the
line before it is the full record with the host stamp.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"), ("wall_s", "s"), ("triples_per_s", "triples/s"),
    ("cpu_s", "s"), ("peak_rss_mb", "MB"), ("heap_retained_mb", "MB"),
)


def _program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "semargl_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "jobs", "run_pipeline.py")))


def _session(work: str, nproc: int):
    from semargl_spark.spark_util import tuned_session

    # A fixed, pre-touched 2 GiB heap instead of tuned_session's 20g
    # maximum: there the collector grows the heap by how long its pauses
    # took, and peak_rss_mb spread 0.10 and 0.36 in two sets of ten
    # kg_build seeds. The heap a pass keeps is reported as
    # heap_retained_mb instead.
    spark = tuned_session(parallelism=nproc, app_name="perfbench", extra_conf={
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
             "-Xms2g -XX:+AlwaysPreTouch"),
        "spark.ui.showConsoleProgress": "false",
        # keep every stage, job and SQL execution of the run in the
        # status store so span deltas never miss an evicted entry
        "spark.ui.retainedStages": "1000000",
        "spark.ui.retainedJobs": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warmup_query(spark, nproc: int) -> None:
    """One small extraction on every core, so each Python worker boots."""
    from semargl_spark.operators.extract import extract_statements

    df = spark.createDataFrame(
        [(f"w{i}", 0, f"<urn:w:{i}> <urn:p:x> <urn:w:0> .\n") for i in range(2 * nproc)],
        "conv_id string, turn_idx int, text string",
    ).repartition(nproc)
    if extract_statements(df).count() != 2 * nproc:
        raise RuntimeError("warm-up extraction returned a wrong row count")


def _setup(work: str, nproc: int):
    """Launch the JVM, start the session (which ships the package) and
    boot the Python workers; returns (spark, seconds)."""
    t0 = time.perf_counter()
    spark = _session(work, nproc)
    _warmup_query(spark, nproc)
    return spark, time.perf_counter() - t0


def _shutdown(spark) -> None:
    """Stop Spark and end its JVM (the gateway exits when its stdin
    closes), then wait for the JVM and its Python workers to be gone."""
    import host
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = host.descendants(gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    host.wait_gone(procs, timeout=30)


def _between_passes(spark) -> float:
    """Drop this process's references and let the JVM reclaim cached
    and checkpointed blocks, so each pass starts from the same state.
    Returns the MB of heap still in use after that."""
    gc.collect()
    spark._jvm.System.gc()
    # the first collection lets Spark's cleaner drop the blocks of the
    # pass's now unreachable RDDs, shuffles and broadcasts; the second
    # frees them
    time.sleep(0.3)
    spark._jvm.System.gc()
    memory = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return memory.getHeapMemoryUsage().getUsed() / 2**20


def run(args, work: str) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    import gen
    import host
    from sparkmetrics import SparkMetrics
    from spans import Tracer
    from workloads import WORKLOADS, per_layer_metrics

    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    ticks0 = host.cpu_ticks()
    inputs = os.path.join(work, "input")
    t0 = time.perf_counter()
    manifest = gen.generate(args.workload, args.seed, inputs)
    gen_s = time.perf_counter() - t0

    spark, setup_s = _setup(work, nproc)
    attempted = failed = 0
    errors: list[str] = []

    def attempt(fn, ops: int = 1):
        """Run ``fn`` as ``ops`` operations. ``fn`` returns the mismatch
        list of its one operation, or one list per operation."""
        nonlocal attempted, failed
        try:
            results = fn()
            if ops == 1:
                results = [results]
        except Exception as exc:  # a raise fails every operation in it
            traceback.print_exc(file=sys.stderr)
            results = [[f"{type(exc).__name__}: {exc}"]] * ops
        attempted += len(results)
        for bad in results:
            if bad:
                failed += 1
                errors.extend(bad)

    try:
        wl = WORKLOADS[args.workload](spark, ROOT, inputs, manifest, work)
        jvm_pid = spark._jvm.ProcessHandle.current().pid()

        def cpu_now() -> float:
            """CPU seconds of the JVM and its Python workers plus this
            thread, which runs the driver-side Python: plan building,
            SPARQL translation and run_pipeline's orchestration. The RSS
            sampler's thread is left out."""
            return host.cpu_seconds(jvm_pid) + time.thread_time()

        with host.RssSampler(jvm_pid) as rss:
            warmup_walls = []
            for _ in range(wl.warmup_passes):
                t = time.perf_counter()
                attempt(wl.run_pass)
                warmup_walls.append(time.perf_counter() - t)
                _between_passes(spark)
            walls: list[float] = []
            cpus: list[float] = []
            retained: list[float] = []
            start = time.perf_counter()
            while ((time.perf_counter() - start < args.seconds
                    or len(walls) < wl.min_passes)
                   and len(walls) < wl.max_passes):
                c, t = cpu_now(), time.perf_counter()
                attempt(wl.run_pass)
                walls.append(time.perf_counter() - t)
                cpus.append(cpu_now() - c)
                retained.append(_between_passes(spark))
        wall = statistics.median(walls)
        e2e = {
            "setup_s": setup_s,
            "wall_s": wall,
            "triples_per_s": wl.triples / wall,
            "cpu_s": statistics.median(cpus),
            "peak_rss_mb": rss.peak_mb,
            "heap_retained_mb": statistics.median(retained),
        }
        layer: dict[str, float] = {}
        trace_file = None
        if args.trace:
            # the overhead reference: an untraced pass in the same state
            # (as warm) as the traced pass that follows it
            t = time.perf_counter()
            attempt(wl.run_pass)
            reference_wall = time.perf_counter() - t
            _between_passes(spark)
            tracer = Tracer(SparkMetrics(spark))
            t = time.perf_counter()
            attempt(lambda: wl.traced_pass(tracer, "pass"))
            traced_wall = time.perf_counter() - t
            attempt(lambda: wl.probes(tracer), ops=wl.probe_ops)
            for name, acc in tracer.by_layer().items():
                for key, v in acc.items():
                    layer[f"{name}.{key}"] = v
            layer.update(wl.layer)
            layer["trace.overhead_s"] = traced_wall - reference_wall
            os.makedirs(os.path.join(ROOT, ".perfbench_work", "traces"),
                        exist_ok=True)
            trace_file = os.path.join(
                ROOT, ".perfbench_work", "traces",
                f"{args.workload}-seed{args.seed}.jsonl")
            tracer.dump(trace_file)
    finally:
        _shutdown(spark)

    steal = host.steal_pct(ticks0, host.cpu_ticks())
    layer["host.steal_pct"] = steal
    layer["host.nproc"] = float(nproc)
    if args.trace:
        units = per_layer_metrics()
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                   for n, u, _better in units}
    else:
        metrics = {n: {"value": float(e2e[n]), "unit": u} for n, u in END_TO_END}
    record = {
        "workload": args.workload, "seconds": args.seconds, "trace": args.trace,
        "host": host.stamp(ROOT, args.seed, steal),
        "passes": len(walls), "pass_walls_s": walls, "pass_cpu_s": cpus,
        "warmup_walls_s": warmup_walls,
        "generate_s": gen_s,
        "triples": wl.triples, "attempted": attempted, "failed": failed,
        "failed_ratio": failed / attempted, "errors": errors[:20],
        "end_to_end": e2e, "trace_file": trace_file,
    }
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return record, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("extract_formats", "kg_build"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: no semargl_spark package or jobs/run_pipeline.py "
              f"under {ROOT}; nothing to benchmark", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub))
    # Spark, py4j and the package's zip builder all use the temp dir;
    # keep everything they write inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = None
    try:
        record, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
