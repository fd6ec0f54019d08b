"""Self-tests of the benchmark: generator determinism, manifest
agreement with the program on a tiny seed, and metric names.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "jobs")]

import gen  # noqa: E402
import run as bench_run  # noqa: E402
from spans import Tracer  # noqa: E402
from sparkmetrics import parse_sql_metric  # noqa: E402
from workloads import kernel_probe, per_layer_metrics  # noqa: E402

TINY = {"extract_formats": {"turns": 400}, "kg_build": {"turns": 400, "n_entities": 120}}


def _tiny(workload: str, seed: int, out: str) -> dict:
    return gen.GENERATORS[workload](seed, str(out), **TINY[workload])


def _table(path):
    return pq.read_table(os.path.join(path, "transcripts")).to_pylist()


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_inputs(tmp_path, workload):
    a = _tiny(workload, 7, tmp_path / "a")
    b = _tiny(workload, 7, tmp_path / "b")
    c = _tiny(workload, 8, tmp_path / "c")
    assert json.dumps(a, sort_keys=True) == json.dumps(b, sort_keys=True)
    assert _table(tmp_path / "a") == _table(tmp_path / "b")
    assert _table(tmp_path / "a") != _table(tmp_path / "c")
    if workload == "kg_build":
        d = lambda p: pq.read_table(os.path.join(p, "dictionary.parquet")).to_pylist()  # noqa: E731
        assert d(tmp_path / "a") == d(tmp_path / "b")


def test_kernel_sample_matches_manifest(tmp_path):
    m = _tiny("extract_formats", 3, tmp_path)
    _metrics, bad = kernel_probe(m["kernel_sample"])
    assert bad == {f: [] for f in gen.FORMATS}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from semargl_spark.spark_util import tuned_session

    work = tmp_path_factory.mktemp("spark")
    s = tuned_session(parallelism=2, app_name="perfbench-test", extra_conf={
        "spark.driver.memory": "1g", "spark.local.dir": str(work),
        "spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_extract_manifest_agrees_with_program(tmp_path, spark):
    from workloads import ExtractFormats

    m = _tiny("extract_formats", 5, tmp_path)
    wl = ExtractFormats(spark, ROOT, str(tmp_path), m, str(tmp_path))
    assert wl.run_pass() == []


def test_kg_manifest_agrees_with_program(tmp_path, spark):
    from semargl_spark.operators.sparql import sparql_ask, sparql_select
    from workloads import KgBuild

    m = _tiny("kg_build", 5, tmp_path / "in")
    wl = KgBuild(spark, ROOT, str(tmp_path / "in"), m, str(tmp_path))
    assert wl.run_pass() == []
    edges = spark.read.parquet(str(tmp_path / "kg_out" / "edges"))
    for q in m["queries"]:
        got = (sparql_ask(edges, q["query"]) if q["shape"] == "ask"
               else sparql_select(edges, q["query"]).count())
        assert got == q["expect"], q


class _SlowStatusListener:
    """A listener on Spark's status queue that sleeps on every task end,
    so the events queued behind it reach the status store late, the way
    they do when the bus falls behind a busy job."""

    delay = 0.2

    def __getattr__(self, name):
        if not name.startswith("on"):
            raise AttributeError(name)
        if name == "onTaskEnd":
            return lambda _event: time.sleep(self.delay)
        return lambda _event: None

    class Java:
        implements = ["org.apache.spark.scheduler.SparkListenerInterface"]


def test_span_gets_every_task_of_its_job(spark):
    """Each span is billed the whole job it ran, read right after the
    action returns while the listener bus lags: one job, a 4-task map
    stage and a 2-task reduce stage."""
    from operator import add

    from pyspark.java_gateway import ensure_callback_server_started
    from sparkmetrics import SparkMetrics

    ensure_callback_server_started(spark.sparkContext._gateway)
    listener = _SlowStatusListener()
    spark.sparkContext._jsc.sc().listenerBus().addToStatusQueue(listener)
    try:
        rdd = spark.sparkContext.parallelize(range(400), 4).map(
            lambda x: (x % 7, 1))
        tracer = Tracer(SparkMetrics(spark))
        for i in range(3):
            with tracer.span("job", str(i)) as sp:
                assert sum(v for _k, v in rdd.reduceByKey(add, 2).collect()) == 400
            assert sp.counters["spark_jobs"] == 1
            assert sp.counters["tasks"] == 6
            assert sp.counters["failed_tasks"] == 0
            assert sp.counters["shuffle_mb"] > 0
    finally:
        listener.delay = 0.0


def test_printed_names_equal_declared_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(
        bench_run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == \
        per_layer_metrics()
    assert [w["name"] for w in spec["workloads"]] == sorted(gen.GENERATORS)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract_formats",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert out.returncode != 0
    assert out.stdout == ""


def test_sql_metric_values():
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n"
                            "8.5 s (2.1 s, 2.1 s, 2.1 s (stage 2.0: task 6))") == 8.5
    assert parse_sql_metric("345 ms") == pytest.approx(0.345)
    assert parse_sql_metric("1.2 m") == pytest.approx(72.0)
    assert parse_sql_metric("2.0 KiB") == pytest.approx(2 / 1024)


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("outer", "x"):
        with t.span("inner", "x"):
            pass
        with t.span("inner", "x"):
            pass
    layers = t.by_layer()
    outer = t.spans[0]
    kids = sum(s.duration for s in t.spans[1:])
    assert layers["outer"]["self_s"] == pytest.approx(outer.duration - kids)
    assert layers["inner"]["wall_s"] == pytest.approx(kids)
