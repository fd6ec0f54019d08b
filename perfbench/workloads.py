"""The benchmark's workloads: one timed pass each, a traced pass that
puts a span around every layer call, and the per-layer metrics.

Layers are the package's modules. A traced pass forces each lazy
layer's output inside its own span (persist + count), so its Spark work
is billed there and not to whichever later layer would have triggered
it. The untraced pass is the program's plain call path.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gen import FORMATS

LAYERS = ("sources", "extract", "kernels", "link", "canon", "fusion",
          "materialize", "sparql", "run_pipeline")
SPARK_LAYERS = tuple(x for x in LAYERS if x != "kernels")
SPAN_COUNTERS = (("executor_run_s", "s"), ("jvm_cpu_s", "s"),
                 ("tasks", "count"), ("failed_tasks", "count"),
                 ("spill_mb", "MB"))
SHAPES = ("lookup", "join", "path", "group", "ask")


def per_layer_metrics() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    m = [
        ("sources.scan_s", "s", "lower"), ("sources.rows", "count", "higher"),
        ("sources.input_mb", "MB", "lower"), ("sources.decode_s", "s", "lower"),
        ("extract.wall_s", "s", "lower"),
        ("extract.arrow_roundtrip_s", "s", "lower"),
        ("extract.python_run_s", "s", "lower"),
        ("extract.python_boot_s", "s", "lower"),
        ("extract.python_sent_mb", "MB", "lower"),
        ("extract.python_returned_mb", "MB", "lower"),
        ("extract.statements", "count", "higher"),
        ("extract.error_rows", "count", "lower"),
        ("extract.useful_ratio", "ratio", "higher"),
    ]
    for f in FORMATS:
        m += [(f"kernels.{f}.statements_per_s", "statements/s", "higher"),
              (f"kernels.{f}.docs", "count", "higher")]
    m += [
        ("link.wall_s", "s", "lower"), ("link.mentions", "count", "higher"),
        ("link.linked", "count", "higher"), ("link.hit_ratio", "ratio", "higher"),
        ("link.shuffle_mb", "MB", "lower"),
        ("canon.wall_s", "s", "lower"), ("canon.spark_jobs", "count", "lower"),
        ("canon.shuffle_mb", "MB", "lower"), ("canon.components", "count", "higher"),
        ("fusion.wall_s", "s", "lower"), ("fusion.spark_jobs", "count", "lower"),
        ("fusion.shuffle_mb", "MB", "lower"),
        ("fusion.fused_nodes", "count", "higher"),
        ("materialize.wall_s", "s", "lower"), ("materialize.files", "count", "lower"),
        ("materialize.output_mb", "MB", "lower"),
        ("materialize.lineage_rows", "count", "higher"),
        ("sparql.translate_ms", "ms", "lower"), ("sparql.execute_ms", "ms", "lower"),
        ("sparql.spark_jobs_per_query", "count", "lower"),
        ("sparql.rows_returned", "count", "higher"),
    ]
    m += [(f"sparql.{s}.p50_ms", "ms", "lower") for s in SHAPES]
    m += [(f"{layer}.self_s", "s", "lower") for layer in LAYERS]
    m += [(f"{layer}.{c}", unit, "lower")
          for layer in SPARK_LAYERS for c, unit in SPAN_COUNTERS]
    m += [("host.steal_pct", "%", "lower"), ("host.nproc", "count", "higher"),
          ("trace.overhead_s", "s", "lower")]
    return m


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping checksum files."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".crc") or n.startswith("_"):
                continue
            size += os.path.getsize(os.path.join(dirpath, n))
            files += 1
    return size, files


def kernel_probe(sample: dict) -> tuple[dict, dict[str, list[str]]]:
    """Single-threaded in-process parse of each format's sampled turns:
    median of three timed repetitions after one untimed one. Returns the
    metrics and, per format, the statement-count mismatches."""
    from semargl_spark.kernels import (jsonld, microdata, ntriples, rdfa,
                                       rdfxml, turtle_read)

    parsers = {
        "ntriples": lambda t, b, k: ntriples.parse(t, doc_key=k),
        "nquads": lambda t, b, k: ntriples.parse_nquads(t, doc_key=k),
        "jsonld": lambda t, b, k: jsonld.parse(t, base_uri=b, doc_key=k),
        "rdfa": lambda t, b, k: rdfa.parse(t, base_uri=b, doc_key=k),
        "rdfxml": lambda t, b, k: rdfxml.parse(t, base_uri=b, doc_key=k),
        "turtle": lambda t, b, k: turtle_read.parse(t, base_uri=b, doc_key=k),
        "trig": lambda t, b, k: turtle_read.parse_trig(t, base_uri=b, doc_key=k),
        "microdata": lambda t, b, k: microdata.parse(t, base_uri=b, doc_key=k),
    }
    out, mismatches = {}, {}
    for fmt, parse in parsers.items():
        texts = sample[fmt]["texts"]
        docs = [(t, f"urn:transcript:probe:{i}", f"probe_{i}")
                for i, t in enumerate(texts)]
        times, n = [], 0
        for rep in range(4):
            t0 = time.perf_counter()
            n = sum(len(parse(t, b, k)[0]) for t, b, k in docs)
            if rep:
                times.append(time.perf_counter() - t0)
        mismatches[fmt] = ([] if n == sample[fmt]["statements"] else
                           [f"kernel {fmt}: {n} statements, "
                            f"expected {sample[fmt]['statements']}"])
        wall = statistics.median(times)
        out[f"kernels.{fmt}.statements_per_s"] = n / wall if wall > 0 else 0.0
        out[f"kernels.{fmt}.docs"] = float(len(docs))
    return out, mismatches


class Workload:
    """One workload over a prepared input directory."""

    name = ""
    warmup_passes = 0
    min_passes = 1
    max_passes: float = float("inf")

    def __init__(self, spark, root: str, inputs: str, manifest: dict, work: str):
        self.spark, self.root, self.inputs = spark, root, inputs
        self.manifest, self.work = manifest, work
        self.transcripts = os.path.join(inputs, "transcripts")
        self.layer: dict[str, float] = {}

    def run_pass(self) -> list[str]:
        """One uninstrumented pass; returns the mismatches found."""
        raise NotImplementedError

    def traced_pass(self, tracer, trace_id: str) -> list[str]:
        raise NotImplementedError

    def probes(self, tracer) -> list[list[str]]:
        """Traced-run extras measured outside the pass: the kernel probe
        and the Arrow boundary alone. The boundary is an identity
        mapInArrow over the columns extraction ships (same scan, same
        batches) minus a plain aggregate that scans and decodes the same
        columns. Returns the mismatches of each checked operation (one
        per kernel)."""
        with tracer.span("kernels", "kernels"):
            metrics, bad = kernel_probe(self.manifest["kernel_sample"])
        self.layer.update(metrics)

        def plain():
            return self._probe_input().agg(
                F.count("conv_id"), F.sum("turn_idx"),
                F.sum(F.length("text")), F.count("fmt"))

        def identity():
            df = self._probe_input()
            return df.mapInArrow(lambda batches: batches, schema=df.schema
                                 ).agg(F.count(F.lit(1)))

        # a fresh DataFrame per run: re-running one would reuse the
        # shuffle its adaptive plan already wrote; the first round only
        # warms both plans up
        times: dict[str, list[float]] = {"decode": [], "roundtrip": []}
        for rep in range(4):
            for name, make in (("decode", plain), ("roundtrip", identity)):
                q = make()
                with tracer.span(f"arrow_{name}", name) as sp:
                    q.collect()
                if rep:
                    times[name].append(sp.duration)
        decode = statistics.median(times["decode"])
        self.layer["sources.decode_s"] = decode
        self.layer["extract.arrow_roundtrip_s"] = (
            statistics.median(times["roundtrip"]) - decode)
        return list(bad.values())

    def _probe_input(self) -> DataFrame:
        """The columns extraction ships to its Python workers."""
        return self.spark.read.parquet(self.transcripts).select(
            "conv_id", "turn_idx", "text", "fmt")

    def _scan(self, tracer, trace_id: str) -> None:
        with tracer.span("sources", trace_id) as sp:
            row = self.spark.read.parquet(self.transcripts).agg(
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.length("text")).alias("chars"),
                F.count("fmt").alias("hinted"),
            ).collect()[0]
        self.layer["sources.scan_s"] = sp.duration
        self.layer["sources.rows"] = float(row["rows"])
        self.layer["sources.input_mb"] = dir_bytes(self.transcripts)[0] / 2**20

    @property
    def triples(self) -> int:
        return self.manifest["triples"]

    @property
    def probe_ops(self) -> int:
        """Checked operations in :meth:`probes`."""
        return len(self.manifest["kernel_sample"])


def _check(name: str, got, want, bad: list[str]) -> None:
    if got != want:
        bad.append(f"{name}: got {got}, expected {want}")


class ExtractFormats(Workload):
    """Timed passes follow warm-up passes: extraction is measured as the
    steady-state throughput of a long-running session."""

    name = "extract_formats"
    warmup_passes = 2
    min_passes = 8

    def _extract(self) -> list[str]:
        from semargl_spark.operators.extract import extract_statements

        df = self.spark.read.parquet(self.transcripts)
        row = extract_statements(df).agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum((F.col("obj_kind") == "error").cast("long")).alias("errors"),
            F.sum((F.col("obj_kind") == "iri").cast("long")).alias("iri"),
        ).collect()[0]
        m, bad = self.manifest, []
        _check("triples", row["rows"] - row["errors"], m["triples"], bad)
        _check("error rows", row["errors"], m["error_rows"], bad)
        _check("iri objects", row["iri"], m["by_kind"]["iri"], bad)
        self.layer["extract.statements"] = float(row["rows"])
        self.layer["extract.error_rows"] = float(row["errors"])
        self.layer["extract.useful_ratio"] = (
            (row["rows"] - row["errors"]) / row["rows"] if row["rows"] else 0.0)
        return bad

    def run_pass(self) -> list[str]:
        return self._extract()

    def traced_pass(self, tracer, trace_id: str) -> list[str]:
        with tracer.span("pass", trace_id):
            self._scan(tracer, trace_id)
            with tracer.span("extract", trace_id):
                return self._extract()


@contextlib.contextmanager
def _layer_spans(tracer, trace_id: str, forced: dict):
    """Wrap the layer entry points run_pipeline.run imports (at call
    time) in spans that force their output before returning."""
    from semargl_spark.operators import (canon, extract, fusion, link,
                                         materialize, sparql)

    targets = [
        (extract, "extract_statements", "extract"),
        (link, "link_entities", "link"),
        (canon, "connected_components", "canon"),
        (fusion, "sameas_mapping", "fusion"),
        (materialize, "materialize_kg", "materialize"),
        (materialize, "write_lineage", "materialize"),
        (sparql, "sparql_select", "sparql"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]

    def wrap(fn, layer):
        def traced(*args, **kwargs):
            with tracer.span(layer, trace_id) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = out.persist()
                    out.count()
                    forced.setdefault(layer, []).append((sp, out))
            return out
        return traced

    for mod, attr, layer in targets:
        setattr(mod, attr, wrap(getattr(mod, attr), layer))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


class KgBuild(Workload):
    """The timed pass is the first pipeline run in the fresh session, as
    ``spark-submit jobs/run_pipeline.py`` runs it once per JVM: its
    plans' code generation and JIT warm-up are part of what a user of
    the batch job pays on every run."""

    name = "kg_build"
    warmup_passes = 0
    min_passes = max_passes = 1

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        sys.path.insert(0, os.path.join(self.root, "jobs"))
        self.out = os.path.join(self.work, "kg_out")

    @property
    def probe_ops(self) -> int:
        return super().probe_ops + len(self.manifest["queries"])

    def _pipeline(self) -> list[str]:
        from run_pipeline import run

        m = self.manifest
        query = next(q for q in m["queries"] if q["shape"] == "join")
        s = run(self.spark, input_path=self.transcripts, output=self.out,
                run_id="perfbench",
                dictionary=os.path.join(self.inputs, "dictionary.parquet"),
                fuse_sameas=True, sparql=query["query"])
        bad: list[str] = []
        for key in ("nodes", "edges", "fused_nodes", "statements"):
            _check(key, s.get(key), m[key], bad)
        _check("errors", s.get("errors"), m["error_rows"], bad)
        _check("query_rows", s.get("query_rows"), query["expect"], bad)
        self.layer["fusion.fused_nodes"] = float(s.get("fused_nodes") or 0)
        return bad

    def run_pass(self) -> list[str]:
        return self._pipeline()

    def traced_pass(self, tracer, trace_id: str) -> list[str]:
        forced: dict = {}
        with tracer.span("pass", trace_id):
            self._scan(tracer, trace_id)
            with _layer_spans(tracer, trace_id, forced):
                with tracer.span("run_pipeline", trace_id):
                    bad = self._pipeline()
        self._forced_counts(tracer, forced)
        self.spark.catalog.clearCache()
        return bad

    def _forced_counts(self, tracer, forced: dict) -> None:
        from semargl_spark.operators.link import extract_mentions

        statements = forced["extract"][0][1]
        n = statements.count()
        errors = statements.filter(F.col("obj_kind") == "error").count()
        self.layer["extract.statements"] = float(n)
        self.layer["extract.error_rows"] = float(errors)
        self.layer["extract.useful_ratio"] = (n - errors) / n if n else 0.0
        mentions = extract_mentions(
            statements.filter(F.col("obj_kind") != "error")).count()
        linked = forced["link"][0][1].count()
        self.layer["link.mentions"] = float(mentions)
        self.layer["link.linked"] = float(linked)
        self.layer["link.hit_ratio"] = linked / mentions if mentions else 0.0
        # the link CC is the canon call not nested in the fusion span
        for sp, df in forced["canon"]:
            if tracer.spans[sp.parent].name != "fusion":
                self.layer["canon.components"] = float(
                    df.select("component").distinct().count())
                break
        size, files = 0, 0
        for table in ("nodes", "edges", "lineage"):
            b, f = dir_bytes(os.path.join(self.out, table))
            size, files = size + b, files + f
        self.layer["materialize.output_mb"] = size / 2**20
        self.layer["materialize.files"] = float(files)
        self.layer["materialize.lineage_rows"] = float(
            self.spark.read.parquet(os.path.join(self.out, "lineage")).count())

    def probes(self, tracer) -> list[list[str]]:
        """Adds the seeded query mix, one closed-loop client, over the
        edge table the traced pass wrote; each query is an operation."""
        from semargl_spark.operators.sparql import sparql_ask, sparql_select

        bad = super().probes(tracer)
        edges = self.spark.read.parquet(os.path.join(self.out, "edges"))
        lat: dict[str, list[float]] = {s: [] for s in SHAPES}
        translate, execute, jobs, rows = [], [], [], 0
        for i, q in enumerate(self.manifest["queries"]):
            with tracer.span("sparql", f"query-{i}") as sp:
                t0 = time.perf_counter()
                if q["shape"] == "ask":
                    got = sparql_ask(edges, q["query"])
                    t1 = t0
                else:
                    df = sparql_select(edges, q["query"])
                    t1 = time.perf_counter()
                    got = len(df.collect())
                    rows += got
                t2 = time.perf_counter()
            lat[q["shape"]].append(sp.duration * 1e3)
            if q["shape"] != "ask":
                translate.append((t1 - t0) * 1e3)
            execute.append((t2 - t1) * 1e3)
            jobs.append(sp.counters["spark_jobs"])
            bad.append([] if got == q["expect"] else
                       [f"query {i} ({q['shape']}): got {got}, "
                        f"expected {q['expect']}"])
        self.layer["sparql.translate_ms"] = statistics.median(translate)
        self.layer["sparql.execute_ms"] = statistics.median(execute)
        self.layer["sparql.spark_jobs_per_query"] = statistics.fmean(jobs)
        self.layer["sparql.rows_returned"] = float(rows)
        for s, v in lat.items():
            self.layer[f"sparql.{s}.p50_ms"] = statistics.median(v)
        return bad


WORKLOADS = {w.name: w for w in (ExtractFormats, KgBuild)}
