"""Idempotency of the materialize/lineage seam: re-running the pipeline
with the same run-id — including two overlapping ``--resume`` attempts —
must not duplicate edges, nodes, or ledger rows, and a run into a used
output dir replaces the graph an earlier run left there.

The reference never re-enters a sink (one StreamProcessor pass per
document, BaseStreamProcessor.java); at 10^12-turn scale retried/zombie
Spark jobs re-enter constantly, so idempotent overwrite semantics are a
correctness surface here, not an optimization.
"""

from __future__ import annotations

import concurrent.futures
import os

import pytest

from jobs.run_pipeline import run

SF_DIR = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_QUERY = os.path.join(ROOT, "jobs", "run_query.py")


@pytest.fixture(scope="module")
def prepared(spark, tmp_path_factory):
    from semargl_spark.sources.transcripts import entity_dictionary, synth_transcripts

    base = tmp_path_factory.mktemp("kg_resume")
    synth_transcripts(spark, SF_DIR, turns_per_doc=2, fmt="ntriples").limit(
        400
    ).write.mode("overwrite").parquet(str(base / "in"))
    entity_dictionary(spark, SF_DIR).write.mode("overwrite").parquet(
        str(base / "dict")
    )
    return base


def _ledger_copies(spark, out: str):
    """max occurrences of any (run_id, stage, partition_id) ledger key."""
    from pyspark.sql import functions as F

    lineage = spark.read.parquet(f"{out}/lineage")
    return (
        lineage.groupBy("run_id", "stage", "partition_id")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )


def test_rerun_same_run_id_is_idempotent(spark, prepared):
    out = str(prepared / "out1")
    kw = dict(
        input_path=str(prepared / "in"),
        output=out,
        dictionary=str(prepared / "dict"),
        run_id="r-idem",
    )
    s1 = run(spark, **kw)
    s2 = run(spark, **kw)  # full recompute, same target
    assert (s1["nodes"], s1["edges"]) == (s2["nodes"], s2["edges"])

    edges = spark.read.parquet(f"{out}/edges")
    assert edges.count() == s1["edges"]
    assert edges.select("src", "pred", "dst").distinct().count() == s1["edges"]
    nodes = spark.read.parquet(f"{out}/nodes")
    assert nodes.select("node").distinct().count() == s1["nodes"]
    # the ledger must hold exactly ONE copy per (run_id, stage, partition)
    assert _ledger_copies(spark, out) == 1


def test_overlapping_resume_runs_do_not_duplicate(spark, prepared):
    out = str(prepared / "out2")
    kw = dict(
        input_path=str(prepared / "in"),
        output=out,
        dictionary=str(prepared / "dict"),
        run_id="r-resume",
    )
    s0 = run(spark, **kw)

    # two overlapping --resume attempts of the completed run (the
    # zombie-retry scenario): both read the complete ledger, skip every
    # stage, and report from the materialized tables
    with concurrent.futures.ThreadPoolExecutor(max_workers=2) as ex:
        futs = [ex.submit(run, spark, **kw, resume=True) for _ in range(2)]
        results = [f.result(timeout=600) for f in futs]

    for s in results:
        assert (s["nodes"], s["edges"]) == (s0["nodes"], s0["edges"])
        assert set(s.get("resumed_stages", [])) == {
            "extract", "link", "canon", "merge",
        }

    edges = spark.read.parquet(f"{out}/edges")
    assert edges.count() == s0["edges"]
    assert edges.select("src", "pred", "dst").distinct().count() == s0["edges"]
    assert _ledger_copies(spark, out) == 1


def test_resume_after_partial_ledger_reruns_missing_stages(spark, prepared):
    """A run whose ledger records only extract+link must re-run canon and
    merge on --resume — and still end up duplicate-free."""
    from pyspark.sql import functions as F

    out = str(prepared / "out3")
    kw = dict(
        input_path=str(prepared / "in"),
        output=out,
        dictionary=str(prepared / "dict"),
        run_id="r-partial",
    )
    s0 = run(spark, **kw)

    # simulate a crash after link: drop canon+merge ledger partitions
    lineage = spark.read.parquet(f"{out}/lineage")
    kept = lineage.filter(F.col("stage").isin("extract", "link"))
    kept.write.mode("overwrite").partitionBy("run_id", "stage").parquet(
        f"{out}/lineage_tmp"
    )
    import shutil

    shutil.rmtree(f"{out}/lineage")
    shutil.move(f"{out}/lineage_tmp", f"{out}/lineage")

    s1 = run(spark, **kw, resume=True)
    assert (s1["nodes"], s1["edges"]) == (s0["nodes"], s0["edges"])
    assert set(s1["resumed_stages"]) == {"extract", "link"}
    lineage = spark.read.parquet(f"{out}/lineage")
    stages = {r["stage"] for r in lineage.select("stage").distinct().collect()}
    assert stages == {"extract", "link", "canon", "merge"}
    assert _ledger_copies(spark, out) == 1


def test_fuzzy_link_flag_links_at_least_exact_matches(spark, prepared, tmp_path):
    out = str(tmp_path / "out_fuzzy")
    s = run(
        spark,
        input_path=str(prepared / "in"),
        output=out,
        run_id="rfuzzy",
        dictionary=str(prepared / "dict"),
        fuzzy_link=True,
    )
    exact = run(
        spark,
        input_path=str(prepared / "in"),
        output=str(tmp_path / "out_exact"),
        run_id="rexact",
        dictionary=str(prepared / "dict"),
    )
    n_fuzzy = spark.read.parquet(f"{out}/links").count()
    n_exact = spark.read.parquet(f"{tmp_path}/out_exact/links").count()
    # distance-1 matching is a superset of exact matching
    assert n_fuzzy >= n_exact > 0
    assert s["nodes"] > 0 and s["edges"] > 0 and exact["edges"] == s["edges"]


def test_job_shapes_and_ontology_stages(spark, prepared, tmp_path):
    """--ontology materializes RDFS entailments into the edge tables;
    --shapes writes a violations side output; both record lineage."""
    import json

    onto = tmp_path / "onto.nt"
    onto.write_text(
        "<urn:p:knows> <http://www.w3.org/2000/01/rdf-schema#subPropertyOf> "
        "<urn:p:related> .\n"
    )
    shapes = tmp_path / "shapes.json"
    shapes.write_text(json.dumps([
        {"shape_id": "noname", "target_class": "urn:t:NoSuchClass",
         "path": "urn:p:name", "min_count": 1},
    ]))
    out = str(tmp_path / "out")
    summary = run(
        spark, input_path=str(prepared / "in"), output=out,
        run_id="rj1", dictionary=str(prepared / "dict"),
        shapes=str(shapes), ontology=str(onto),
    )
    # inferred related-edges reached the merged edge table
    edges = spark.read.parquet(f"{out}/edges")
    assert edges.filter("pred = 'urn:p:related'").count() > 0
    # no entity is typed NoSuchClass -> zero violations, but the stage ran
    assert summary["violations"] == 0
    stages = {
        r["stage"] for r in
        spark.read.parquet(f"{out}/lineage").select("stage").distinct().collect()
    }
    assert {"extract", "infer", "validate"} <= stages


def test_job_observed_metrics_match_counts(spark, prepared, tmp_path):
    """The observed extraction metrics, read from the extract stage's
    ledger row, agree with the statements the job counts itself —
    monitoring must never disagree with lineage."""
    out = str(tmp_path / "out_obs")
    summary = run(spark, input_path=str(prepared / "in"), output=out,
                  run_id="robs")
    obs = summary["observed"]
    assert obs["rows"] == summary["statements"] + summary["errors"]
    assert obs["error_rows"] == summary["errors"]


def test_job_sparql_query_surface(spark, prepared, tmp_path):
    """--sparql runs against the just-materialized edge table: SELECT
    results land in <output>/query with the count in the summary; ASK
    reports a boolean without writing anything."""
    out = str(tmp_path / "out_sparql")
    q = """
    PREFIX p: <urn:p:>
    SELECT ?a ?b WHERE { ?a p:knows ?b . } ORDER BY ?a LIMIT 50
    """
    summary = run(spark, input_path=str(prepared / "in"), output=out,
                  run_id="rq", sparql=q)
    assert summary["query_rows"] == 50
    got = spark.read.parquet(f"{out}/query")
    assert set(got.columns) == {"a", "b"} and got.count() == 50

    s2 = run(spark, input_path=str(prepared / "in"), output=out,
             run_id="rq2", sparql='ASK { ?a <urn:p:knows> ?b . }')
    assert s2["ask"] is True and "query_rows" not in s2

def test_job_sparql_update_surface(spark, prepared, tmp_path):
    """--sparql with an Update request: the UPDATED edge set lands in
    <output>/query (the edges table itself is never overwritten while
    being read); the rewrite is visible in the result."""
    out = str(tmp_path / "out_upd")
    summary = run(spark, input_path=str(prepared / "in"), output=out,
                  run_id="ru", sparql="""
        PREFIX p: <urn:p:>
        DELETE { ?a p:knows ?b } INSERT { ?a p:contacted ?b }
        WHERE { ?a p:knows ?b }
    """)
    got = spark.read.parquet(f"{out}/query")
    preds = {r["pred"] for r in got.select("pred").distinct().collect()}
    assert "urn:p:contacted" in preds and "urn:p:knows" not in preds
    assert summary["query_rows"] == got.count() > 0
    # the materialized edges table is untouched
    edges = spark.read.parquet(f"{out}/edges")
    assert edges.filter("pred = 'urn:p:knows'").count() > 0


def test_run_query_job_lists_and_runs(tmp_path):
    """jobs/run_query.py: --list enumerates the registry without a
    Spark session; a named query writes parquet and reports rows."""
    import json
    import subprocess
    import sys

    env = dict(os.environ)
    r = subprocess.run(
        [sys.executable, RUN_QUERY,
         "--sf-dir", SF_DIR, "--query", "x", "--list"],
        capture_output=True, text=True, env=env, timeout=120,
    )
    names = r.stdout.split()
    assert r.returncode == 0 and "extract_ntriples" in names
    assert len(names) >= 180

    r = subprocess.run(
        [sys.executable, RUN_QUERY,
         "--sf-dir", SF_DIR, "--query", "corpus_mix",
         "--output", str(tmp_path / "out")],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-500:]
    summary = json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["query"] == "corpus_mix" and summary["rows"] > 0

    r = subprocess.run(
        [sys.executable, RUN_QUERY,
         "--sf-dir", SF_DIR, "--query", "nope"],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert r.returncode == 2 and "unknown query" in r.stdout


def test_content_address_stage_and_resume(spark, prepared):
    """--content-address lands <out>/content_addresses + a c14n lineage
    stage; a resumed rerun skips the stage but still reports the count."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    from run_pipeline import run

    out = str(prepared / "out_c14n")
    kw = dict(input_path=str(prepared / "in"), output=out,
              dictionary=str(prepared / "dict"), run_id="rc14n",
              content_address=True)
    s0 = run(spark, **kw)
    addrs = spark.read.parquet(f"{out}/content_addresses")
    assert addrs.filter(F.col("error").isNotNull()).count() == 0
    n_docs = addrs.count()
    assert n_docs > 0 and s0["distinct_content"] <= n_docs
    stages = {
        r["stage"]
        for r in spark.read.parquet(f"{out}/lineage").select("stage").distinct().collect()
    }
    assert "c14n" in stages
    s1 = run(spark, **kw, resume=True)
    assert "c14n" in s1.get("resumed_stages", [])
    assert s1["distinct_content"] == s0["distinct_content"]
    # ledger stays duplicate-free across the rerun
    assert _ledger_copies(spark, out) == 1


def test_sft_render_stage_and_resume(spark, prepared):
    """--sft-render lands <out>/sft + <out>/sft_manifest with an 'sft'
    lineage stage; a resumed rerun skips the stage and reports the
    same counts; rendered spans index into the rendered text."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(ROOT, "jobs"))
    from run_pipeline import run

    out = str(prepared / "out_sft")
    kw = dict(input_path=str(prepared / "in"), output=out,
              dictionary=str(prepared / "dict"), run_id="rsft",
              sft_render=True, sft_capacity=64)
    s0 = run(spark, **kw)
    sft = spark.read.parquet(f"{out}/sft")
    n_convs = sft.count()
    assert s0["sft_conversations"] == n_convs > 0
    assert s0["sft_bins"] > 0
    row = sft.filter(F.col("mask_spans") != "").limit(1).collect()[0]
    a, b = (int(v) for v in row["mask_spans"].split(";")[0].split("-"))
    assert 0 <= a < b <= len(row["rendered"])
    # manifest identity is recoverable: bin members (conv_num) join back
    # to rendered docs, and conv_num is the externally-replayable
    # md5-fold of conv_id (not a Spark-internal hash)
    import hashlib

    assert "conv_num" in sft.columns
    r0 = sft.limit(1).collect()[0]
    assert r0["conv_num"] == int(
        hashlib.md5(r0["conv_id"].encode()).hexdigest()[:15], 16
    )
    man = spark.read.parquet(f"{out}/sft_manifest")
    member_ids = man.select(
        F.explode(F.split("members", ";")).alias("m")
    ).select(
        F.split("m", ":")[0].cast("long").alias("conv_num")
    ).distinct()
    unmatched = member_ids.join(
        sft.select("conv_num").distinct(), "conv_num", "left_anti"
    ).count()
    assert unmatched == 0
    stages = {
        r["stage"]
        for r in spark.read.parquet(f"{out}/lineage")
        .select("stage").distinct().collect()
    }
    assert "sft" in stages
    s1 = run(spark, **kw, resume=True)
    assert "sft" in s1.get("resumed_stages", [])
    assert s1["sft_conversations"] == n_convs
    assert s1["sft_bins"] == s0["sft_bins"]
    assert _ledger_copies(spark, out) == 1


def test_resume_reraises_a_corrupt_ledger_read(spark, prepared):
    """--resume treats only a MISSING ledger as "no lineage yet": a
    ledger file that cannot be read must fail the run instead of
    silently re-running every stage."""
    out = str(prepared / "out_corrupt")
    kw = dict(
        input_path=str(prepared / "in"),
        output=out,
        dictionary=str(prepared / "dict"),
        run_id="r-corrupt",
    )
    run(spark, **kw)
    # a partition of this run that no stage writes, so no stage's
    # overwrite replaces the corrupt file before the ledger read
    bad = prepared / "out_corrupt" / "lineage" / "run_id=r-corrupt" / "stage=bogus"
    bad.mkdir(parents=True)
    (bad / "part-00000-corrupt.snappy.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception) as err:
        run(spark, **kw, resume=True)
    assert "Path does not exist" not in str(err.value)


@pytest.mark.parametrize("flag", ["shapes", "content_address", "sft_render"])
def test_resumed_run_reports_the_fresh_summary(spark, prepared, tmp_path, flag):
    """A resumed run skips the writes of every stage its ledger records
    yet reports the fresh run's summary, key for key: stage counts come
    from the ledger and the rest are read back from the written tables,
    never dropped or recomputed."""
    import json

    from semargl_spark.sources.transcripts import XSD_INTEGER

    extra = {flag: True}
    if flag == "shapes":
        # the domain axiom types every knows-subject a Person, and each
        # Person's decimal urn:p:score breaks an integer datatype shape
        onto = tmp_path / "onto.nt"
        onto.write_text(
            "<urn:p:knows> <http://www.w3.org/2000/01/rdf-schema#domain> "
            "<urn:t:Person> .\n"
        )
        shapes = tmp_path / "shapes.json"
        shapes.write_text(json.dumps([
            {"shape_id": "score", "target_class": "urn:t:Person",
             "path": "urn:p:score", "datatype": XSD_INTEGER},
        ]))
        extra = {"shapes": str(shapes), "ontology": str(onto)}
    out = str(tmp_path / "out")
    kw = dict(input_path=str(prepared / "in"), output=out,
              dictionary=str(prepared / "dict"), run_id=f"r-{flag}", **extra)
    fresh = run(spark, **kw)
    resumed = run(spark, **kw, resume=True)

    ledger = {
        r["stage"]
        for r in spark.read.parquet(f"{out}/lineage").select("stage").distinct().collect()
    }
    assert set(resumed["resumed_stages"]) == ledger
    volatile = ("wall_sec", "resumed_stages")
    assert {k: v for k, v in resumed.items() if k not in volatile} == {
        k: v for k, v in fresh.items() if k not in volatile
    }
    if flag == "shapes":
        assert fresh["violations"] > 0
    assert _ledger_copies(spark, out) == 1


def test_extract_ledger_row_counts_error_rows(spark, tmp_path):
    """The extract stage audits the statements frame, error rows
    included: its stage-summary ledger row (partition_id = -1) counts the
    error rows the job summary reports."""
    from pyspark.sql import functions as F

    from semargl_spark.sources.transcripts import synth_transcripts

    # the mixed corpus: every fifth turn is malformed markup
    synth_transcripts(spark, SF_DIR, turns_per_doc=5).limit(200).write.parquet(
        str(tmp_path / "in")
    )
    out = str(tmp_path / "out")
    summary = run(spark, input_path=str(tmp_path / "in"), output=out,
                  run_id="r-errors")
    rows = (
        spark.read.parquet(f"{out}/lineage")
        .filter((F.col("stage") == "extract") & (F.col("partition_id") == -1))
        .collect()
    )
    assert len(rows) == 1
    assert rows[0]["error_rows"] == summary["errors"] > 0


def test_run_releases_every_frame_it_caches(spark, prepared, tmp_path):
    """run() unpersists what it persists, so in-process callers (tests,
    notebooks, benchmarks) get the session's cache back empty."""
    spark.catalog.clearCache()
    run(spark, input_path=str(prepared / "in"), output=str(tmp_path / "out"),
        dictionary=str(prepared / "dict"), run_id="r-cache")
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_resumed_empty_graph_reports_the_fresh_summary(spark, tmp_path):
    """A corpus of error rows only materializes an empty graph, whose
    node and edge tables still carry their schema: a resumed run reports
    the fresh run's counts, and the SPARQL stage answers over no edges
    instead of failing to read the edge table."""
    from pyspark.sql import functions as F

    spark.createDataFrame(
        [("c1", 0, "<urn:e:1> <urn:p:knows", "user", None, None)],
        "conv_id string, turn_idx int, text string, role string, "
        "tool string, ts timestamp",
    ).withColumn("fmt", F.lit("ntriples")).write.parquet(str(tmp_path / "in"))
    kw = dict(input_path=str(tmp_path / "in"), output=str(tmp_path / "out"),
              run_id="r-empty",
              sparql="SELECT ?a WHERE { ?a <urn:p:knows> ?b . }")
    fresh = run(spark, **kw)
    resumed = run(spark, **kw, resume=True)
    assert (fresh["nodes"], fresh["edges"], fresh["errors"]) == (0, 0, 1)
    assert fresh["query_rows"] == 0
    assert resumed["resumed_stages"] == ["extract", "merge"]
    volatile = ("wall_sec", "resumed_stages")
    assert {k: v for k, v in resumed.items() if k not in volatile} == {
        k: v for k, v in fresh.items() if k not in volatile
    }


def test_run_into_a_used_output_replaces_the_graph(spark, prepared, tmp_path):
    """A second run with another input and run id into the same output
    dir leaves exactly its own graph in the node and edge tables, and its
    summary counts those tables."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "out")
    first = run(spark, input_path=str(prepared / "in"), output=out,
                run_id="r-first")
    assert first["edges"] > 1
    spark.createDataFrame(
        [("c1", 0, "<urn:e:1> <urn:p:knows> <urn:e:2> .", "user", None, None)],
        "conv_id string, turn_idx int, text string, role string, "
        "tool string, ts timestamp",
    ).withColumn("fmt", F.lit("ntriples")).write.parquet(str(tmp_path / "in"))
    second = run(spark, input_path=str(tmp_path / "in"), output=out,
                 run_id="r-second")
    nodes = spark.read.parquet(f"{out}/nodes")
    edges = spark.read.parquet(f"{out}/edges")
    assert {tuple(r) for r in nodes.select("node", "canonical").collect()} == {
        ("urn:e:1", "urn:e:1"), ("urn:e:2", "urn:e:2"),
    }
    assert {tuple(r) for r in edges.select("src", "pred", "dst").collect()} == {
        ("urn:e:1", "urn:p:knows", "urn:e:2"),
    }
    assert (second["nodes"], second["edges"]) == (nodes.count(), edges.count())
