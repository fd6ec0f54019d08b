"""File-based ingestion adapter (sources/rdf_files.py) — the
reference's primary input mode (BaseStreamProcessor.process(File, baseUri),
core/src/main/java/org/semarglproject/source/BaseStreamProcessor.java:61-84).

Contract under test: a directory of RDF documents yields the same
(conv_id, turn_idx, text, fmt) frame the table path feeds to
operators/extract.py, with (a) format picked from the file extension,
(b) the (conv, turn) document key recovered from the file name, and
(c) extraction output byte-identical to table ingestion of the same
bodies (bnode labels included).
"""

from __future__ import annotations

import os

from semargl_spark.operators.extract import errors, extract_statements, triples
from semargl_spark.sources.rdf_files import read_rdf_files

NT = '<urn:e:1> <urn:p:name> "Alice" .\n'


def test_extension_format_detection(spark, tmp_path):
    (tmp_path / "c7_t0.nt").write_text(NT, encoding="utf-8")
    (tmp_path / "c7_t1.jsonld").write_text(
        '{"@id": "urn:e:9", "urn:p:name": "Bob"}', encoding="utf-8"
    )
    df = read_rdf_files(spark, str(tmp_path) + "/*")
    rows = {(r.conv_id, r.turn_idx): r.fmt for r in df.collect()}
    assert rows == {("c7", 0): "ntriples", ("c7", 1): "jsonld"}


def test_trig_and_htm_files_reach_their_kernels(spark, tmp_path):
    """.trig goes to the TriG kernel (not Turtle, which rejects the
    graph block) and .htm to RDFa, as in sources/fetch.py."""
    (tmp_path / "c2_t0.trig").write_text(
        "@prefix ex: <http://ex.org/> .\nex:g { ex:a ex:p ex:b . }\n",
        encoding="utf-8",
    )
    (tmp_path / "c2_t1.htm").write_text(
        '<html><body><div about="http://ex.org/c">'
        '<span property="http://ex.org/q">v</span></div></body></html>',
        encoding="utf-8",
    )
    st = extract_statements(read_rdf_files(spark, str(tmp_path) + "/*"))
    assert errors(st).count() == 0
    got = {
        (r.turn_idx, r.subj, r.pred, r.obj, r.graph)
        for r in triples(st).collect()
    }
    assert got == {
        (0, "http://ex.org/a", "http://ex.org/p", "http://ex.org/b",
         "http://ex.org/g"),
        (1, "http://ex.org/c", "http://ex.org/q", "v", None),
    }


def test_unmatched_name_falls_back_to_basename(spark, tmp_path):
    (tmp_path / "corpus-dump.nt").write_text(NT, encoding="utf-8")
    row = read_rdf_files(spark, str(tmp_path) + "/*").collect()[0]
    assert (row.conv_id, row.turn_idx) == ("corpus-dump", 0)


def test_fmt_override_beats_extension(spark, tmp_path):
    (tmp_path / "c1_t0.txt").write_text(NT, encoding="utf-8")
    row = read_rdf_files(spark, str(tmp_path) + "/*", fmt="ntriples").collect()[0]
    assert row.fmt == "ntriples"


def test_file_ingestion_matches_table_ingestion(spark, tmp_path):
    """Same bodies through files vs. an in-memory table → identical
    triples, including the doc-scoped bnode labels."""
    bodies = [
        ("c3", 0, '<urn:e:3> <urn:p:knows> <urn:e:4> .\n_:x <urn:p:l> "a"@en .\n'),
        ("c3", 1, '_:x <urn:p:l> "b" .\n_:y <urn:p:m> _:x .\n'),
        ("c4", 0, '<urn:e:4> <urn:p:score> "1.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .\n'),
    ]
    for conv, tix, text in bodies:
        (tmp_path / f"{conv}_t{tix}.nt").write_text(text, encoding="utf-8")
    table = spark.createDataFrame(
        bodies, "conv_id string, turn_idx int, text string"
    )
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj", "obj_kind", "lang", "dtype"]
    from_files = sorted(
        map(
            tuple,
            triples(extract_statements(read_rdf_files(spark, str(tmp_path) + "/*.nt")))
            .select(*cols)
            .collect(),
        )
    )
    from_table = sorted(
        map(
            tuple,
            triples(extract_statements(table, default_fmt="ntriples"))
            .select(*cols)
            .collect(),
        )
    )
    assert from_files == from_table
    assert len(from_files) == 5


def test_one_task_per_file_group(spark, tmp_path):
    """Scale shape: wholetext reads parallelize by file — the document
    is the parser isolation boundary, so file count bounds parallelism
    (sub-file splitting would break per-doc bnode counters)."""
    for i in range(8):
        (tmp_path / f"c{i}_t0.nt").write_text(NT, encoding="utf-8")
    df = read_rdf_files(spark, str(tmp_path) + "/*.nt")
    assert df.count() == 8
    assert df.rdd.getNumPartitions() >= 1
