"""Driver-side URI input adapter (reference BaseStreamProcessor
process(file|uri, mimeType), java:61-120) — offline surface via file://
URIs and bare paths; MIME > extension > sniff priority."""

from __future__ import annotations

import pytest

from semargl_spark.sources.fetch import fetch_document, fetch_to_dataframe, format_for

NT = '<urn:e:1> <urn:p:name> "Entity 1" .\n'
JSONLD = '{"@context": {"name": "urn:p:name"}, "@id": "urn:e:2", "name": "x"}'


def test_format_priority():
    # explicit mime wins over extension
    assert format_for("x.html", mime="application/ld+json") == "jsonld"
    # extension when no mime
    assert format_for("a.nt") == "ntriples"
    assert format_for("file:///tmp/b.rdf") == "rdfxml"
    assert format_for("http://h/c.svg") == "rdfa"
    assert format_for("a.trig") == "trig"
    # content sniff as last resort
    assert format_for("noext", text=NT) == "ntriples"
    # mime parameters are stripped
    assert format_for("x", mime="text/turtle; charset=utf-8") == "turtle"
    assert format_for("x", mime="application/trig") == "trig"


def test_fetch_document_file_uri(tmp_path):
    p = tmp_path / "doc.nt"
    p.write_text(NT)
    uri, fmt, text = fetch_document(f"file://{p}")
    assert fmt == "ntriples" and text == NT
    # bare path works too
    uri, fmt, text = fetch_document(str(p))
    assert fmt == "ntriples" and text == NT


def test_fetch_document_rejects_odd_schemes():
    with pytest.raises(ValueError):
        fetch_document("ftp://host/x.nt")


def test_fetch_to_dataframe_extracts(spark, tmp_path):
    (tmp_path / "a.nt").write_text(NT)
    (tmp_path / "b.jsonld").write_text(JSONLD)
    df = fetch_to_dataframe(
        spark, [str(tmp_path / "a.nt"), str(tmp_path / "b.jsonld")]
    )
    assert df.columns == ["conv_id", "turn_idx", "role", "text", "fmt", "tool", "ts"]
    from semargl_spark.operators.extract import extract_statements, triples

    out = triples(extract_statements(df)).collect()
    preds = {r["pred"] for r in out}
    assert preds == {"urn:p:name"} and len(out) == 2


def test_processor_process_uri_facade(spark, tmp_path):
    from semargl_spark.processor import StreamProcessor

    p = tmp_path / "doc.nt"
    p.write_text(NT)
    sp = StreamProcessor(output="ntriples")
    lines = [r[0] for r in sp.process_uri(spark, f"file://{p}").collect()]
    assert lines == ['<urn:e:1> <urn:p:name> "Entity 1" .']
