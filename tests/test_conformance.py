"""Conformance-suite regression gates (SURVEY.md §5, north_rule P/R≥0.95).

Runs the reference's own W3C/community corpora through the kernels.
Thresholds are set at the achieved levels so any regression fails fast;
the full per-case report lives in tools/conformance.py →
BENCH/conformance.json.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF = "/root/reference"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(f"{REF}/rdfa/src/test/resources"),
    reason="reference test corpora not available",
)


def test_ntriples_suite():
    from tools.conformance import run_ntriples

    r = run_ntriples()
    assert r["passed"] == r["total"], r["failed"][:5]


def test_jsonld_suite():
    from tools.conformance import run_jsonld

    r = run_jsonld()
    assert r["passed"] == r["total"], r["failed"][:5]
    assert r["precision"] >= 0.99 and r["recall"] >= 0.99


def test_rdfxml_suite():
    from tools.conformance import run_rdfxml

    r = run_rdfxml()
    assert r["passed"] == r["total"], r["failed"][:5]
    assert r["precision"] >= 0.99 and r["recall"] >= 0.99


def test_rdfa_suite():
    from tools.conformance import run_rdfa

    r = run_rdfa()
    assert r["passed"] == r["total"], {
        k: v["failed"] for k, v in r["by_matrix"].items() if v["failed"]
    }
