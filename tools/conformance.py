"""Conformance harness: replay the reference's W3C/community test suites
through the PySpark kernels and report pass rates + (subj,pred,obj) P/R.

Mirrors the reference's test strategy (SURVEY.md §5): manifest-driven
case selection with the same known-bug exclusions
(jsonld fetch_tests.sparql, fetch_rdfxml_tests.sparql, rdfa
fetch_tests.sparql), golden-file comparison via graph isomorphism
(SesameTestHelper.areModelsEqual) or SPARQL ASK oracles evaluated by
functions/ask.py.

Usage: python tools/conformance.py [jsonld|ntriples|rdfxml|rdfa] ...
Writes a JSON summary to BENCH/conformance.json.
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from semargl_spark.functions.ask import AskQuery
from semargl_spark.functions.graph_compare import diff, isomorphic
from semargl_spark.kernels import jsonld, ntriples, rdfa, rdfxml

REF = "/root/reference"
JSONLD_DIR = f"{REF}/jsonld/src/test/resources/json-ld-org"
RDF_DIR = f"{REF}/rdf/src/test/resources"
RDFA_DIR = f"{REF}/rdfa/src/test/resources/rdfa-testsuite"

JSONLD_KNOWN_BUGS = {  # jsonld fetch_tests.sparql known-bug filters
    "0048", "0063", "0069", "0076", "0087", "0102", "0103", "0105", "0119",
}

RDFXML_EXCLUDES = [  # fetch_rdfxml_tests.sparql XMLLiteral comparison filters
    "rdfms-xml-literal-namespaces/test002.rdf",
    "xml-literals/html.rdf",
    "xml-literals/reported1.rdf",
    "xml-literals/reported2.rdf",
    "xml-literals/reported3.rdf",
    "i18n/t9000.rdf",
]


def _read(path):
    with open(path, "rb") as f:
        raw = f.read()
    # some ARP/i18n fixtures are ISO-8859-1 or carry an XML encoding decl
    m = re.match(rb'\s*<\?xml[^>]*encoding="([^"]+)"', raw)
    if m:
        try:
            return raw.decode(m.group(1).decode("ascii"))
        except (UnicodeDecodeError, LookupError):
            pass
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def _spo_set(triples):
    """(subj,pred,obj) with bnode labels blanked — the P/R unit of the
    north rule."""
    out = set()
    for t in triples:
        s = "_:b" if t.subj.startswith("_:") else t.subj
        o = "_:b" if t.obj_kind == "bnode" else (t.obj, t.lang, t.dtype) if t.obj_kind == "literal" else t.obj
        out.add((s, t.pred, o))
    return out


class PR:
    def __init__(self):
        self.tp = 0
        self.fp = 0
        self.fn = 0

    def add(self, produced, expected):
        inter = len(produced & expected)
        self.tp += inter
        self.fp += len(produced) - inter
        self.fn += len(expected) - inter

    @property
    def precision(self):
        d = self.tp + self.fp
        return self.tp / d if d else 1.0

    @property
    def recall(self):
        d = self.tp + self.fn
        return self.tp / d if d else 1.0


def run_jsonld(verbose=False):
    cases = sorted(
        f[:-len("-in.jsonld")]
        for f in os.listdir(JSONLD_DIR)
        if f.startswith("toRdf-") and f.endswith("-in.jsonld")
    )
    passed, failed, pr = 0, [], PR()
    for case in cases:
        num = case.split("-")[1]
        if num in JSONLD_KNOWN_BUGS:
            continue
        base = f"http://json-ld.org/test-suite/tests/{case}-in.jsonld"
        produced, _errs = jsonld.parse(_read(f"{JSONLD_DIR}/{case}-in.jsonld"), base_uri=base, doc_key="t")
        expected, _ = ntriples.parse_nquads(_read(f"{JSONLD_DIR}/{case}-out.nq"), doc_key="e")
        ok = isomorphic(produced, expected)
        if ok:
            # isomorphic ⇒ every (subj,pred,obj) matches under the bnode
            # bijection; the blanked approximation would undercount
            s = _spo_set(expected)
            pr.add(s, s)
            passed += 1
        else:
            pr.add(_spo_set(produced), _spo_set(expected))
            failed.append(case)
            if verbose:
                a, b = diff(produced, expected)
                print(f"FAIL {case}")
                for r in a[:4]:
                    print("   +", r)
                for r in b[:4]:
                    print("   -", r)
    return {"suite": "jsonld-toRdf", "total": passed + len(failed), "passed": passed,
            "failed": failed, "precision": round(pr.precision, 4), "recall": round(pr.recall, 4)}


def run_ntriples(verbose=False):
    """W3C rdfcore .nt files: parse + serialize + reparse must be
    isomorphic and error-free (NTriplesParserTest.java:89-107)."""
    from semargl_spark.kernels.serialize import render_ntriple

    files = []
    for root, _d, fs in os.walk(f"{RDF_DIR}/w3c"):
        files += [os.path.join(root, f) for f in fs if f.endswith(".nt")]
    passed, failed = 0, []
    for path in sorted(files):
        content = _read(path)
        ts, errs = ntriples.parse(content, doc_key="a")
        rendered = "\n".join(render_ntriple(t) for t in ts)
        ts2, errs2 = ntriples.parse(rendered, doc_key="b")
        if not errs and not errs2 and isomorphic(ts, ts2):
            passed += 1
        else:
            failed.append(os.path.relpath(path, RDF_DIR))
            if verbose:
                print("FAIL", path, errs[:2], errs2[:2])
    return {"suite": "ntriples-w3c", "total": passed + len(failed), "passed": passed, "failed": failed}


def _manifest_cases(manifest_path, root_uri):
    """Extract parser test cases from an RDF/XML manifest using our own
    RDF/XML kernel (dogfooding the parser on the W3C manifests)."""
    TEST_NS = "http://www.w3.org/2000/10/rdf-tests/rdfcore/testSchema#"
    ts, errs = rdfxml.parse(_read(manifest_path), base_uri=root_uri, doc_key="m")
    by_subj: dict[str, dict[str, list[str]]] = {}
    for t in ts:
        by_subj.setdefault(t.subj, {}).setdefault(t.pred, []).append(t.obj)
    rdf_type = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
    cases = []
    for subj, preds in by_subj.items():
        types = preds.get(rdf_type, [])
        status = preds.get(TEST_NS + "status", [""])[0]
        if status != "APPROVED":
            continue
        inputs = preds.get(TEST_NS + "inputDocument", [])
        if not inputs:
            continue
        input_doc = None
        for i in inputs:
            if by_subj.get(i, {}).get(rdf_type, [""])[0].endswith("RDF-XML-Document") or i.endswith(".rdf"):
                input_doc = i
        if input_doc is None:
            continue
        if TEST_NS + "PositiveParserTest" in types:
            outs = preds.get(TEST_NS + "outputDocument", [])
            if outs:
                cases.append(("positive", input_doc, outs[0]))
        elif TEST_NS + "NegativeParserTest" in types:
            cases.append(("negative", input_doc, None))
    return cases


def run_rdfxml(verbose=False):
    mirrors = {
        "http://www.w3.org/2000/10/rdf-tests/rdfcore/": f"{RDF_DIR}/w3c/",
        "http://jcarroll.hpl.hp.com/arp-tests/": f"{RDF_DIR}/arp/",
    }

    def local(uri):
        for pre, d in mirrors.items():
            if uri.startswith(pre):
                return d + uri[len(pre):]
        return None

    cases = []
    for pre, d in mirrors.items():
        mpath = d + "Manifest.rdf"
        if os.path.exists(mpath):
            cases += _manifest_cases(mpath, pre)

    passed, failed, pr = 0, [], PR()
    for kind, input_uri, output_uri in sorted(cases):
        if any(input_uri.endswith(x) for x in RDFXML_EXCLUDES):
            continue
        ipath = local(input_uri)
        if ipath is None or not os.path.exists(ipath):
            continue
        produced, errs = rdfxml.parse(_read(ipath), base_uri=input_uri, doc_key="t")
        if kind == "negative":
            # reference semantics (RdfXmlParserTest.runTest:94-112 +
            # areModelsEqual vs a null expected model): a negative case
            # passes when the produced model is EMPTY — either the parse
            # errored (reference would have thrown ParseException) or the
            # illegal construct was silently ignored (e.g. nested rdf:RDF,
            # RdfXmlParser.java:162-164)
            if errs or not produced:
                passed += 1
            else:
                failed.append(("neg", input_uri.rsplit("/", 2)[-2] + "/" + input_uri.rsplit("/", 1)[-1]))
            continue
        opath = local(output_uri)
        if opath is None or not os.path.exists(opath):
            continue
        if opath.endswith(".rdf"):
            expected, _ = rdfxml.parse(_read(opath), base_uri=output_uri, doc_key="e")
        else:
            expected, _ = ntriples.parse(_read(opath), doc_key="e")
        ok = not errs and isomorphic(produced, expected)
        if ok:
            s = _spo_set(expected)
            pr.add(s, s)
            passed += 1
        else:
            failed.append(("pos", input_uri.rsplit("/", 2)[-2] + "/" + input_uri.rsplit("/", 1)[-1]))
            if verbose:
                a, b = diff(produced, expected)
                print("FAIL", input_uri, errs[:1])
                for r in a[:3]:
                    print("   +", r)
                for r in b[:3]:
                    print("   -", r)
    return {"suite": "rdfxml-w3c+arp", "total": passed + len(failed), "passed": passed,
            "failed": failed[:50], "precision": round(pr.precision, 4), "recall": round(pr.recall, 4)}


_RDFA_EXT = {"xhtml1": "xhtml", "html4": "html", "html5": "html", "xml": "xml", "svg": "svg"}


def _rdfa_manifest():
    """Parse manifest.ttl with a regex reader (the file is mechanically
    regular); returns {case_num: expected_bool}."""
    text = _read(f"{RDFA_DIR}/manifest.ttl")
    cases = {}
    for block in re.split(r"\n(?=<test-cases/\d+>)", text):
        m = re.match(r"<test-cases/(\d+)>", block)
        if not m:
            continue
        num = m.group(1)
        expected = 'test:expectedResults "false"' not in block
        cases[num] = expected
    return cases


def run_rdfa(verbose=False, versions=("rdfa1.0", "rdfa1.1")):
    expected_map = _rdfa_manifest()
    passed, failed, results = 0, [], {}
    for version in versions:
        vdir = os.path.join(RDFA_DIR, version)
        if not os.path.isdir(vdir):
            continue
        vnum = 10 if version.endswith("1.0") else 11
        for host in sorted(os.listdir(vdir)):
            hdir = os.path.join(vdir, host)
            if not os.path.isdir(hdir):
                continue
            ext = _RDFA_EXT.get(host, "xml")
            v_passed, v_failed = 0, []
            for f in sorted(os.listdir(hdir)):
                if not f.endswith(".sparql"):
                    continue
                num = f[:-7]
                if num == "0294":  # excluded by the reference fetch query
                    continue
                in_path = os.path.join(hdir, f"{num}.{ext}")
                if not os.path.exists(in_path):
                    continue
                base = f"http://rdfa.info/test-suite/test-cases/{version}/{host}/{num}.{ext}"
                triples, _errs = rdfa.parse(
                    _read(in_path), base_uri=base, doc_key="t", rdfa_version=vnum
                )
                try:
                    q = AskQuery(_read(os.path.join(hdir, f)), base=base)
                    got = q.ask(triples)
                except Exception as exc:
                    got = None
                    if verbose:
                        print("ASK-ERR", version, host, num, exc)
                want = expected_map.get(num, True)
                if got == want:
                    v_passed += 1
                else:
                    v_failed.append(num)
                    if verbose and len(v_failed) <= 5:
                        print(f"FAIL {version}/{host}/{num} got={got} want={want}")
            results[f"{version}/{host}"] = {
                "passed": v_passed, "total": v_passed + len(v_failed), "failed": v_failed[:20],
            }
            passed += v_passed
            failed += [(version, host, n) for n in v_failed]
    return {"suite": "rdfa-testsuite", "total": passed + len(failed), "passed": passed,
            "by_matrix": results}


def main():
    which = sys.argv[1:] or ["jsonld", "ntriples", "rdfxml", "rdfa"]
    verbose = "-v" in which
    which = [w for w in which if w != "-v"]
    out = []
    for name in which:
        fn = {"jsonld": run_jsonld, "ntriples": run_ntriples,
              "rdfxml": run_rdfxml, "rdfa": run_rdfa}[name]
        res = fn(verbose=verbose)
        out.append(res)
        rate = res["passed"] / res["total"] if res["total"] else 0
        print(f"{res['suite']}: {res['passed']}/{res['total']} = {rate:.1%}"
              + (f"  P={res.get('precision')} R={res.get('recall')}" if "precision" in res else ""))
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "conformance.json"), "w") as f:
        json.dump(out, f, indent=1, default=str)


if __name__ == "__main__":
    main()
