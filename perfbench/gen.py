"""Seeded benchmark inputs and their ground truth.

Every table the benchmark feeds the program is built here from the
workload seed alone, together with a manifest of the results a correct
program must produce. The manifest is computed from the generator's own
records (plus DuckDB for the SPARQL answers), never by calling
``semargl_spark``, so a wrong program cannot agree with it by sharing
code.

Sizes are drawn by stratified sampling: each format gets the same
multiset of heavy-tailed statement counts up to small jitter, so the
work in a pass barely moves from seed to seed while the contents do.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

FORMATS = ("ntriples", "nquads", "jsonld", "rdfa", "rdfxml", "turtle",
           "trig", "microdata")
# N-Quads and TriG look like N-Triples and Turtle to the sniffer, so
# their turns carry a fmt hint, the way a MIME type would; every other
# turn has fmt = null and is routed by sniffing.
HINTED = ("nquads", "trig")

NAME = "urn:p:name"
KNOWS = "urn:p:knows"
PART_OF = "urn:p:partOf"
LABEL = "urn:p:label"
SCORE = "urn:p:score"
MENTIONED_IN = "urn:p:mentionedIn"
OWL_SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"
XSD_INTEGER = "http://www.w3.org/2001/XMLSchema#integer"
# the name-like predicates operators/link.py treats as mentions
LINK_PREDICATES = (NAME, "http://purl.org/dc/terms/title",
                   "http://xmlns.com/foaf/0.1/name")

EXTRACT_TURNS = 24_000
KG_TURNS = 8_000
KG_ENTITIES = 2_000
KERNEL_SAMPLE = 150  # turns per format in the kernel probe

TRANSCRIPTS_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()),
    ("ts", pa.timestamp("us", tz="UTC")), ("fmt", pa.string()),
])

_SYLLABLES = ("ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "den", "bar",
              "quo", "zel", "pim", "dra", "ost", "wen")


def _word(rng: random.Random, n: int = 3) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n))


def _stratified_sizes(rng: random.Random, n: int, alpha: float,
                      cap: int) -> list[int]:
    """n Pareto(alpha) statement counts in [1, cap], one per stratum of
    the quantile range, shuffled."""
    sizes = [
        min(cap, int((1.0 - (i + rng.random()) / n) ** (-1.0 / alpha)))
        for i in range(n)
    ]
    rng.shuffle(sizes)
    return sizes


def _counts(total: int, shares: dict[str, float]) -> dict[str, int]:
    out = {k: int(total * v) for k, v in shares.items()}
    first = next(iter(out))
    out[first] += total - sum(out.values())
    return out


# ------------------------------------------------------------ serializers
# A record is (subject IRI, [(predicate, object, kind)]), kind "iri" or
# "literal"; literal values are plain ASCII words, so no format needs
# escaping and every serialization yields exactly the record's triples.

def _nt_obj(o: str, kind: str) -> str:
    return f"<{o}>" if kind == "iri" else f'"{o}"'


def ser_ntriples(records) -> str:
    return "".join(f"<{s}> <{p}> {_nt_obj(o, k)} .\n"
                   for s, props in records for p, o, k in props)


def ser_nquads(records, graph: str) -> str:
    return "".join(f"<{s}> <{p}> {_nt_obj(o, k)} <{graph}> .\n"
                   for s, props in records for p, o, k in props)


def _ttl_block(records) -> str:
    return "".join(
        f"<{s}> " + " ;\n  ".join(f"<{p}> {_nt_obj(o, k)}" for p, o, k in props)
        + " .\n"
        for s, props in records
    )


def ser_turtle(records) -> str:
    return "@prefix p: <urn:p:> .\n" + _ttl_block(records)


def ser_trig(records, graph: str) -> str:
    return f"@prefix p: <urn:p:> .\n<{graph}> {{\n{_ttl_block(records)}}}\n"


def ser_jsonld(records) -> str:
    nodes = []
    for s, props in records:
        node: dict = {"@id": s}
        for p, o, k in props:
            node.setdefault(p, []).append({"@id": o} if k == "iri" else o)
        nodes.append(node)
    return json.dumps({"@graph": nodes})


def ser_rdfa(records) -> str:
    body = "".join(
        f'<div about="{s}">' + "".join(
            f'<a rel="{p}" href="{o}">x</a>' if k == "iri"
            else f'<span property="{p}">{o}</span>'
            for p, o, k in props
        ) + "</div>"
        for s, props in records
    )
    return f'<div xmlns="http://www.w3.org/1999/xhtml">{body}</div>'


def ser_microdata(records) -> str:
    body = "".join(
        f'<div itemscope itemid="{s}">' + "".join(
            f'<link itemprop="{p}" href="{o}">' if k == "iri"
            else f'<span itemprop="{p}">{o}</span>'
            for p, o, k in props
        ) + "</div>"
        for s, props in records
    )
    return f"<div>{body}</div>"


def ser_rdfxml(records) -> str:
    def prop(p, o, k):
        local = p.rsplit(":", 1)[1]
        if k == "iri":
            return f'<p:{local} rdf:resource="{o}"/>'
        return f"<p:{local}>{o}</p:{local}>"

    body = "".join(
        f'<rdf:Description rdf:about="{s}">'
        + "".join(prop(p, o, k) for p, o, k in props)
        + "</rdf:Description>"
        for s, props in records
    )
    return ('<?xml version="1.0"?>\n<rdf:RDF xmlns:rdf="http://www.w3.org/'
            '1999/02/22-rdf-syntax-ns#" xmlns:p="urn:p:">' + body + "</rdf:RDF>")


def serialize(fmt: str, records, graph: str = "urn:g:0") -> str:
    if fmt == "nquads":
        return ser_nquads(records, graph)
    if fmt == "trig":
        return ser_trig(records, graph)
    return {
        "ntriples": ser_ntriples, "jsonld": ser_jsonld, "rdfa": ser_rdfa,
        "rdfxml": ser_rdfxml, "turtle": ser_turtle, "microdata": ser_microdata,
    }[fmt](records)


def malformed(records) -> str:
    """An N-Triples document with a bare predicate on its second line:
    one error row, and the statements around the bad line are kept."""
    head, *rest = ser_ntriples(records).splitlines(keepends=True)
    return head + "<urn:x:bad> urn:p:bare <urn:x:bad> .\n" + "".join(rest)


def _records(rng: random.Random, n: int, ns: str) -> list:
    """n statements as records of up to 4 properties each."""
    out = []
    while n > 0:
        k = min(n, rng.randint(1, 4))
        s = f"urn:{ns}:{rng.randrange(1 << 20)}"
        props = []
        for _ in range(k):
            if rng.random() < 0.5:
                props.append((KNOWS, f"urn:{ns}:{rng.randrange(1 << 20)}", "iri"))
            else:
                props.append((LABEL, f"{_word(rng)}{len(props)}", "literal"))
        out.append((s, props))
        n -= k
    return out


def _transcript_rows(rng: random.Random, kinds: list[str], texts: list[str],
                     fmts: list[str | None]):
    """Lay the turns out as conversations of 1-12 turns."""
    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows, i, conv = [], 0, 0
    conv_tag = f"{rng.randrange(1 << 30):08x}"
    while i < len(texts):
        n = min(rng.randint(1, 12), len(texts) - i)
        for t in range(n):
            role = ("user", "assistant", "tool")[t % 3]
            rows.append({
                "conv_id": f"c{conv_tag}-{conv}", "turn_idx": t, "role": role,
                "text": texts[i], "tool": "rdf_extract" if role == "tool" else None,
                "ts": epoch + dt.timedelta(seconds=3600 * conv + 60 * t),
                "fmt": fmts[i],
            })
            i += 1
        conv += 1
    return rows


def _write_transcripts(rows, path: str, n_files: int) -> None:
    table = pa.Table.from_pylist(rows, schema=TRANSCRIPTS_SCHEMA)
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:03d}.parquet"))


def _kernel_sample(kinds: list[str], texts: list[str], expected: list[int]):
    sample: dict[str, dict] = {f: {"texts": [], "statements": 0} for f in FORMATS}
    for kind, text, n in zip(kinds, texts, expected):
        if kind in sample and len(sample[kind]["texts"]) < KERNEL_SAMPLE:
            sample[kind]["texts"].append(text)
            sample[kind]["statements"] += n
    return sample


# ------------------------------------------------------------ extract_formats

# The five payload kinds of bench.py's flagship corpus (synth_transcripts:
# N-Triples, JSON-LD, RDFa, prose and malformed N-Triples) keep its equal
# weights, 12% each. The five formats that corpus leaves out share the
# remaining 40% equally. These shares, the Pareto(1.1) size law capped at
# 300 statements and the turn count are assumptions sized to the
# benchmark's time budget, not measured from real transcripts.
EXTRACT_SHARES = {
    "ntriples": 0.12, "jsonld": 0.12, "rdfa": 0.12, "prose": 0.12,
    "bad_ntriples": 0.12,
    "nquads": 0.08, "rdfxml": 0.08, "turtle": 0.08, "trig": 0.08,
    "microdata": 0.08,
}


def gen_extract_formats(seed: int, out_dir: str, turns: int = EXTRACT_TURNS) -> dict:
    """Every format the sniffer routes, plus prose and malformed turns,
    with heavy-tailed sizes (1 to 300 statements)."""
    rng = random.Random(seed)
    counts = _counts(turns, EXTRACT_SHARES)
    sizes = {k: _stratified_sizes(rng, n, 1.1, 300) for k, n in counts.items()}
    kinds = [k for k, n in counts.items() for _ in range(n)]
    rng.shuffle(kinds)
    texts, fmts, triples_per_turn = [], [], []
    triples = errors = iri = 0
    for kind in kinds:
        n = sizes[kind].pop()
        if kind == "prose":
            texts.append(" ".join(_word(rng, 2) for _ in range(6 + n % 20)))
            fmts.append(None)
            triples_per_turn.append(0)
            continue
        recs = _records(rng, n, "e")
        if kind == "bad_ntriples":
            texts.append(malformed(recs))
            errors += 1
        else:
            texts.append(serialize(kind, recs, f"urn:g:{rng.randrange(16)}"))
        fmts.append(kind if kind in HINTED else None)
        triples_per_turn.append(n)
        triples += n
        iri += sum(k == "iri" for _s, props in recs for _p, _o, k in props)
    # 48 small files: with the session's 16 MiB split size and Spark's
    # 4 MiB open cost they pack about three to a task, so a pass is
    # 14-16 tasks on 4 cores and no single heavy-tailed task sets the wall
    _write_transcripts(_transcript_rows(rng, kinds, texts, fmts),
                       os.path.join(out_dir, "transcripts"), 48)
    return {
        "workload": "extract_formats", "seed": seed, "turns": turns,
        "triples": triples, "error_rows": errors,
        "by_kind": {"iri": iri, "literal": triples - iri},
        "kernel_sample": _kernel_sample(kinds, texts, triples_per_turn),
    }


# ------------------------------------------------------------ kg_build

class _Zipf:
    def __init__(self, n: int, s: float):
        acc, self.cum = 0.0, []
        for k in range(n):
            acc += 1.0 / (k + 1) ** s
            self.cum.append(acc)

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cum, rng.random() * self.cum[-1])


def _dictionary(rng: random.Random, n_entities: int):
    """Two surface forms per entity. 10% of the entities draw their alias
    from a pool of n/50, about five entities per pooled alias, so linking
    must resolve those by weight, then IRI."""
    pool = [f"{_word(rng, 2)} {k}" for k in range(max(1, n_entities // 50))]
    rows, surfaces = [], []
    for e in range(n_entities):
        iri = f"urn:e:{e}"
        name = f"{_word(rng)} {_word(rng, 2)} {e}"
        alias = (rng.choice(pool) if rng.random() < 0.1
                 else f"{_word(rng, 2)} {e}")
        rows.append({"canonical_iri": iri, "surface_form": name, "weight": 1.0})
        rows.append({"canonical_iri": iri, "surface_form": alias,
                     "weight": rng.randrange(1, 64) / 64})
        surfaces.append((name, alias))
    return rows, surfaces


def gen_kg_build(seed: int, out_dir: str, turns: int = KG_TURNS,
                 n_entities: int = KG_ENTITIES) -> dict:
    """A mostly N-Triples corpus for the KG pipeline: zipf-skewed entity
    mentions (entity 0 is the hub) resolved through an alias dictionary,
    recurring mention nodes that merge entities, owl:sameAs chains of
    geometric length and a sparse partOf forest for path queries. The
    86% N-Triples share, the zipf(1.1) law over 2,000 entities and the
    alias, recurrence and chain parameters are assumptions sized to the
    benchmark's time budget, not measured from real transcripts."""
    rng = random.Random(seed)
    zipf = _Zipf(n_entities, 1.1)
    dict_rows, surfaces = _dictionary(rng, n_entities)

    # sameAs chains over the upper half of the entity ids
    pool = list(range(n_entities // 2, n_entities))
    rng.shuffle(pool)
    chain_links = []
    while len(pool) > 40 and len(chain_links) < n_entities // 4:
        length = 2
        while rng.random() < 0.6 and length < 40:
            length += 1
        chain = [pool.pop() for _ in range(length)]
        for a, b in zip(chain, chain[1:]):
            chain_links.append((a, b) if rng.random() < 0.5 else (b, a))
    rng.shuffle(chain_links)

    other = {f: 0.02 for f in FORMATS if f != "ntriples"}
    counts = _counts(turns, {"ntriples": 1.0 - sum(other.values()), **other})
    kinds = [k for k, n in counts.items() for _ in range(n)]
    rng.shuffle(kinds)
    sizes = _stratified_sizes(rng, turns, 1.3, 40)

    mention_ids: list[int] = []
    texts, fmts, truth, errors = [], [], [], 0
    for i, kind in enumerate(kinds):
        n = sizes[i]
        if kind != "ntriples":
            recs = _records(rng, n, "x")
            texts.append(serialize(kind, recs, f"urn:g:{rng.randrange(16)}"))
            fmts.append(kind if kind in HINTED else None)
            truth.append([(s, p, o, k) for s, props in recs for p, o, k in props])
            continue
        lines: list[tuple[str, str, str, str]] = []
        while len(lines) < n:
            r = rng.random()
            if r < 0.45:
                if mention_ids and rng.random() < 0.08:
                    mid = rng.choice(mention_ids)
                else:
                    mid = len(mention_ids)
                    mention_ids.append(mid)
                m = f"urn:m:{mid}"
                if rng.random() < 0.15:
                    surface = f"unknown {_word(rng)}"
                else:
                    name, alias = surfaces[zipf.draw(rng)]
                    surface = name if rng.random() < 0.6 else alias
                    if rng.random() < 0.3:
                        surface = "  " + surface.upper() + " "
                lines.append((m, NAME, surface, "literal"))
                lines.append((m, MENTIONED_IN, f"urn:d:{i // 4}", "iri"))
            elif r < 0.75:
                lines.append((f"urn:e:{zipf.draw(rng)}", KNOWS,
                              f"urn:e:{zipf.draw(rng)}", "iri"))
            elif r < 0.82 and chain_links:
                a, b = chain_links.pop()
                lines.append((f"urn:e:{a}", OWL_SAME_AS, f"urn:e:{b}", "iri"))
            elif r < 0.90:
                t = rng.randrange(1, n_entities)
                lines.append((f"urn:t:{t}", PART_OF,
                              f"urn:t:{rng.randrange(t)}", "iri"))
            else:
                lines.append((f"urn:e:{zipf.draw(rng)}", SCORE,
                              str(rng.randrange(100)), "typed"))
        text = "".join(
            f"<{s}> <{p}> <{o}> .\n" if k == "iri"
            else f'<{s}> <{p}> "{o}"^^<{XSD_INTEGER}> .\n' if k == "typed"
            else f'<{s}> <{p}> "{o}" .\n'
            for s, p, o, k in lines
        )
        if rng.random() < 0.01:
            text = text + "<urn:x:bad> urn:p:bare <urn:x:bad> .\n"
            errors += 1
        texts.append(text)
        fmts.append(None)
        truth.append([(s, p, o, "literal" if k == "typed" else k)
                      for s, p, o, k in lines])
    # leftover chain links join the last N-Triples turn, so every chain
    # is whole
    last = max(i for i, k in enumerate(kinds) if k == "ntriples")
    texts[last] += "".join(f"<urn:e:{a}> <{OWL_SAME_AS}> <urn:e:{b}> .\n"
                           for a, b in chain_links)
    truth[last] += [(f"urn:e:{a}", OWL_SAME_AS, f"urn:e:{b}", "iri")
                    for a, b in chain_links]
    rows = _transcript_rows(rng, kinds, texts, fmts)
    conv_of = [(r["conv_id"], r["turn_idx"]) for r in rows]
    _write_transcripts(rows, os.path.join(out_dir, "transcripts"), 8)
    pq.write_table(
        pa.Table.from_pylist(dict_rows, schema=pa.schema([
            ("canonical_iri", pa.string()), ("surface_form", pa.string()),
            ("weight", pa.float64())])),
        os.path.join(out_dir, "dictionary.parquet"),
    )
    expected_per_turn = [len(t) for t in truth]
    manifest = {"workload": "kg_build", "seed": seed, "turns": turns,
                "kernel_sample": _kernel_sample(kinds, texts, expected_per_turn)}
    manifest.update(_kg_truth(truth, conv_of, dict_rows, errors, rng))
    return manifest


# ------------------------------------------------------------ KG oracle

def _components(pairs) -> dict[str, str]:
    """Connected components over (a, b) pairs, a != b; every touched
    node maps to the lexicographic minimum of its component."""
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a == b:
            continue
        for x in (a, b):
            parent.setdefault(x, x)
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def _kg_truth(truth, keys, dict_rows, errors: int, rng: random.Random) -> dict:
    """What jobs/run_pipeline.run(dictionary=..., fuse_sameas=True) must
    write, replayed from the generator's own triples."""
    best: dict[str, tuple[float, str]] = {}
    for r in dict_rows:
        surf = r["surface_form"].lower().strip(" ")
        cand = (r["weight"], r["canonical_iri"])
        if surf not in best or cand > best[surf]:
            best[surf] = cand
    # entity linking: best candidate per (conv, turn, mention node)
    links: dict[tuple, tuple[float, str]] = {}
    mentions = 0
    for key, triples in zip(keys, truth):
        for s, p, o, k in triples:
            if k != "literal" or p not in LINK_PREDICATES:
                continue
            mentions += 1
            cand = best.get(o.lower().strip(" "))
            if cand is not None:
                lk = (key, s)
                if lk not in links or cand > links[lk]:
                    links[lk] = cand
    link_pairs = {(s, iri) for (_key, s), (_w, iri) in links.items()}
    comp = _components(link_pairs)

    flat = [t for triples in truth for t in triples]
    same = [(s, o) for s, p, o, k in flat if p == OWL_SAME_AS and k == "iri"]
    fused = _components(same)
    st = [
        (fused.get(s, s), p, fused.get(o, o) if k == "iri" else o, k)
        for s, p, o, k in flat if p != OWL_SAME_AS
    ]
    nodes = {s for s, _p, _o, _k in st} | {
        o for _s, _p, o, k in st if k in ("iri", "bnode")}
    edges = {
        (comp.get(s, s), p, comp.get(o, o))
        for s, p, o, k in st if k in ("iri", "bnode")
    }
    return {
        "triples": len(flat), "error_rows": errors,
        "mentions": mentions, "linked": len(links),
        "components": len(set(comp.values())),
        "fused_nodes": len(fused), "statements": len(st),
        "nodes": len(nodes), "edges": len(edges),
        "queries": _queries(edges, rng),
    }


def _queries(edges, rng: random.Random) -> list[dict]:
    """The seeded query mix over the edge table, answered by DuckDB."""
    import duckdb

    # entities by out-degree; lookups and joins start below the head
    # so answers are neither empty nor hub-sized
    deg: dict[str, int] = {}
    for s, p, _o in edges:
        if p == KNOWS and s.startswith("urn:e:"):
            deg[s] = deg.get(s, 0) + 1
    srcs = sorted(deg)
    ranked = sorted(srcs, key=lambda s: (-deg[s], s))
    tax = sorted({s for s, p, _o in edges if p == PART_OF})
    mid = ranked[len(ranked) // 40: len(ranked) // 4] or ranked
    out = []
    for i in range(4):
        e = rng.choice(mid)
        out.append({"shape": "lookup",
                    "query": f"SELECT ?p ?o WHERE {{ <{e}> ?p ?o . }}",
                    "sql": f"SELECT pred, dst FROM e WHERE src = '{e}'"})
        e = rng.choice(mid)
        out.append({"shape": "join",
                    "query": (f"PREFIX p: <urn:p:> SELECT ?b ?c WHERE {{ "
                              f"<{e}> p:knows ?b . ?b p:knows ?c . }}"),
                    "sql": ("SELECT x.dst, y.dst FROM e x JOIN e y ON x.dst = y.src "
                            f"WHERE x.src = '{e}' AND x.pred = '{KNOWS}' "
                            f"AND y.pred = '{KNOWS}'")})
        t = rng.choice(tax)
        out.append({"shape": "path",
                    "query": (f"PREFIX p: <urn:p:> SELECT ?b WHERE {{ "
                              f"<{t}> p:partOf{{1,3}} ?b . }}"),
                    "sql": ("WITH RECURSIVE r(n, h) AS ("
                            f"SELECT dst, 1 FROM e WHERE src = '{t}' AND pred = '{PART_OF}' "
                            "UNION SELECT e.dst, r.h + 1 FROM r JOIN e ON e.src = r.n "
                            f"WHERE e.pred = '{PART_OF}' AND r.h < 3) "
                            "SELECT DISTINCT n FROM r")})
        out.append({"shape": "group",
                    "query": ("SELECT ?p (COUNT(?o) AS ?n) WHERE { ?s ?p ?o . } "
                              "GROUP BY ?p"),
                    "sql": "SELECT pred, count(*) FROM e GROUP BY pred"})
        e = rng.choice(srcs) if i % 2 else f"urn:e:absent{rng.randrange(100)}"
        out.append({"shape": "ask",
                    "query": f"ASK {{ <{e}> <{KNOWS}> ?o . }}",
                    "sql": f"SELECT 1 FROM e WHERE src = '{e}' AND pred = '{KNOWS}'"})
    con = duckdb.connect()
    try:
        src, pred, dst = zip(*sorted(edges))
        con.register("e", pa.table({"src": src, "pred": pred, "dst": dst}))
        for q in out:
            n = len(con.execute(q.pop("sql")).fetchall())
            q["expect"] = (n > 0) if q["shape"] == "ask" else n
    finally:
        con.close()
    return out


GENERATORS = {"extract_formats": gen_extract_formats, "kg_build": gen_kg_build}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the workload's input tables under ``out_dir`` and return
    its manifest (also written as ``out_dir/manifest.json``)."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = GENERATORS[workload](seed, out_dir)
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest
