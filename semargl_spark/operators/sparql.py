"""SPARQL text front-end: parse a practical SELECT subset and compile
it onto the BGP engine (operators/bgp.py), so users run actual SPARQL
strings against the materialized KG edge table.

Supported grammar (the subset that covers the engine's gated algebra):

    PREFIX pfx: <iri>                      (any number)
    SELECT [DISTINCT] ?a ?b | *            (projection)
    WHERE {
        ?s pfx:p ?o . ?o a pfx:C .         (BGPs; 'a' = rdf:type)
        ?s pfx:p1/pfx:p2/^pfx:p3 ?o .      (sequence paths → chained
                                            patterns via fresh vars;
                                            ^ = inverse step)
        ?s !pfx:p ?o / ?s !(p1|p2) ?o .    (negated property sets →
                                            fresh predicate variable +
                                            inequality FILTERs)
        ?s pfx:p+ ?o / p* / p? / p{0|1,k}  (sole-pattern property paths;
                                            +/* bounded by max_hops;
                                            */?/{0,k} add SPARQL
                                            zero-length pairs, hops=0)
        FILTER(expr)                       (comparisons, &&/||/!,
                                            regex(?v,"re"),
                                            strstarts(?v,"s"),
                                            bound(?v); outer FILTERs
                                            run after OPTIONAL's
                                            LeftJoin, so !bound gives
                                            negation-by-failure)
        FILTER EXISTS { ... }              (semi-join; any number)
        FILTER NOT EXISTS { ... }          (anti-join; any number)
        BIND(expr AS ?v)                   (computed column; any number)
        { SELECT ... }                     (subqueries; joined on their
                                            projected shared variables)
        OPTIONAL { ... FILTER(expr) }      (any number of groups; an
                                            inner FILTER scopes to the
                                            LeftJoin and may reference
                                            group-bound variables)
        MINUS { ... }                      (one group)
    }
    GROUP BY ?v ...                        (COUNT/MIN/MAX/SUM/AVG/
                                            GROUP_CONCAT[; SEPARATOR]/
                                            SAMPLE aggregates in the
                                            SELECT, e.g. (COUNT(*) AS ?n);
                                            FILTER composes — it scopes
                                            to the group pattern)
    HAVING(expr over aggregate aliases)    (post-aggregation filter)
    ORDER BY [ASC(?v)|DESC(?v)|?v] ...     (optional)
    LIMIT n / OFFSET k                     (optional; OFFSET requires
                                            ORDER BY — an unordered
                                            slice is nondeterministic)

Also: ``{ ... } UNION { ... }`` as the entire WHERE body,
``VALUES ?v { ... }`` / ``VALUES (?a ?b) { (...) ... }`` inline data
(joined into the solution — broadcast by construction, the data is a
query-text literal), ``ASK WHERE { ... }`` via :func:`sparql_ask`, and
``CONSTRUCT { template } WHERE { ... }`` via :func:`sparql_construct`,
and ``DESCRIBE <iri> ...`` / ``DESCRIBE ?v WHERE { ... }`` via
:func:`sparql_describe`, and SPARQL 1.1 Update (``INSERT DATA`` /
``DELETE DATA`` / ``DELETE WHERE`` / ``DELETE {} INSERT {} WHERE {}``,
``;``-chained) via :func:`sparql_update`.

Parsing happens ON THE DRIVER over a short string — the compiled plan
is exactly the Catalyst join tree the list-based API produces, so all
the scale properties (selectivity-ordered joins, pushed constant
filters, anti-join MINUS, TakeOrderedAndProject top-k) carry over
unchanged. Not supported (raise cleanly): nested groups inside
OPTIONAL/MINUS/EXISTS or UNION branches. EXISTS/BIND/subqueries
compose with plain BGP + FILTER + VALUES; OPTIONAL/MINUS/aggregates
keep their existing composition rules.

Reference parity: the reference is a parser framework without a query
language; this is target-side surface over the constructed KG.
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import DataFrame

from ..spark_util import iterate

RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"

_PREFIX_RE = re.compile(r"PREFIX\s+(\w*):\s*<([^>]*)>", re.IGNORECASE)
_SELECT_RE = re.compile(
    r"SELECT\s+(?P<dist>DISTINCT\s+)?"
    r"(?P<proj>\*|(?:(?:\?\w+|\(\s*\w+\s*\([^()]*\)\s+AS\s+\?\w+\s*\))\s*)+)"
    r"\s*WHERE\s*\{(?P<body>.*)\}"
    r"(?P<tail>[^}]*)$",
    re.IGNORECASE | re.DOTALL,
)
_EXISTS_RE = re.compile(
    r"FILTER\s+(?P<neg>NOT\s+)?EXISTS\s*\{(?P<inner>[^{}]*)\}",
    re.IGNORECASE | re.DOTALL,
)
_BIND_RE = re.compile(r"BIND\s*\(", re.IGNORECASE)
_BIND_AS_RE = re.compile(r"^(?P<expr>.+)\s+AS\s+\?(?P<var>\w+)$",
                         re.IGNORECASE | re.DOTALL)
_AGG_RE = re.compile(
    r"\(\s*(\w+)\s*\(([^()]*)\)\s+AS\s+\?(\w+)\s*\)", re.IGNORECASE
)
_GROUPBY_RE = re.compile(r"GROUP\s+BY\s+((?:\?\w+\s*)+)", re.IGNORECASE)
_HAVING_RE = re.compile(r"HAVING\s*\(", re.IGNORECASE)
_UNION_RE = re.compile(
    r"^\s*\{(?P<l>[^{}]*)\}\s*UNION\s*\{(?P<r>[^{}]*)\}\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ORDER_RE = re.compile(
    r"ORDER\s+BY\s+(?P<keys>(?:(?:ASC|DESC)\s*\(\s*\?\w+\s*\)|\?\w+)"
    r"(?:\s+(?:(?:ASC|DESC)\s*\(\s*\?\w+\s*\)|\?\w+))*)",
    re.IGNORECASE,
)
_LIMIT_RE = re.compile(r"LIMIT\s+(\d+)", re.IGNORECASE)
_OFFSET_RE = re.compile(r"OFFSET\s+(\d+)", re.IGNORECASE)
_GROUP_RE = re.compile(r"(OPTIONAL|MINUS)\s*\{([^{}]*)\}", re.IGNORECASE)
_VALUES_RE = re.compile(
    r"VALUES\s*(?P<vars>\?\w+|\(\s*(?:\?\w+\s*)+\))\s*\{(?P<data>[^{}]*)\}",
    re.IGNORECASE | re.DOTALL,
)
_CONSTRUCT_RE = re.compile(
    r"CONSTRUCT\s*\{(?P<tmpl>[^{}]*)\}\s*WHERE\s*\{(?P<body>.*)\}\s*$",
    re.IGNORECASE | re.DOTALL,
)
_GRAPH_RE = re.compile(
    r"^\s*GRAPH\s+(?P<g>\?\w+|<[^>]*>|\w*:\w+)\s*\{(?P<inner>[^{}]*)\}\s*$",
    re.IGNORECASE | re.DOTALL,
)
_FILTER_RE = re.compile(r"FILTER\s*\(", re.IGNORECASE)
_VAR_RE = re.compile(r"\?(\w+)")


class SparqlError(ValueError):
    pass


_PATH_BOUND_RE = re.compile(
    r"^(?P<core>.+?)"
    r"(?:(?P<plus>\+)|(?P<star>\*)|(?P<opt>\?)|\{(?P<lo>\d+),(?P<k>\d+)\})$"
)
_BOUND_RE = re.compile(r"\{\s*\d+\s*,\s*\d+\s*\}")


def _parse_path(pred_tok: str, prefixes: dict[str, str]):
    """If the predicate token is a property-path expression, return
    (forward_preds, inverse_preds, k_or_None_for_unbounded, zero_ok,
    min_hops); else None.

    Supported: ``p+``, ``p*``, ``p?``, ``p{lo,k}`` (any 0 ≤ lo ≤ k)
    and the same closures over an alternation ``(p|^q|...)`` where
    each step is an IRI / prefixed name and ``^`` marks an inverse
    step. ``+`` and ``*`` (unbounded in SPARQL) map to the engine's
    bounded closure with the caller-supplied ``max_hops`` — an
    unbounded transitive closure over 10^12 edges is a quadratic
    blow-up, so the bound is mandatory and explicit. ``zero_ok``
    (``*``, ``?``, ``{0,k}``) adds the SPARQL zero-length pairs:
    (t, t) for every term of the graph when both ends are variables,
    (s, s) for a constant end. ``min_hops ≥ 2`` (``{2,k}``) filters
    the closure to paths of at least that length."""
    tok = pred_tok.strip()
    if tok.startswith("?") and _VAR_RE.fullmatch(tok):
        return None  # a variable predicate, not a path
    m = _PATH_BOUND_RE.match(tok)
    if not m:
        return None
    core = m.group("core").strip()
    alts = None
    if core.startswith("(") and core.endswith(")"):
        alts = [a.strip() for a in core[1:-1].split("|")]
    elif "|" in core:
        alts = [a.strip() for a in core.split("|")]
    elif core.startswith("^"):
        alts = [core]
    else:
        alts = [core]
    if alts is None:
        return None
    fwd, inv = [], []
    for a in alts:
        if not a:
            raise SparqlError(f"empty alternative in path {pred_tok!r}")
        if a.startswith("^"):
            inv.append(_term(a[1:], prefixes))
        else:
            fwd.append(_term(a, prefixes))
    for t in fwd + inv:
        if t.startswith("?"):
            raise SparqlError("variable steps in property paths not supported")
    if m.group("opt"):
        return fwd, inv, 1, True, 1
    if m.group("lo") is not None:
        lo, k = int(m.group("lo")), int(m.group("k"))
        if lo > k:
            raise SparqlError(f"empty path bound {{{lo},{k}}} in {pred_tok!r}")
        return fwd, inv, k, lo == 0, max(lo, 1)
    return fwd, inv, None, bool(m.group("star")), 1


def _term(tok: str, prefixes: dict[str, str]) -> str:
    """One SPARQL term → the engine's term convention (?var kept,
    everything else resolved to a plain string)."""
    tok = tok.strip()
    if not tok:
        raise SparqlError("empty term")
    if tok.startswith("?"):
        return tok
    if tok == "a":
        return RDF_TYPE
    if tok.startswith("<") and tok.endswith(">"):
        return tok[1:-1]
    if tok.startswith('"'):
        m = re.match(r'^"((?:[^"\\]|\\.)*)"$', tok)
        if not m:
            raise SparqlError(f"bad literal {tok!r}")
        return m.group(1).replace('\\"', '"').replace("\\\\", "\\")
    if ":" in tok:
        pfx, local = tok.split(":", 1)
        if pfx not in prefixes:
            raise SparqlError(f"undeclared prefix {pfx!r} in {tok!r}")
        return prefixes[pfx] + local
    raise SparqlError(f"unrecognized term {tok!r}")


def _split_filter(body: str) -> tuple[str, list[str]]:
    """Pull FILTER(...) expressions (balanced parens) out of a group
    body; returns (body-without-filters, [expr, ...])."""
    out, filters, i = [], [], 0
    while True:
        m = _FILTER_RE.search(body, i)
        if not m:
            out.append(body[i:])
            break
        out.append(body[i:m.start()])
        depth, j = 1, m.end()
        while j < len(body) and depth:
            if body[j] == "(":
                depth += 1
            elif body[j] == ")":
                depth -= 1
            j += 1
        if depth:
            raise SparqlError("unbalanced parens in FILTER")
        filters.append(body[m.end():j - 1].strip())
        i = j
    return "".join(out), filters


def _split_bind(body: str) -> tuple[str, list[tuple[str, str]]]:
    """Pull BIND(expr AS ?var) assignments (balanced parens) out of a
    group body; returns (body-without-binds, [(var, spark_sql_expr)]).
    Expressions go through the same SPARQL→Spark-SQL rewrite as FILTER
    bodies, so CONCAT/arithmetic/?var references all translate."""
    out, binds, i = [], [], 0
    while True:
        m = _BIND_RE.search(body, i)
        if not m:
            out.append(body[i:])
            break
        out.append(body[i:m.start()])
        depth, j = 1, m.end()
        while j < len(body) and depth:
            if body[j] == "(":
                depth += 1
            elif body[j] == ")":
                depth -= 1
            j += 1
        if depth:
            raise SparqlError("unbalanced parens in BIND")
        inner = body[m.end():j - 1].strip()
        am = _BIND_AS_RE.match(inner)
        if not am:
            raise SparqlError(f"expected BIND(expr AS ?var), got BIND({inner})")
        binds.append((am.group("var"), _filter_to_sql(am.group("expr").strip())))
        i = j
    return "".join(out), binds


def _extract_subselects(body: str) -> tuple[str, list[str]]:
    """Pull ``{ SELECT ... }`` subqueries (balanced braces, quoted
    literals and ``<...>`` IRIs skipped) out of a WHERE body; returns
    (body-without-subqueries, [subquery text, ...]). Braces whose
    content does not start with SELECT (OPTIONAL/MINUS/EXISTS groups,
    path bounds ``{1,k}``) are left in place for the later passes."""
    out: list[str] = []
    subs: list[str] = []
    i, n = 0, len(body)
    while i < n:
        ch = body[i]
        if ch == '"':
            j = i + 1
            while j < n:
                if body[j] == "\\":
                    j += 2
                    continue
                if body[j] == '"':
                    break
                j += 1
            out.append(body[i:min(j + 1, n)])
            i = j + 1
        elif ch == "<":
            j = body.find(">", i)
            j = n - 1 if j < 0 else j
            out.append(body[i:j + 1])
            i = j + 1
        elif ch == "{":
            depth, j = 1, i + 1
            while j < n and depth:
                if body[j] == "{":
                    depth += 1
                elif body[j] == "}":
                    depth -= 1
                j += 1
            if depth:
                raise SparqlError("unbalanced braces in group")
            inner = body[i + 1:j - 1]
            if inner.lstrip()[:6].upper() == "SELECT":
                subs.append(inner.strip())
                out.append(" ")
            else:
                out.append(body[i:j])
            i = j
        else:
            out.append(ch)
            i += 1
    return "".join(out), subs


def _split_statements(body: str) -> list[str]:
    """Split a group body into triple statements on top-level ``.`` —
    dots inside quoted literals and ``<...>`` IRIs (http://ex.org/p)
    are NOT separators, unlike a naive ``str.split('.')``."""
    stmts, buf, i, n = [], [], 0, len(body)
    while i < n:
        ch = body[i]
        if ch == '"':
            j = i + 1
            while j < n:
                if body[j] == "\\":
                    j += 2
                    continue
                if body[j] == '"':
                    break
                j += 1
            buf.append(body[i:min(j + 1, n)])
            i = j + 1
        elif ch == "<":
            j = body.find(">", i)
            j = n - 1 if j < 0 else j
            buf.append(body[i:j + 1])
            i = j + 1
        elif ch == "." and (i + 1 >= n or body[i + 1].isspace() or body[i + 1] == "?"):
            stmts.append("".join(buf))
            buf = []
            i += 1
        else:
            buf.append(ch)
            i += 1
    stmts.append("".join(buf))
    return stmts


def _patterns(body: str, prefixes: dict[str, str]) -> list[tuple[str, str, str]]:
    pats = []
    for stmt in _split_statements(body):
        stmt = stmt.strip()
        if not stmt:
            continue
        toks = _tokenize_triple(stmt)
        if len(toks) != 3:
            raise SparqlError(f"expected 's p o' in {stmt!r}")
        if _parse_path(toks[1], prefixes):
            # never resolve 'p:knows+' as the IRI '...knows+' — it
            # would silently match nothing
            raise SparqlError(
                "property paths are supported only as the sole pattern "
                "of the WHERE group in this subset"
            )
        if toks[1].startswith("!") or _split_seq(toks[1]) is not None:
            # sequence / negated-property-set sugar is expanded only in
            # the main SELECT group (sparql_select); never resolve the
            # raw token as an IRI — it would silently match nothing
            raise SparqlError(
                "sequence paths and negated property sets compose only "
                "in the main WHERE group in this subset"
            )
        s, p, o = (_term(t, prefixes) for t in toks)
        pats.append((s, p, o))
    return pats


def _split_seq(pred_tok: str) -> list[str] | None:
    """Split a sequence-path predicate token ``p1/p2/...`` on top-level
    ``/`` (slashes inside ``<...>`` IRIs are not separators). Returns
    the step tokens, or None when the token is not a sequence."""
    steps, buf, i, n = [], [], 0, len(pred_tok)
    while i < n:
        ch = pred_tok[i]
        if ch == "<":
            j = pred_tok.find(">", i)
            j = n - 1 if j < 0 else j
            buf.append(pred_tok[i:j + 1])
            i = j + 1
        elif ch == "/":
            steps.append("".join(buf))
            buf = []
            i += 1
        else:
            buf.append(ch)
            i += 1
    steps.append("".join(buf))
    return steps if len(steps) > 1 else None


def _rewrite_sugar(
    body: str, prefixes: dict[str, str]
) -> tuple[str, list[str], bool]:
    """Expand path sugar in a plain (brace-free) group body into BGP
    patterns the existing engine compiles directly:

    * sequence paths ``?s p1/p2/^p3 ?o`` → chained patterns through
      fresh ``?__seqN_M`` variables (an inverse step swaps its two
      ends) — the compiled plan is the same statistics-ordered join
      tree any multi-pattern BGP gets;
    * negated property sets ``?s !p ?o`` / ``?s !(p1|p2) ?o`` → a fresh
      ``?__npsN`` predicate variable plus inequality FILTERs (returned
      separately, in SPARQL syntax, for the caller's filter list).

    Returns (rewritten body, extra filter expressions, whether any
    sugar was expanded). Closure suffixes on sequence steps or NPS
    members (``p1/p2+``, ``!(p)+``, ``!(^p)``) raise — those compose a
    closure with a join and are out of this subset."""
    stmts = [s.strip() for s in _split_statements(body)]
    out_stmts: list[str] = []
    extra_filters: list[str] = []
    sugared = False
    counter = 0
    for stmt in stmts:
        if not stmt:
            continue
        toks = _tokenize_triple(stmt)
        if len(toks) != 3:
            out_stmts.append(stmt)
            continue
        pred = toks[1]
        steps = _split_seq(pred)
        if steps is not None:
            if pred.startswith("!") or any(
                _PATH_BOUND_RE.match(st.strip()) and not st.strip().startswith("?")
                for st in steps
            ):
                raise SparqlError(
                    f"closure or negation inside a sequence path is not "
                    f"supported: {pred!r}"
                )
            subj = toks[0]
            for i, step in enumerate(steps):
                step = step.strip()
                if not step:
                    raise SparqlError(f"empty step in sequence path {pred!r}")
                obj = (
                    toks[2] if i == len(steps) - 1
                    else f"?__seq{counter}_{i}"
                )
                if step.startswith("^"):
                    out_stmts.append(f"{obj} {step[1:]} {subj}")
                else:
                    out_stmts.append(f"{subj} {step} {obj}")
                subj = obj
            counter += 1
            sugared = True
            continue
        if pred.startswith("!"):
            inner = pred[1:].strip()
            if inner.startswith("(") and inner.endswith(")"):
                members = [a.strip() for a in inner[1:-1].split("|")]
            else:
                members = [inner]
            if not members or any(not a for a in members):
                raise SparqlError(f"empty negated property set {pred!r}")
            if any(a.startswith("^") for a in members):
                raise SparqlError(
                    "inverse members in a negated property set are not "
                    "supported"
                )
            if any(_PATH_BOUND_RE.match(a) for a in members):
                # never fold '+'/'*'/'?'/'{lo,k}' into the member IRI —
                # the filter would exclude a nonexistent predicate and
                # the NPS would silently match every edge
                raise SparqlError(
                    f"closure suffix inside a negated property set is "
                    f"not supported: {pred!r}"
                )
            iris = [_term(a, prefixes) for a in members]
            if any(t.startswith("?") for t in iris):
                raise SparqlError(
                    "variables in a negated property set are not supported"
                )
            var = f"?__nps{counter}"
            counter += 1
            out_stmts.append(f"{toks[0]} {var} {toks[2]}")
            for iri in iris:
                esc = iri.replace("\\", "\\\\").replace('"', '\\"')
                extra_filters.append(f'{var} != "{esc}"')
            sugared = True
            continue
        out_stmts.append(stmt)
    return " . ".join(out_stmts), extra_filters, sugared


def _tokenize_triple(stmt: str) -> list[str]:
    """Split one triple statement into 3 terms, keeping quoted literals
    (which may contain spaces) intact."""
    toks, i, n = [], 0, len(stmt)
    while i < n:
        while i < n and stmt[i].isspace():
            i += 1
        if i >= n:
            break
        if stmt[i] == '"':
            j = i + 1
            while j < n:
                if stmt[j] == "\\":
                    j += 2
                    continue
                if stmt[j] == '"':
                    break
                j += 1
            if j >= n:
                raise SparqlError(f"unterminated literal in {stmt!r}")
            toks.append(stmt[i:j + 1])
            i = j + 1
        else:
            j = i
            while j < n and not stmt[j].isspace():
                j += 1
            toks.append(stmt[i:j])
            i = j
    return toks


def _filter_to_sql(expr: str) -> str:
    """SPARQL filter expression → Spark SQL boolean expression over the
    bound variable columns."""
    e = expr
    e = re.sub(
        r"(?i)bound\s*\(\s*\?(\w+)\s*\)",
        lambda m: f"({m.group(1)} IS NOT NULL)",
        e,
    )
    e = re.sub(
        r"(?i)regex\s*\(\s*\?(\w+)\s*,\s*\"((?:[^\"\\]|\\.)*)\"\s*\)",
        lambda m: f"{m.group(1)} RLIKE '{m.group(2)}'",
        e,
    )
    e = re.sub(
        r"(?i)strstarts\s*\(\s*\?(\w+)\s*,\s*\"((?:[^\"\\]|\\.)*)\"\s*\)",
        lambda m: f"{m.group(1)} LIKE '{m.group(2)}%'",
        e,
    )
    e = e.replace("&&", " AND ").replace("||", " OR ")
    e = re.sub(r"!(?!=)", " NOT ", e)
    e = re.sub(r"\?(\w+)", r"\1", e)
    e = re.sub(r'"((?:[^"\\]|\\.)*)"', lambda m: "'" + m.group(1) + "'", e)
    return e


def sparql_select(edges: DataFrame, query: str, max_hops: int = 8) -> DataFrame:
    """Execute a SPARQL SELECT (subset above) against the KG edge table
    (src, pred, dst) → one column per projected variable.

    Property paths (``p+``, ``p{1,k}``, ``(p|^q)+`` forms) are accepted
    as the SOLE pattern of the WHERE group; the solution carries an
    extra ``hops`` column (minimum hop count). ``+`` is bounded by
    ``max_hops`` — the engine refuses unbounded closure at KG scale."""
    from .bgp import (
        apply_filters, match_bgp, match_bgp_agg, match_bgp_exists,
        match_bgp_filter, match_bgp_minus, match_bgp_optional,
        match_bgp_union,
    )

    prefixes = dict(_PREFIX_RE.findall(query))
    q = _PREFIX_RE.sub("", query).strip()
    m = _SELECT_RE.search(q)
    if not m:
        raise SparqlError("expected SELECT ... WHERE { ... }")
    body, tail = m.group("body"), m.group("tail") or ""
    proj = m.group("proj").strip()
    distinct = bool(m.group("dist"))
    aggs = {
        name: _agg_expr(fn, inner) for fn, inner, name in _AGG_RE.findall(proj)
    }

    # VALUES inline data — pulled out of the body before group parsing
    values = None
    vm = _VALUES_RE.search(body)
    if vm:
        values = _parse_values(vm.group("vars"), vm.group("data"), prefixes)
        body = body[: vm.start()] + " " + body[vm.end():]
        if aggs:
            raise SparqlError("VALUES with aggregates not supported")

    # { ... } UNION { ... } as the whole body
    um = _UNION_RE.match(body)
    if um:
        if aggs:
            raise SparqlError("aggregates over UNION not supported")
        lpats = _patterns(um.group("l"), prefixes)
        rpats = _patterns(um.group("r"), prefixes)
        out = match_bgp_union(edges, [lpats, rpats])
        if values:
            out = _apply_values(out, values)
        return _modifiers(out, proj, tail, allow_missing=True, distinct=distinct)

    # GRAPH ?g { ... } / GRAPH <iri> { ... } as the whole body:
    # quad-level matching against the dataset table's graph column
    gm = _GRAPH_RE.match(body)
    if gm:
        if aggs:
            raise SparqlError("aggregates over GRAPH not supported here")
        if "graph" not in edges.columns:
            raise SparqlError(
                "GRAPH clause needs a quad table with a 'graph' column "
                "(pass the statements dataset, not the edge table)"
            )
        from pyspark.sql import functions as F

        gterm = gm.group("g")
        gterm = gterm if gterm.startswith("?") else _term(gterm, prefixes)
        inner, gfilters = _split_filter(gm.group("inner"))
        pats = [
            (s, p, o, gterm) for s, p, o in _patterns(inner, prefixes)
        ]
        if not pats:
            raise SparqlError("empty GRAPH pattern")
        out = match_bgp(edges, pats)
        if gterm.startswith("?"):
            # GRAPH iterates NAMED graphs only — default-graph quads
            # (NULL graph term) never bind the graph variable
            out = out.filter(F.col(gterm[1:]).isNotNull())
        for f in gfilters:
            out = out.filter(F.expr(_filter_to_sql(f)))
        if values:
            out = _apply_values(out, values)
        return _modifiers(out, proj, tail, distinct=distinct)

    # { SELECT ... } subqueries — extracted first (they nest braces,
    # which every later pass treats as a parse error); each compiles
    # recursively and joins into the outer solution on its projected
    # shared variables, per SPARQL's bottom-up subquery evaluation
    body, subselects = _extract_subselects(body)

    # FILTER [NOT] EXISTS { ... } groups — extracted before the
    # OPTIONAL/MINUS pass (they carry braces but are FILTER-headed)
    exists_groups: list[list[tuple[str, str, str]]] = []
    not_exists_groups: list[list[tuple[str, str, str]]] = []

    def grab_exists(em: re.Match) -> str:
        inner, inner_filters = _split_filter(em.group("inner"))
        if inner_filters:
            raise SparqlError("FILTER inside EXISTS group not supported")
        pats = _patterns(inner, prefixes)
        if not pats:
            raise SparqlError("empty EXISTS group")
        (not_exists_groups if em.group("neg") else exists_groups).append(pats)
        return " "

    body = _EXISTS_RE.sub(grab_exists, body)

    optionals: list[list[tuple[str, str, str]]] = []
    optional_filters: list[list[str]] = []
    minus: list[tuple[str, str, str]] | None = None

    def grab(gm: re.Match) -> str:
        nonlocal minus
        kind = gm.group(1).upper()
        inner, inner_filters = _split_filter(gm.group(2))
        if inner_filters and kind != "OPTIONAL":
            raise SparqlError(f"FILTER inside {kind} not supported")
        pats = _patterns(inner, prefixes)
        if kind == "OPTIONAL":
            # a FILTER inside OPTIONAL scopes to the LeftJoin; over
            # group-bound variables it applies to the group BEFORE the
            # join (bgp.match_bgp_optional validates the variable scope)
            optionals.append(pats)
            optional_filters.append(
                [_filter_to_sql(f) for f in inner_filters]
            )
        else:
            if minus is not None:
                raise SparqlError("multiple MINUS groups not supported")
            minus = pats
        return " "

    body = _GROUP_RE.sub(grab, body)
    # path bounds {1,k} are brace-syntax but not groups
    if "{" in _BOUND_RE.sub("", body) or "}" in _BOUND_RE.sub("", body):
        raise SparqlError("nested groups / UNION not supported in this subset")
    body, filters = _split_filter(body)
    body, binds = _split_bind(body)

    # sequence-path / negated-property-set sugar → plain BGP patterns
    # (+ inequality filters); helper variables are dropped from a
    # SELECT * projection below
    body, sugar_filters, sugared = _rewrite_sugar(body, prefixes)
    filters.extend(sugar_filters)

    # sole-pattern property path → bounded minimum-hop closure
    stmts = [s for s in (x.strip() for x in _split_statements(body)) if s]
    if len(stmts) == 1:
        toks = _tokenize_triple(stmts[0])
        if len(toks) == 3:
            path = _parse_path(toks[1], prefixes)
            if path:
                if (aggs or optionals or minus is not None
                        or exists_groups or not_exists_groups or binds
                        or subselects):
                    raise SparqlError(
                        "property paths compose only with FILTER/VALUES here"
                    )
                out = _compile_path(edges, toks, path, max_hops, prefixes)
                from pyspark.sql import functions as F

                for f in filters:
                    out = out.filter(F.expr(_filter_to_sql(f)))
                if values:
                    out = _apply_values(out, values)
                return _modifiers(out, proj, tail, distinct=distinct)

    required = _patterns(body, prefixes)
    if not required:
        raise SparqlError("empty required BGP")

    has_exists = bool(exists_groups or not_exists_groups)
    if (has_exists or binds or subselects) and (
            optionals or minus is not None or aggs):
        # keep algebra composition simple and predictable
        raise SparqlError(
            "EXISTS/BIND/subqueries compose with plain BGP + FILTER/VALUES "
            "only in this subset"
        )
    if optionals and minus:
        # keep algebra composition simple and predictable
        raise SparqlError("OPTIONAL cannot combine with MINUS here")
    if has_exists or binds or subselects:
        from pyspark.sql import functions as F

        from .bgp import _SQL_WORDS

        # EXISTS → left-semi, NOT EXISTS → left-anti hash joins on the
        # shared variables (bgp.match_bgp_exists); subqueries compile
        # recursively and hash-join on their projected shared variables
        # (an aggregated subquery is reduced BEFORE the join, so AQE
        # broadcasts the small side — the common analytics shape);
        # BINDs extend the solution, then FILTERs run over the extended
        # columns so a filter may reference a bound alias
        out = match_bgp_exists(edges, required, exists_groups, not_exists_groups)
        if subselects:
            decls = " ".join(f"PREFIX {p}: <{u}>" for p, u in prefixes.items())
            for sub in subselects:
                sdf = sparql_select(edges, f"{decls} {sub}", max_hops)
                shared = sorted(set(out.columns) & set(sdf.columns))
                if not shared:
                    raise SparqlError(
                        "subquery shares no variables with the outer group "
                        "— a disconnected subquery is a Cartesian "
                        "extension; restate the query"
                    )
                out = out.join(sdf, on=shared)
        for var, expr in binds:
            if var in out.columns:
                raise SparqlError(f"BIND reassigns already-bound variable ?{var}")
            bare = re.sub(r"'(?:[^'\\]|\\.)*'", "''", expr)
            names = set(re.findall(r"\b[a-zA-Z_]\w*\b(?!\s*\()", bare))
            unknown = {
                n for n in names
                if n.lower() not in _SQL_WORDS and n not in out.columns
            }
            if unknown:
                raise SparqlError(
                    f"BIND {expr!r} references unbound variables {sorted(unknown)}"
                )
            out = out.withColumn(var, F.expr(expr))
        out = apply_filters(out, [_filter_to_sql(f) for f in filters])
    elif optionals:
        out = match_bgp_optional(
            edges, required, optionals,
            group_filters=optional_filters if any(optional_filters) else None,
        )
        if filters:
            # outer FILTERs run AFTER the LeftJoin (SPARQL evaluation
            # order), so they see NULL-padded optional variables —
            # bound(?v)/!bound(?v) translate to IS [NOT] NULL, enabling
            # the negation-by-failure idiom; other NULL-involving
            # comparisons drop the row, matching SPARQL's error→false.
            # apply_filters keeps the engine's unbound-reference check
            out = apply_filters(out, [_filter_to_sql(f) for f in filters])
    elif minus is not None:
        out = match_bgp_minus(edges, required, minus)
        if filters:
            out = out.filter(" AND ".join(_filter_to_sql(f) for f in filters))
    elif filters:
        out = match_bgp_filter(
            edges, required, [_filter_to_sql(f) for f in filters]
        )
    else:
        out = match_bgp(edges, required)

    if aggs:
        gm = _GROUPBY_RE.search(tail)
        group_vars = [v[1:] for v in gm.group(1).split()] if gm else []
        plain = [v[1:] for v in re.findall(r"\?\w+", _AGG_RE.sub(" ", proj))]
        if sorted(plain) != sorted(group_vars):
            raise SparqlError(
                "non-aggregate projection must equal the GROUP BY variables"
            )
        if minus is not None:
            raise SparqlError("aggregates over MINUS not supported")
        if optionals:
            # aggregate the LeftJoin solution built above (group + outer
            # filters already applied — SPARQL FILTER scopes to the
            # group pattern, pre-aggregation). COUNT(?v) over the NULL
            # padding skips non-matches, the SPARQL count semantics.
            from pyspark.sql import functions as F

            from .bgp import _SQL_WORDS

            missing = [v for v in group_vars if v not in out.columns]
            if missing:
                raise SparqlError(f"GROUP BY unbound variables {missing}")
            for name, sql in aggs.items():
                # same unbound-reference contract as match_bgp_agg
                bare = re.sub(r"'(?:[^'\\]|\\.)*'", "''", sql)
                names = set(re.findall(r"\b[a-zA-Z_]\w*\b(?!\s*\()", bare))
                unknown = {
                    n for n in names
                    if n.lower() not in _SQL_WORDS and n not in out.columns
                }
                if unknown:
                    raise SparqlError(
                        f"aggregate {sql!r} references unbound variables "
                        f"{sorted(unknown)}"
                    )
            aggexprs = [
                F.expr(sql).alias(name) for name, sql in aggs.items()
            ]
            out = (
                out.groupBy(*group_vars).agg(*aggexprs)
                if group_vars else out.agg(*aggexprs)
            )
        else:
            out = match_bgp_agg(
                edges, required, group_vars, aggs,
                filters=[_filter_to_sql(f) for f in filters] or None,
            )
        tail, having = _extract_having(tail)
        if having:
            from pyspark.sql import functions as F

            hexpr = _filter_to_sql(having)
            names = set(re.findall(r"\b[a-zA-Z_]\w*\b", re.sub(r"'[^']*'", "", hexpr)))
            unknown = {
                n for n in names
                if n not in out.columns and not n.isdigit()
                and n.lower() not in ("and", "or", "not", "true", "false")
            }
            if unknown:
                raise SparqlError(
                    f"HAVING references unknown names {sorted(unknown)}"
                )
            out = out.filter(F.expr(hexpr))
        # projection in SELECT order (group vars + aggregate aliases),
        # then ORDER BY / LIMIT like any other solution
        sel = [
            m.group(1) or m.group(2)
            for m in re.finditer(
                r"\(\s*\w+\s*\([^()]*\)\s+AS\s+\?(\w+)\s*\)|\?(\w+)", proj
            )
        ]
        return _modifiers(out.select(*sel), "*", tail, distinct=distinct)

    if sugared:
        # fresh ?__seqN_M / ?__npsN helpers are internal: invisible to
        # SELECT * (their filters have already been applied above)
        helpers = [c for c in out.columns if c.startswith("__")]
        if helpers:
            out = out.drop(*helpers)
    if values:
        out = _apply_values(out, values)
    return _modifiers(out, proj, tail, distinct=distinct)


def _compile_path(
    edges: DataFrame,
    toks: list[str],
    path,
    max_hops: int,
    prefixes: dict[str, str],
) -> DataFrame:
    """One path pattern → (s_var, o_var, hops) via the semi-naive
    bounded closure (operators/graph.bounded_paths_alt). Constant
    subject/object positions become post-closure filters.

    Zero-length closures (``*``, ``?``, ``{0,k}``) union the SPARQL
    zero-length pairs before the constant filters: (t, t, hops=0) for
    every term of the graph when both ends are variables (one distinct
    node projection — O(|V|), never a closure blow-up), or the single
    (const, const) pair when an end is constant; overlapping pairs keep
    the minimum hop count via one hash re-aggregation."""
    from pyspark.sql import functions as F

    from .graph import bounded_paths_alt

    fwd, inv, k, zero, min_hops = path
    k = k if k is not None else max_hops
    if k < 1:
        raise SparqlError("path bound must be >= 1")
    s_t, o_t = _term(toks[0], prefixes), _term(toks[2], prefixes)
    if s_t.startswith("?") and o_t.startswith("?") and s_t == o_t:
        raise SparqlError("identical subject/object variable in a path")
    out = bounded_paths_alt(edges, fwd, k, inverse_preds=inv or None)
    if min_hops >= 2:
        # {lo,k} with lo >= 2 filters on the closure's MINIMUM hop
        # count: pairs whose shortest path is shorter than lo are
        # excluded even when a longer witness path exists. This is the
        # engine's documented min-hop semantics (the hops column) —
        # strict SPARQL would admit any-length witnesses, which
        # requires the non-minimized (quadratic) closure
        out = out.filter(F.col("hops") >= min_hops)
    if zero:
        if not s_t.startswith("?"):
            zdf = edges.sparkSession.createDataFrame(
                [(s_t, s_t)], "a string, b string"
            )
        elif not o_t.startswith("?"):
            zdf = edges.sparkSession.createDataFrame(
                [(o_t, o_t)], "a string, b string"
            )
        else:
            zdf = (
                edges.select(F.col("src").alias("node"))
                .unionByName(edges.select(F.col("dst").alias("node")))
                .distinct()
                .select(F.col("node").alias("a"), F.col("node").alias("b"))
            )
        out = (
            out.unionByName(zdf.select(
                "a", "b", F.lit(0).cast("int").alias("hops")))
            .groupBy("a", "b")
            .agg(F.min("hops").alias("hops"))
        )
    for col, term in (("a", s_t), ("b", o_t)):
        if term.startswith("?"):
            out = out.withColumnRenamed(col, term[1:])
        else:
            out = out.filter(F.col(col) == term).drop(col)
    return out


def _parse_values(
    vars_tok: str, data: str, prefixes: dict[str, str]
) -> tuple[list[str], list[tuple[str, ...]]]:
    """Parse a VALUES block → (var names, constant rows). UNDEF is not
    supported (SPARQL's UNDEF joins as compatible-with-anything, which
    is not an equi-join; raise rather than approximate)."""
    vars_ = _VAR_RE.findall(vars_tok)
    if not vars_:
        raise SparqlError("VALUES with no variables")
    multi = vars_tok.strip().startswith("(")
    rows: list[tuple[str, ...]] = []
    if multi:
        groups = re.findall(r"\(([^()]*)\)", data)
        if not groups:
            raise SparqlError("VALUES (..) form needs (..) data rows")
        for g in groups:
            toks = _tokenize_triple(g)
            if len(toks) != len(vars_):
                raise SparqlError(
                    f"VALUES row {g!r} has {len(toks)} terms for {len(vars_)} variables"
                )
            rows.append(tuple(_values_term(t, prefixes) for t in toks))
    else:
        for tok in _tokenize_triple(data):
            rows.append((_values_term(tok, prefixes),))
    if not rows:
        raise SparqlError("empty VALUES data block")
    return vars_, rows


def _values_term(tok: str, prefixes: dict[str, str]) -> str:
    if tok.strip().upper() == "UNDEF":
        raise SparqlError("VALUES UNDEF not supported in this subset")
    t = _term(tok, prefixes)
    if t.startswith("?"):
        raise SparqlError(f"variable {tok!r} inside VALUES data")
    return t


def _apply_values(out: DataFrame, values) -> DataFrame:
    """Join the solution with the inline data on the VALUES variables —
    a broadcast equi-join by construction (the data is query-text-sized,
    never cluster-sized)."""
    from pyspark.sql import functions as F

    vars_, rows = values
    missing = [v for v in vars_ if v not in out.columns]
    if missing:
        raise SparqlError(
            f"VALUES variables {missing} are unbound in the WHERE group "
            "(a disconnected VALUES is a Cartesian extension; restate)"
        )
    vdf = out.sparkSession.createDataFrame(
        rows, ", ".join(f"{v} string" for v in vars_)
    ).distinct()
    return out.join(F.broadcast(vdf), on=vars_)


def sparql_construct(edges: DataFrame, query: str) -> DataFrame:
    """``CONSTRUCT { template } WHERE { patterns [FILTER(...)] }`` →
    the derived graph as (src, pred, dst) rows with set semantics.
    Compiles onto :func:`bgp.construct`: one BGP join tree fanned out
    through a shuffle-free Union of template projections, one distinct.
    Groups (OPTIONAL/MINUS/UNION) inside CONSTRUCT are not in this
    subset and raise."""
    from .bgp import construct

    prefixes = dict(_PREFIX_RE.findall(query))
    q = _PREFIX_RE.sub("", query).strip()
    m = _CONSTRUCT_RE.search(q)
    if not m:
        raise SparqlError("expected CONSTRUCT { ... } WHERE { ... }")
    body, filters = _split_filter(m.group("body"))
    if "{" in body or "}" in body:
        raise SparqlError("groups inside CONSTRUCT WHERE not supported")
    pats = _patterns(body, prefixes)
    tmpl = _patterns(m.group("tmpl"), prefixes)
    if not pats or not tmpl:
        raise SparqlError("CONSTRUCT needs non-empty template and WHERE")
    return construct(
        edges, pats, tmpl,
        filters=[_filter_to_sql(f) for f in filters] or None,
    )


def _extract_having(tail: str) -> tuple[str, str | None]:
    """Pull one balanced HAVING(...) expression out of the solution-
    modifier tail; returns (tail-without-having, expr-or-None)."""
    m = _HAVING_RE.search(tail)
    if not m:
        return tail, None
    depth, j = 1, m.end()
    while j < len(tail) and depth:
        if tail[j] == "(":
            depth += 1
        elif tail[j] == ")":
            depth -= 1
        j += 1
    if depth:
        raise SparqlError("unbalanced parens in HAVING")
    return tail[: m.start()] + " " + tail[j:], tail[m.end():j - 1].strip()


def sparql_describe(edges: DataFrame, query: str) -> DataFrame:
    """``DESCRIBE <iri> [<iri> ...]`` → every edge touching the named
    resources (subject or object position), as (src, pred, dst) rows —
    the concise-bounded-description subset without bnode closure (the
    KG edge table is already canonicalized, so bnode chains were
    resolved upstream).

    Plan: one scan with an ``isin`` disjunction on both endpoint
    columns — Catalyst pushes the In filters to the parquet scan; no
    join, no shuffle beyond the scan."""
    from pyspark.sql import functions as F

    prefixes = dict(_PREFIX_RE.findall(query))
    q = _PREFIX_RE.sub("", query).strip()

    # DESCRIBE ?x WHERE { ... }: evaluate the WHERE as a SELECT of the
    # described variable, then keep every edge touching a solution —
    # two LEFT-SEMI hash joins (src side, dst side) against the
    # distinct-reduced solution set, unioned with one distinct. AQE
    # broadcasts the solution when it is small (the common DESCRIBE).
    wm = re.match(
        r"^DESCRIBE\s+\?(?P<var>\w+)\s+WHERE\s*\{(?P<body>.*)\}\s*$",
        q, re.IGNORECASE | re.DOTALL,
    )
    if wm:
        var = wm.group("var")
        decls = " ".join(f"PREFIX {p}: <{u}>" for p, u in prefixes.items())
        sol = sparql_select(
            edges, f"{decls} SELECT ?{var} WHERE {{ {wm.group('body')} }}"
        ).distinct()
        base = edges.select("src", "pred", "dst")
        on_src = base.join(
            sol.withColumnRenamed(var, "src"), on="src", how="leftsemi"
        )
        on_dst = base.join(
            sol.withColumnRenamed(var, "dst"), on="dst", how="leftsemi"
        ).select("src", "pred", "dst")
        return on_src.union(on_dst).distinct()

    m = re.match(r"^DESCRIBE\s+(?P<terms>.+?)\s*$",
                 q, re.IGNORECASE | re.DOTALL)
    if not m:
        raise SparqlError("expected DESCRIBE <iri> [<iri> ...]")
    iris = [
        _term(tok, prefixes) for tok in _tokenize_triple(m.group("terms"))
    ]
    if not iris:
        raise SparqlError("DESCRIBE needs at least one resource")
    if any(t.startswith("?") for t in iris):
        raise SparqlError(
            "DESCRIBE of a variable needs 'DESCRIBE ?v WHERE { ... }'"
        )
    return edges.filter(
        F.col("src").isin(*iris) | F.col("dst").isin(*iris)
    ).select("src", "pred", "dst")


def _agg_expr(fn: str, inner: str) -> str:
    fn = fn.lower()
    inner = inner.strip()
    if fn == "group_concat":
        # GROUP_CONCAT(?v[; SEPARATOR="s"]) — SPARQL leaves element
        # order implementation-defined; we sort (a deterministic result
        # at any parallelism, same stance as ORDER BY tie-breaks).
        # DISTINCT → collect_set before the sort.
        sep = " "
        sm = re.search(
            r";\s*SEPARATOR\s*=\s*\"((?:[^\"\\]|\\.)*)\"\s*$",
            inner, re.IGNORECASE,
        )
        if sm:
            sep = sm.group(1)
            inner = inner[: sm.start()].strip()
        distinct = bool(re.match(r"(?i)DISTINCT\s", inner))
        if distinct:
            inner = inner[8:].strip()
        vm = _VAR_RE.fullmatch(inner)
        if not vm:
            raise SparqlError(f"GROUP_CONCAT expects a variable, got {inner!r}")
        collect = "collect_set" if distinct else "collect_list"
        sep_sql = sep.replace("\\", "\\\\").replace("'", "\\'")
        return f"array_join(sort_array({collect}({vm.group(1)})), '{sep_sql}')"
    if fn == "sample":
        # SAMPLE(?v) is any-value in SPARQL; min() makes it a pure
        # function of the group (reproducible gates need that)
        vm = _VAR_RE.fullmatch(inner)
        if not vm:
            raise SparqlError(f"SAMPLE expects a variable, got {inner!r}")
        return f"min({vm.group(1)})"
    if fn not in ("count", "min", "max", "sum", "avg"):
        raise SparqlError(f"unsupported aggregate {fn!r}")
    return f"{fn}({_VAR_RE.sub(lambda m: m.group(1), inner)})"


def _modifiers(out: DataFrame, proj: str, tail: str,
               allow_missing: bool = False,
               distinct: bool = False) -> DataFrame:
    """Apply projection, DISTINCT, ORDER BY (with total tie-break),
    and LIMIT — in SPARQL's solution-modifier order (distinct before
    the slice, so LIMIT counts distinct solutions)."""
    if proj != "*":
        vars_ = [v[1:] for v in proj.split()]
        missing = [v for v in vars_ if v not in out.columns]
        if missing and not allow_missing:
            raise SparqlError(f"projected unbound variables {missing}")
        out = out.select(*[v for v in vars_ if v in out.columns])
    if distinct:
        # one hash aggregation with map-side partials — the projected
        # width is already minimal, so the shuffle carries only the
        # distinct key columns
        out = out.distinct()

    om = _ORDER_RE.search(tail)
    lm = _LIMIT_RE.search(tail)
    if om:
        from pyspark.sql import functions as F

        keys, named = [], set()
        for direction, var1, var2 in re.findall(
            r"(?:(ASC|DESC)\s*\(\s*\?(\w+)\s*\))|\?(\w+)", om.group("keys"),
            re.IGNORECASE,
        ):
            var = var1 or var2
            if var not in out.columns:
                raise SparqlError(f"ORDER BY unbound variable ?{var}")
            named.add(var)
            keys.append(
                F.col(var).desc() if direction.upper() == "DESC" else F.col(var).asc()
            )
        # total tie-break over the remaining columns → with LIMIT the
        # returned SET is deterministic at any parallelism (SPARQL
        # leaves ties implementation-defined; a gated pipeline cannot)
        keys.extend(F.col(c).asc() for c in out.columns if c not in named)
        out = out.orderBy(*keys)
    fm = _OFFSET_RE.search(tail)
    if fm:
        k = int(fm.group(1))
        if not om:
            # an unordered slice is nondeterministic at any parallelism
            raise SparqlError("OFFSET requires ORDER BY")
        if k > 0:
            out = out.offset(k)
    if lm:
        n = int(lm.group(1))
        if n < 1:
            raise SparqlError("LIMIT must be >= 1")
        out = out.limit(n)
    return out


def sparql_ask(edges: DataFrame, query: str, max_hops: int = 8) -> bool:
    """``ASK WHERE { ... }`` → Python bool: does at least one solution
    exist. Delegates to :func:`sparql_select` as ``SELECT * WHERE``
    capped with limit(1), so ASK supports exactly the SELECT body
    surface (patterns, FILTER, VALUES, GRAPH, sole-pattern property
    paths) and the engine never materializes the solution set."""
    prefixes = _PREFIX_RE.findall(query)
    q = _PREFIX_RE.sub("", query).strip()
    m = re.search(r"^ASK\s*(?:WHERE\s*)?\{(?P<body>.*)\}\s*$",
                  q, re.IGNORECASE | re.DOTALL)
    if not m:
        raise SparqlError("expected ASK [WHERE] { ... }")
    decls = " ".join(f"PREFIX {p}: <{u}>" for p, u in prefixes)
    sel = f"{decls} SELECT * WHERE {{ {m.group('body')} }}"
    return bool(sparql_select(edges, sel, max_hops).limit(1).count())


_INSERT_DATA_RE = re.compile(
    r"^INSERT\s+DATA\s*\{(?P<t>[^{}]*)\}$", re.IGNORECASE | re.DOTALL
)
_DELETE_DATA_RE = re.compile(
    r"^DELETE\s+DATA\s*\{(?P<t>[^{}]*)\}$", re.IGNORECASE | re.DOTALL
)
_DELETE_WHERE_RE = re.compile(
    r"^DELETE\s+WHERE\s*\{(?P<t>[^{}]*)\}$", re.IGNORECASE | re.DOTALL
)
_MODIFY_RE = re.compile(
    r"^(?:DELETE\s*\{(?P<d>[^{}]*)\}\s*)?(?:INSERT\s*\{(?P<i>[^{}]*)\}\s*)?"
    r"WHERE\s*\{(?P<w>[^{}]*)\}$",
    re.IGNORECASE | re.DOTALL,
)


def _split_ops(q: str) -> list[str]:
    """Top-level ``;``-separated update operations (SPARQL 1.1 Update
    request = op ; op ; ...); semicolons inside braces don't split."""
    ops, depth, start = [], 0, 0
    for i, ch in enumerate(q):
        if ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
        elif ch == ";" and depth == 0:
            ops.append(q[start:i])
            start = i + 1
    ops.append(q[start:])
    return [o.strip() for o in ops if o.strip()]


def _const_triples(body: str, prefixes: dict[str, str]):
    pats = _patterns(body, prefixes)
    if not pats:
        raise SparqlError("empty DATA block")
    for pat in pats:
        if any(t.startswith("?") for t in pat):
            raise SparqlError(f"variable in DATA block: {pat}")
    return pats


def sparql_update(
    edges: DataFrame,
    query: str,
    s_col: str = "src",
    p_col: str = "pred",
    o_col: str = "dst",
) -> DataFrame:
    """SPARQL 1.1 Update over the KG edge set → the UPDATED edge
    DataFrame (src, pred, dst), set semantics (the materialized KG is
    a distinct triple set). Supported operations, ``;``-chained and
    applied sequentially, each against the previous operation's state:

        INSERT DATA { triples }                (constant triples)
        DELETE DATA { triples }
        DELETE WHERE { patterns }              (pattern = template)
        [DELETE { tmpl }] [INSERT { tmpl }] WHERE { patterns [FILTER] }

    Per the SPARQL Update spec both Modify templates instantiate
    against the PRE-operation state (delete-then-insert of the same
    solution set), which is exactly what building both
    :func:`bgp.construct` trees off the same input DataFrame gives.

    Plan shape: deletions are left-anti hash equi-joins on the full
    (src, pred, dst) key (DATA deletes broadcast their literal side);
    insertions are a shuffle-free union closed by one distinct — the
    only added shuffle, carrying exactly the output set. Never a
    cartesian; WHERE clauses compile to the same selectivity-ordered
    BGP join trees as SELECT. This is the engine-level analogue of an
    Iceberg MERGE (delete + insert in one atomic publish) — pipe the
    result through operators/materialize for the table-level commit.

    Reference parity: the reference is a parser framework without a
    query language; target-side surface over the constructed KG.
    """
    from pyspark.sql import functions as F

    from .bgp import construct

    cols = ["src", "pred", "dst"]
    prefixes = dict(_PREFIX_RE.findall(query))
    q = _PREFIX_RE.sub("", query).strip()
    state = edges.select(
        F.col(s_col).alias("src"),
        F.col(p_col).alias("pred"),
        F.col(o_col).alias("dst"),
    )
    spark = edges.sparkSession

    def lit_df(body: str) -> DataFrame:
        return spark.createDataFrame(
            _const_triples(body, prefixes),
            "src string, pred string, dst string",
        )

    for op in _split_ops(q):
        m = _INSERT_DATA_RE.match(op)
        if m:
            state = state.unionByName(lit_df(m.group("t"))).distinct()
            continue
        m = _DELETE_DATA_RE.match(op)
        if m:
            state = state.join(
                F.broadcast(lit_df(m.group("t"))), cols, "left_anti"
            )
            continue
        m = _DELETE_WHERE_RE.match(op)
        if m:
            pats = _patterns(m.group("t"), prefixes)
            if not pats:
                raise SparqlError("empty DELETE WHERE block")
            state = state.join(construct(state, pats, pats), cols, "left_anti")
            continue
        m = _MODIFY_RE.match(op)
        if m and (m.group("d") or m.group("i")):
            body, filters = _split_filter(m.group("w"))
            if "{" in body or "}" in body:
                raise SparqlError("groups inside UPDATE WHERE not supported")
            pats = _patterns(body, prefixes)
            if not pats:
                raise SparqlError("empty UPDATE WHERE block")
            fs = [_filter_to_sql(f) for f in filters] or None
            out = state
            if m.group("d"):
                dels = construct(
                    state, pats, _patterns(m.group("d"), prefixes), filters=fs
                )
                out = out.join(dels, cols, "left_anti")
            if m.group("i"):
                ins = construct(
                    state, pats, _patterns(m.group("i"), prefixes), filters=fs
                )
                out = out.unionByName(ins).distinct()
            state = out
            continue
        raise SparqlError(f"unrecognized update operation: {op[:80]!r}")
    return state


def concise_bounded_description(
    statements: DataFrame,
    resources: list[str],
    max_depth: int = 8,
) -> DataFrame:
    """Concise Bounded Description (Stickler, the canonical DESCRIBE
    semantics) of the named resources over a PRE-canonicalization
    statement set → the resources' own statements plus, transitively,
    every statement whose subject is a blank node reached in OBJECT
    position — the closure that ships a self-contained description
    when bnode-structured values (addresses, geo points, reified
    qualifiers) are still unresolved. ``sparql_describe`` stays the
    post-canonicalization fast path; this is the spec-faithful variant
    for raw extraction output.

    Semi-naive: the frontier is the NEW bnode objects only (a seen-set
    anti-join kills cycles), each hop is one left-semi join of the
    statement table against a bnode-id frontier, and
    ``spark_util.iterate``'s per-hop emptiness probe bounds the loop — depth beyond ``max_depth`` with
    a live frontier raises instead of silently truncating the
    description. Bnode closure depth in real data is tiny (a handful
    of levels); the statement table is touched once per level through
    an equi-join on its natural subject key.
    """
    from pyspark.sql import functions as F

    if not resources:
        raise ValueError("resources must be a non-empty list of IRIs")
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    seed = statements.filter(F.col("subj").isin(list(resources)))
    frontier = (
        seed.filter(F.col("obj_kind") == "bnode")
        .select(F.col("obj").alias("subj"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    # state (frontier, seen, levels): the last level's new bnodes, every
    # bnode before them, and the statements of each expanded level
    def _expand(state, _r):
        frontier, seen, levels = state
        seen = seen.unionByName(frontier)
        # read twice: the output and the next frontier
        nxt = statements.join(frontier, "subj", "leftsemi").localCheckpoint(
            eager=False
        )
        new = (
            nxt.filter(F.col("obj_kind") == "bnode")
            .select(F.col("obj").alias("subj"))
            .distinct()
            .join(seen, "subj", "left_anti")
        )
        return new, seen, levels + (nxt,)

    (_, _, levels), closed = iterate(
        _expand, (frontier, frontier.limit(0), ()), max_depth,
        until=lambda s: s[0],
    )
    if not closed:
        raise RuntimeError(
            f"CBD bnode closure exceeded max_depth={max_depth}; raise the "
            "bound (real closures are shallow — a deep chain usually "
            "means a pathological or adversarial document)"
        )
    return reduce(DataFrame.unionByName, levels, seed).distinct()
