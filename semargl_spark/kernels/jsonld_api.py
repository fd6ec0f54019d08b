"""JSON-LD document API: expand / compact / flatten / frame.

The reference ships only the toRdf direction (jsonld/src/main/java/org/
semarglproject/jsonld/JsonLdParser.java — tokenizer — and
JsonLdContentHandler.java — context resolution straight into sink
callbacks); its test manifest gates only toRdf cases
(jsonld/src/test/resources/fetch_tests.sparql). This module completes
the document-level API surface around the same context machinery
(kernels/jsonld.py): expansion to canonical expanded form, compaction
against an application context, and flattening via node-map generation.

Fidelity contract (property-tested over the vendored json-ld-org toRdf
corpus rather than re-specified): for every document,

* ``toRdf(expand(doc)) ≡ toRdf(doc)``   (graph isomorphism),
* ``toRdf(compact(expand(doc), ctx)) ≡ toRdf(doc)`` for the document's
  own context and for synthetic contexts,
* ``toRdf(flatten(expand(doc))) ≡ toRdf(doc)``,

so the APIs are exactly consistent with the triples the extraction
kernel emits — the invariant a KG pipeline actually needs, since every
downstream join keys on those triples.

Documented deviations from the JSON-LD 1.0 API spec (all invisible to
toRdf): ``@index`` keys are dropped rather than preserved (the kernel's
toRdf flattens index containers the same way, kernels/jsonld.py:672),
and scalars carrying a custom ``@type`` coercion expand with the exact
lexical string the kernel would emit (Java ``Double.toString`` shapes,
kernels/jsonld.py:389) instead of native JSON numbers, keeping the
expanded form loss-free with respect to the reference's literal layer.

Expanded output is deterministic: canonical JSON via sorted keys +
minimal separators (``canonical_json``), document order preserved
inside property arrays and ``@list``.
"""

from __future__ import annotations

import json
import re
from typing import Any

from .jsonld import (
    KEYWORDS,
    _aliases_to,
    _canon_double,
    _Context,
    _expand_node_ref,
    _expand_pred,
    _expand_type,
    _Float,
    _is_value_object,
    _keyword_get,
    _process_context,
    _scalar_literal,
    _State,
)


class _KeepLabels:
    """Bnode 'allocator' that keeps author labels verbatim.

    Expansion must not relabel blank nodes: anonymous nodes stay
    anonymous in expanded form, and labeled ones keep their label so a
    subsequent ``parse()`` of the expanded document assigns fresh
    labels in the same encounter order as parsing the original.
    """

    def rename(self, author_label: str) -> str:
        return author_label

    def fresh(self) -> str:  # pragma: no cover - expansion never mints
        raise AssertionError("expansion allocates no bnodes")


def _api_state(base_uri: str, context_registry: dict | None = None) -> _State:
    st = _State(base_uri, "", context_registry)
    st.bnodes = _KeepLabels()
    return st


def canonical_json(value: Any) -> str:
    """Deterministic JSON: sorted keys, minimal separators, raw UTF-8."""
    return json.dumps(value, sort_keys=True, separators=(",", ":"),
                      ensure_ascii=False)


# ------------------------------------------------------------------ expand


def expand(text: str, *, base_uri: str = "",
           context_registry: dict | None = None) -> tuple[list, list[str]]:
    """Expand a JSON-LD document. Returns ``(expanded_nodes, errors)``.

    The result is always an array of node objects (possibly empty) with
    keyword aliases normalized, terms/CURIEs resolved to absolute IRIs,
    every property value wrapped in an array of value objects / node
    objects / ``{"@list": [...]}``, and containers flattened.
    ``context_registry`` resolves remote @context IRIs offline
    (kernels/jsonld.py:_resolve_remote).
    """
    st = _api_state(base_uri, context_registry)
    try:
        doc = json.loads(text, parse_float=_Float)
    except Exception as exc:
        st.errors.append(f"JSON parse error: {exc}")
        return [], st.errors
    ctx = _Context(base_uri)
    try:
        out = _exp_top(doc, ctx, st)
    except RecursionError:
        st.errors.append("JSON-LD nesting too deep")
        out = []
    return out, st.errors


def _exp_top(doc: Any, ctx: _Context, st: _State) -> list:
    if isinstance(doc, list):
        out: list = []
        for item in doc:
            out.extend(_exp_top(item, ctx, st))
        return out
    if isinstance(doc, dict):
        node = _exp_node(doc, ctx, st, is_top=True)
        if node is None:
            return []
        if isinstance(node, list):  # top-level @graph wrapper inlined
            return node
        return [node]
    return []


def _node_local_ctx(obj: dict, ctx: _Context, st: _State) -> _Context:
    for k in obj:
        if _aliases_to(k, "@context", ctx):
            return _process_context(ctx, obj[k], st)
    return ctx


def _exp_node(obj: dict, ctx: _Context, st: _State, *, pre_ctx: bool = False,
              is_top: bool = False):
    """Expand one node object → dict, or a list when a top-level
    ``@graph``-only wrapper inlines, or None for floating value objects."""
    if not pre_ctx:
        ctx = _node_local_ctx(obj, ctx, st)

    if _is_value_object(obj, ctx):
        return None  # floating value object: dropped, as in toRdf

    node: dict = {}
    id_v = _keyword_get(obj, "@id", ctx)
    if isinstance(id_v, str):
        nid = _expand_node_ref(id_v, ctx, st)
        if nid is not None:
            node["@id"] = nid

    types: list = []
    props: dict = {}
    reverse: dict = {}
    graph_nodes: list = []
    has_graph = False

    for key, value in obj.items():
        pred = _expand_pred(key, ctx, st)
        if pred is None or pred in ("@context", "@id", "@index"):
            continue
        if pred == "@type":
            for v in value if isinstance(value, list) else [value]:
                if isinstance(v, str):
                    t = _expand_type(v, ctx, st)
                    if t:
                        types.append(t)
            continue
        if pred == "@graph":
            has_graph = True
            graph_nodes.extend(_exp_graph_value(value, ctx, st))
            continue
        if pred == "@reverse":
            if isinstance(value, dict):
                for rkey, rval in value.items():
                    rpred = _expand_pred(rkey, ctx, st)
                    if rpred is None or rpred.startswith("@"):
                        continue
                    rtd = ctx.terms.get(rkey)
                    rvalues = rval if isinstance(rval, list) else [rval]
                    entries = []
                    for rv in rvalues:
                        entries.extend(_exp_value(rv, ctx, rtd, st))
                    # node objects only in reverse position
                    entries = [e for e in entries
                               if isinstance(e, dict) and "@value" not in e
                               and "@list" not in e]
                    if not entries:
                        continue
                    if rtd is not None and rtd.reverse:
                        # @reverse of a @reverse term → forward
                        props.setdefault(rpred, []).extend(entries)
                    else:
                        reverse.setdefault(rpred, []).extend(entries)
            continue
        if pred.startswith("@"):
            continue

        td = ctx.terms.get(key)
        target = reverse if (td is not None and td.reverse) else props
        entries = target.setdefault(pred, [])

        if td is not None and td.container == "@language" and isinstance(value, dict):
            for lang_key, lv in value.items():
                for s in lv if isinstance(lv, list) else [lv]:
                    if isinstance(s, str):
                        entries.append({"@value": s, "@language": lang_key})
            continue
        if td is not None and td.container == "@index" and isinstance(value, dict):
            for _idx, iv in value.items():
                for s in iv if isinstance(iv, list) else [iv]:
                    entries.extend(_exp_value(s, ctx, td, st))
            continue
        if td is not None and td.container == "@list" and not isinstance(value, dict):
            items = value if isinstance(value, list) else [value]
            cells: list = []
            for v in items:
                cells.extend(_exp_value(v, ctx, td, st))
            entries.append({"@list": cells})
            continue

        for v in value if isinstance(value, list) else [value]:
            entries.extend(_exp_value(v, ctx, td, st))

    # reverse properties whose values all vanished are dropped
    reverse = {p: v for p, v in reverse.items() if v}

    # wrapper decision on *surviving* members, per the expansion algorithm:
    # null-valued / unmappable / vanished entries are removed before the
    # graph-object test, so {"@reverse": null, "@graph": x} inlines into the
    # default graph — kept in lockstep with the kernel walk (jsonld.py)
    if (is_top and has_graph and "@id" not in node and not types
            and not any(props.values()) and not reverse):
        return graph_nodes  # default-graph wrapper inlines

    if types:
        node["@type"] = types
    for pred in props:
        if props[pred]:
            node[pred] = props[pred]
    if reverse:
        node["@reverse"] = reverse
    if has_graph:
        node["@graph"] = graph_nodes
    return node


def _exp_graph_value(value: Any, ctx: _Context, st: _State) -> list:
    out: list = []
    if isinstance(value, list):
        for item in value:
            out.extend(_exp_graph_value(item, ctx, st))
    elif isinstance(value, dict):
        n = _exp_node(value, ctx, st)
        if isinstance(n, dict):
            out.append(n)
    return out


_INT_RE = re.compile(r"-?\d+\Z")


def _exp_value(value: Any, ctx: _Context, td, st: _State) -> list:
    """Expand one object-position value → list of expanded entries
    (list because ``@set`` flattens and nulls vanish)."""
    if value is None:
        return []
    if isinstance(value, (bool, int, float, str)):
        if isinstance(value, str) and td is not None:
            if td.reverse and td.type_mapping is None:
                ref = _expand_node_ref(value, ctx, st)
                return [{"@id": ref}] if ref is not None else []
            if td.type_mapping == "@id":
                ref = _expand_node_ref(value, ctx, st)
                if ref is not None:
                    return [{"@id": ref}]
                vo = {"@value": value}
                if ctx.language:
                    vo["@language"] = ctx.language
                return [vo]
            if td.type_mapping == "@vocab":
                ref = _expand_type(value, ctx, st) or _expand_node_ref(value, ctx, st)
                if ref is not None:
                    return [{"@id": ref}]
        content, lang, dtype = _scalar_literal(value, td, ctx, st)
        custom_dt = (
            td.type_mapping
            if td is not None and td.type_mapping
            and not td.type_mapping.startswith("@")
            else None
        )
        if custom_dt is not None:
            # coerced scalars carry the kernel's exact lexical string so
            # the expanded form is loss-free (see module docstring)
            return [{"@value": content, "@type": dtype}]
        if isinstance(value, str):
            vo = {"@value": value}
            if lang:
                vo["@language"] = lang
            return [vo]
        return [{"@value": value}]  # native number / boolean
    if isinstance(value, dict):
        local_ctx = _keyword_get(value, "@context", ctx)
        inner_ctx = (
            _process_context(ctx, local_ctx, st)
            if local_ctx is not None
            or any(_aliases_to(k, "@context", ctx) for k in value)
            else ctx
        )
        if _is_value_object(value, inner_ctx):
            return _exp_value_object(value, inner_ctx, st)
        list_v = _keyword_get(value, "@list", inner_ctx)
        # null @list is NOT a list object (kernel parity: it falls
        # through to an empty node object minting a bnode, not rdf:nil)
        if list_v is not None:
            items = list_v if isinstance(list_v, list) else [list_v]
            cells: list = []
            for v in items:
                cells.extend(_exp_value(v, inner_ctx, td, st))
            return [{"@list": cells}]
        set_v = _keyword_get(value, "@set", inner_ctx)
        if set_v is not None:
            out: list = []
            for sv in set_v if isinstance(set_v, list) else [set_v]:
                out.extend(_exp_value(sv, inner_ctx, td, st))
            return out
        node = _exp_node(value, inner_ctx, st, pre_ctx=True)
        return [node] if isinstance(node, dict) else []
    # nested arrays in object position are dropped (kernel parity:
    # _expand_value has no list branch — toRdf ignores them)
    return []


def _exp_value_object(value: dict, ctx: _Context, st: _State) -> list:
    val = _keyword_get(value, "@value", ctx)
    if val is None:
        return []
    if not isinstance(val, (bool, int, float, str)):
        st.errors.append("invalid @value: non-scalar")
        return []
    type_v = _keyword_get(value, "@type", ctx)
    lang_v = _keyword_get(value, "@language", ctx)
    if lang_v is not None and not isinstance(lang_v, str):
        st.errors.append("invalid @language: non-string")
        lang_v = None
    if type_v is not None and isinstance(type_v, str):
        dtype = _expand_type(type_v, ctx, st)
        if isinstance(val, bool):
            val = "true" if val else "false"
        elif isinstance(val, _Float):
            val = val.lexical if _INT_RE.fullmatch(val.lexical) else _canon_double(float(val))
        out = {"@value": str(val)}
        if dtype:
            out["@type"] = dtype
        return [out]
    if isinstance(val, _Float):
        # preserve nativeness: round-trips through _scalar_literal
        val = float(val) if not _INT_RE.fullmatch(val.lexical) else int(val.lexical)
    vo: dict = {"@value": val}
    if isinstance(val, str) and lang_v:
        vo["@language"] = lang_v
    return [vo]


# ------------------------------------------------------------------ compact


def compact(expanded: list, context: Any, *, base_uri: str = "") -> tuple[dict, list[str]]:
    """Compact expanded JSON-LD against ``context``.

    Returns ``({"@context": context, ...}, errors)``. Term selection is
    conservative: a term is chosen only when re-expansion under it
    provably reproduces the expanded value (coercion/language/container
    all match); anything else stays in expanded form, which is valid in
    a compacted document and keeps ``toRdf`` unchanged.
    """
    st = _api_state(base_uri)
    ctx = _process_context(_Context(base_uri or None), context, st)

    # iri → [(term, td)] for property-key selection; prefix terms for
    # CURIE compaction; reverse terms handled separately
    by_iri: dict[str, list] = {}
    prefixes: list[tuple[str, str]] = []
    for term, td in ctx.terms.items():
        if not td.iri or td.iri.startswith("@"):
            continue
        by_iri.setdefault(td.iri, []).append((term, td))
        if (td.type_mapping is None and not td.has_language
                and td.container is None and not td.reverse):
            prefixes.append((term, td.iri))
    for lst in by_iri.values():
        lst.sort(key=lambda t: (len(t[0]), t[0]))
    prefixes.sort(key=lambda t: (-len(t[1]), t[0]))  # longest IRI wins

    def compact_iri(iri: str, *, vocab: bool = True) -> str:
        # every candidate is verified by re-expansion: a compaction is
        # only usable if expanding it under ``ctx`` returns the exact
        # IRI (prefix/vocab collisions otherwise corrupt the graph —
        # the toRdf-0039 null-override shape)
        def exp(cand: str) -> str | None:
            return (_expand_pred(cand, ctx, st) if vocab
                    else _expand_node_ref(cand, ctx, st))

        if vocab:
            for term, td in by_iri.get(iri, ()):
                if (td.type_mapping is None and not td.has_language
                        and td.container is None and not td.reverse
                        and exp(term) == iri):
                    return term
            if ctx.vocab and iri.startswith(ctx.vocab) and len(iri) > len(ctx.vocab):
                tail = iri[len(ctx.vocab):]
                if (tail not in ctx.terms and not tail.startswith("@")
                        and exp(tail) == iri):
                    return tail
        for term, piri in prefixes:
            if iri.startswith(piri) and len(iri) > len(piri):
                cand = f"{term}:{iri[len(piri):]}"
                if cand not in ctx.terms and exp(cand) == iri:
                    return cand
        if exp(iri) != iri:
            st.errors.append(f"unrepresentable IRI under context: {iri}")
        return iri

    def term_matches(td, values: list) -> bool:
        """Would re-expansion under this term reproduce ``values``?"""
        if td.container == "@list":
            if not (len(values) == 1 and isinstance(values[0], dict)
                    and "@list" in values[0]):
                return False
            values = values[0]["@list"]
        elif any(isinstance(v, dict) and "@list" in v for v in values):
            return False
        for v in values:
            if not isinstance(v, dict):
                return False
            if "@value" in v:
                if td.type_mapping == "@id" or td.type_mapping == "@vocab":
                    return False
                if td.type_mapping is not None:
                    if v.get("@type") != td.type_mapping or not isinstance(
                            v["@value"], str):
                        return False
                elif "@type" in v:
                    return False
                elif td.has_language:
                    if not isinstance(v["@value"], str):
                        return False
                    if v.get("@language") != (td.language or None):
                        return False
                elif "@language" in v:
                    return False
                elif isinstance(v["@value"], str) and ctx.language:
                    return False  # bare string would re-expand with default lang
            elif set(v) == {"@id"}:
                # a bare reference compacts to a plain string: only an
                # @id-typed term re-expands that string to a node
                if td.type_mapping != "@id":
                    return False
            else:
                # an EMBEDDED node object re-expands as a node under any
                # term (coercion/language apply to strings only), so it
                # never disqualifies the term
                pass
        return True

    def select_term(iri: str, values: list):
        for term, td in by_iri.get(iri, ()):
            if td.reverse:
                continue
            if td.type_mapping or td.has_language or td.container:
                if term_matches(td, values):
                    return term, td
        return None, None

    def compact_value(v: Any, td) -> Any:
        if not isinstance(v, dict):
            return v
        if "@list" in v:
            cells = [compact_value(c, td) for c in v["@list"]]
            if td is not None and td.container == "@list":
                return cells
            return {"@list": cells}
        if "@value" in v:
            val = v["@value"]
            if td is not None and td.type_mapping and not td.type_mapping.startswith("@"):
                return val  # matched typed term: raw lexical
            if td is not None and td.has_language:
                return val
            if "@type" in v:
                return {"@value": val, "@type": compact_iri(v["@type"])}
            if "@language" in v:
                if not ctx.language and td is None:
                    return {"@value": val, "@language": v["@language"]}
                return {"@value": val, "@language": v["@language"]}
            if isinstance(val, str):
                return val if not ctx.language else {"@value": val}
            return val  # native number / boolean
        if set(v) == {"@id"}:
            if td is not None and td.type_mapping == "@id":
                return v["@id"]
            return {"@id": compact_iri(v["@id"], vocab=False)}
        return compact_node(v)  # embedded node: safe under any term

    def compact_node(node: dict) -> dict:
        out: dict = {}
        if "@id" in node:
            out["@id"] = compact_iri(node["@id"], vocab=False)
        if "@type" in node:
            ts = [compact_iri(t) for t in node["@type"]]
            out["@type"] = ts[0] if len(ts) == 1 else ts
        for pred in node:
            if pred in ("@id", "@type", "@reverse", "@graph"):
                continue
            values = node[pred]
            term, td = select_term(pred, values)
            key = term if term is not None else compact_iri(pred)
            vals = [compact_value(v, td) for v in values]
            if td is not None and td.container == "@list":
                out[key] = vals[0]
            elif len(vals) == 1 and not (td is not None and td.container == "@set"):
                out[key] = vals[0]
            else:
                out[key] = vals
        if "@reverse" in node:
            rev: dict = {}
            for pred, values in node["@reverse"].items():
                hoisted = None
                for term, td in by_iri.get(pred, ()):
                    if td.reverse and term_matches(td, values):
                        hoisted = (term, td)
                        break
                vals = [compact_value(v, hoisted[1] if hoisted else None)
                        for v in values]
                packed = vals[0] if len(vals) == 1 else vals
                if hoisted:
                    out[hoisted[0]] = packed
                else:
                    rev[compact_iri(pred)] = packed
            if rev:
                out["@reverse"] = rev
        if "@graph" in node:
            out["@graph"] = [compact_node(n) for n in node["@graph"]]
        return out

    if len(expanded) == 1:
        body = compact_node(expanded[0])
    else:
        body = {"@graph": [compact_node(n) for n in expanded]}
    out = {"@context": context}
    out.update(body)
    return out, st.errors


# ------------------------------------------------------------------ flatten


def _add_value(arr: list, item: dict) -> None:
    """Append ``item`` to a property's values unless an equal value is
    already there. Each ``@list`` is its own bnode chain, so equal
    sibling lists are two lists and are always appended."""
    key = canonical_json(item)
    if "@list" in item or all(canonical_json(x) != key for x in arr):
        arr.append(item)


def flatten(expanded: list) -> list:
    """Flatten expanded JSON-LD: node-map generation with a fresh blank
    node issuer (``_:b0`` …), duplicate-node merge, reverse-property
    inversion, set-deduplicated values, deterministic ordering.

    Returns the default graph's node array; nodes that name a graph
    carry their members under ``@graph``.
    """
    issuer: dict[str, str] = {}

    def issue(label: str | None) -> str:
        key = label if label is not None else f"\x00anon{len(issuer)}"
        got = issuer.get(key)
        if got is None:
            got = f"_:b{len(issuer)}"
            issuer[key] = got
        return got

    # graph name → node id → node
    node_map: dict[str, dict[str, dict]] = {"@default": {}}

    def get_node(graph: str, nid: str) -> dict:
        g = node_map.setdefault(graph, {})
        return g.setdefault(nid, {"@id": nid})

    def node_id(node: dict) -> str:
        nid = node.get("@id")
        if nid is None or nid.startswith("_:"):
            return issue(nid)
        return nid

    def walk(node: dict, graph: str) -> str:
        nid = node_id(node)
        entry = get_node(graph, nid)
        if "@type" in node:
            ts = entry.setdefault("@type", [])
            for t in node["@type"]:
                t = issue(t) if t.startswith("_:") else t
                if t not in ts:
                    ts.append(t)
        for pred, values in node.items():
            if pred in ("@id", "@type", "@reverse", "@graph"):
                continue
            pred_k = issue(pred) if pred.startswith("_:") else pred
            tgt = entry.setdefault(pred_k, [])
            for v in values:
                _add_value(tgt, _ref_value(v, graph))
        if "@reverse" in node:
            for pred, values in node["@reverse"].items():
                pred_k = issue(pred) if pred.startswith("_:") else pred
                for v in values:
                    src = walk(v, graph)
                    src_entry = get_node(graph, src)
                    _add_value(src_entry.setdefault(pred_k, []), {"@id": nid})
        if "@graph" in node:
            for child in node["@graph"]:
                walk(child, nid)
        return nid

    def _ref_value(v: dict, graph: str):
        if "@list" in v:
            return {"@list": [_ref_value(c, graph) for c in v["@list"]]}
        if "@value" in v:
            # blank-node datatypes (JSON-LD 1.0 quirk, toRdf-0078) must
            # relabel through the same issuer as node labels, or the
            # subject↔datatype identity splits on re-parse
            dt = v.get("@type")
            if isinstance(dt, str) and dt.startswith("_:"):
                return {**v, "@type": issue(dt)}
            return v
        return {"@id": walk(v, graph)}

    for node in expanded:
        walk(node, "@default")

    emitted: set[str] = set()

    def finalize(graph: str) -> list:
        nodes = []
        for nid in sorted(node_map.get(graph, {})):
            node = node_map[graph][nid]
            out = {"@id": nid}
            if "@type" in node:
                out["@type"] = node["@type"]
            for pred in sorted(k for k in node if k not in ("@id", "@type")):
                out[pred] = sorted(node[pred], key=canonical_json)
            # a node naming a graph carries its members wherever the
            # node itself lives (graphs nest: toRdf-0029/0061 shapes)
            if nid in node_map and nid not in ("@default", graph) and nid not in emitted:
                emitted.add(nid)
                members = finalize(nid)
                if members:
                    out["@graph"] = members
            nodes.append(out)
        return nodes

    return finalize("@default")


# ------------------------------------------------------------------ frame


def frame(expanded: list, frame_doc: Any, *, base_uri: str = "") -> tuple[dict, list[str]]:
    """Conservative JSON-LD framing subset: reshape ``expanded`` into
    the tree described by ``frame_doc``.

    Supported frame surface: ``@context`` (applied to the output via
    :func:`compact`), matching on ``@id`` / ``@type`` / required
    property presence (a property whose frame value is ``{}`` or
    ``[{}]``), per-property sub-frames (nested dicts recurse), and the
    ``@explicit`` flag (true → only frame-listed properties appear).
    Defaults mirror the spec's: ``@embed`` always (each referenced node
    embeds at its use site; cycles fall back to a node reference),
    ``@explicit`` false.

    The input's graphs are MERGED before matching (named-graph
    membership is not preserved through framing — documented
    deviation; framing a quads dataset graph-by-graph is the caller's
    composition). Matched nodes that end up embedded inside another
    match are dropped from the top level, standard framing behavior.

    Guarantee (property-tested): with the trivial frame ``{}`` on a
    single-graph document, ``toRdf(frame(expand(doc), {}))`` is
    isomorphic to ``toRdf(doc)`` — framing reshapes, never invents or
    silently drops triples reachable from the emitted tree.
    """
    st = _api_state(base_uri)
    if not isinstance(frame_doc, dict):
        frame_doc = {}
    fctx_val = frame_doc.get("@context")
    ctx = _process_context(_Context(base_uri or None), fctx_val, st) \
        if fctx_val is not None else _Context(base_uri or None)

    # --- frame-expansion: keys → IRIs, flags kept, {} stays wildcard
    def exp_frame(fnode: dict) -> dict:
        out: dict = {"@explicit": bool(fnode.get("@explicit", False))}
        id_v = fnode.get("@id")
        if isinstance(id_v, str):
            id_v = [id_v]
        if isinstance(id_v, list):
            ids = [_expand_node_ref(v, ctx, st) for v in id_v
                   if isinstance(v, str)]
            out["@id"] = [i for i in ids if i]
        type_v = fnode.get("@type")
        if isinstance(type_v, str):
            type_v = [type_v]
        if isinstance(type_v, list):
            ts = [_expand_type(v, ctx, st) for v in type_v
                  if isinstance(v, str)]
            out["@type"] = [t for t in ts if t]
        props: dict = {}
        for key, value in fnode.items():
            if key.startswith("@"):
                continue
            pred = _expand_pred(key, ctx, st)
            if pred is None or pred.startswith("@"):
                continue
            sub = value[0] if isinstance(value, list) and value else value
            props[pred] = exp_frame(sub) if isinstance(sub, dict) and sub \
                else None  # None = wildcard (presence only)
        out["@props"] = props
        return out

    fexp = exp_frame(frame_doc)

    # --- merged node map from the flattened input
    nodes: dict[str, dict] = {}

    def absorb(arr: list) -> None:
        for n in arr:
            entry = nodes.setdefault(n["@id"], {"@id": n["@id"]})
            for k, v in n.items():
                if k == "@id":
                    continue
                if k == "@graph":
                    absorb(v)
                    continue
                if k == "@type":
                    ts = entry.setdefault("@type", [])
                    for t in v:
                        if t not in ts:
                            ts.append(t)
                    continue
                tgt = entry.setdefault(k, [])
                for item in v:
                    _add_value(tgt, item)

    absorb(flatten(expanded))

    def matches(node: dict, fr: dict) -> bool:
        if fr.get("@id"):
            return node["@id"] in fr["@id"]
        if fr.get("@type"):
            return bool(set(node.get("@type", ())) & set(fr["@type"]))
        props = fr.get("@props", {})
        return all(p in node for p in props) if props else True

    embedded: set[str] = set()

    def build(node: dict, fr: dict, path: tuple) -> dict:
        out: dict = {"@id": node["@id"]}
        if "@type" in node:
            out["@type"] = node["@type"]
        explicit = fr.get("@explicit", False)
        fprops = fr.get("@props", {})
        for pred in sorted(k for k in node if not k.startswith("@")):
            if explicit and pred not in fprops:
                continue
            sub = fprops.get(pred)
            vals = []
            for v in node[pred]:
                vals.append(_frame_value(v, sub, path))
            out[pred] = vals
        return out

    def _frame_value(v: dict, sub, path: tuple):
        if "@list" in v:
            return {"@list": [_frame_value(c, sub, path) for c in v["@list"]]}
        if "@value" in v:
            return v
        ref = v["@id"]
        target = nodes.get(ref)
        if target is None or ref in path:
            return {"@id": ref}  # dangling or cyclic: keep the reference
        if sub is not None and not matches(target, sub):
            return {"@id": ref}  # sub-frame rejects: reference only
        embedded.add(ref)
        return build(target, sub if sub is not None
                     else {"@explicit": False, "@props": {}},
                     path + (ref,))

    # build trees in sorted-id order; a match already embedded by an
    # EARLIER kept tree is skipped (dropping retroactively would empty
    # the output entirely on reference cycles — every node embedded
    # into another, none left at the top)
    framed = []
    for nid in sorted(nodes):
        if nid in embedded or not matches(nodes[nid], fexp):
            continue
        framed.append(build(nodes[nid], fexp, (nid,)))

    if fctx_val is not None:
        out, cerrs = compact(framed, fctx_val, base_uri=base_uri)
        return out, st.errors + cerrs
    if len(framed) == 1:
        return framed[0], st.errors
    return {"@graph": framed}, st.errors
