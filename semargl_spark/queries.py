"""Query registry. A gate is declared once, as a module-level
``q_<gate>(spark, sf_dir) -> DataFrame`` callable in this module,
queries_pipeline or queries_events; registry() discovers it by that
name. Each gate has a DuckDB oracle ``ORACLES["<gate>"]`` in the same
module that computes the *expected* result analytically.

The synthetic transcripts are closed-form functions of (did, turn_idx)
(sources/transcripts.py), so the oracles reconstruct the expected
extraction output with plain SQL string building — the Spark side runs
the real parsers; any semantic deviation shows up as a value-hash
mismatch.
"""

from __future__ import annotations

import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extract import extract_statements, triples, errors
from .sources.transcripts import synth_transcripts, entity_dictionary
from .spark_util import ensure_py_files

STMT_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj", "obj_kind", "lang", "dtype"]

# shared oracle scaffold: the turn seed set, replicated from documents
_SEED = (
    "WITH t AS (SELECT CAST(doc_id AS INT) AS did, CAST(tix AS INT) AS tix "
    "FROM documents CROSS JOIN (SELECT unnest(generate_series(0,3)) AS tix)) "
)

_NT_NAME = (
    "CASE WHEN did%10=0 THEN 'Entity \"'||did||'\"'||chr(10) "
    "ELSE 'Entity '||did END"
)

_V = "CAST(NULL AS VARCHAR)"
XSD = "http://www.w3.org/2001/XMLSchema#"


def _extract_single_fmt(fmt: str):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = synth_transcripts(spark, sf_dir, fmt=fmt)
        cols = STMT_COLS + (["graph"] if fmt in ("nquads", "trig") else [])
        return triples(extract_statements(t)).select(*cols)

    return q


q_extract_ntriples = _extract_single_fmt("ntriples")
q_extract_nquads = _extract_single_fmt("nquads")
q_extract_trig = _extract_single_fmt("trig")
q_extract_jsonld = _extract_single_fmt("jsonld")
q_extract_rdfa = _extract_single_fmt("rdfa")
q_extract_rdfxml = _extract_single_fmt("rdfxml")


def q_extract_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: mixed-format corpus → all extracted triples."""
    t = synth_transcripts(spark, sf_dir)
    return triples(extract_statements(t)).select(*STMT_COLS)


def q_extract_turtle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full in-engine round trip: the corpus is serialized to Turtle by
    kernels/turtle.py (the byte-exact-gated render_turtle pipeline),
    then re-parsed by the input-side kernel kernels/turtle_read.py —
    a format the reference only ever WRITES (TurtleSerializer.java has
    no parser sibling). Author bnode labels survive the round trip
    because relabeling is deterministic per doc_key, so the oracle is
    the same closed form as extract_ntriples."""
    from .operators.serialize_ops import render_turtle_docs

    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    docs = render_turtle_docs(t, fmt="ntriples").select(
        "conv_id", "turn_idx", F.col("turtle").alias("text")
    )
    return triples(extract_statements(docs, default_fmt="turtle")).select(*STMT_COLS)


def q_extract_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Processor-graph side channel: malformed turns yield error rows,
    never task failures (reference ENABLE_ERROR_RECOVERY,
    NTriplesParser.java:92-103)."""
    t = synth_transcripts(spark, sf_dir)
    e = errors(extract_statements(t))
    return e.groupBy("conv_id").agg(F.count("*").cast("long").alias("n_errors"))


def q_turn_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable turn ordering window (north_rule): row_number over
    (conv_id ⟶ turn_idx) — SURVEY.md §2.7."""
    from pyspark.sql.window import Window

    t = synth_transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return t.select(
        "conv_id",
        "turn_idx",
        "role",
        F.row_number().over(w).cast("int").alias("turn_seq"),
    )


def q_entity_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return entity_dictionary(spark, sf_dir)


ORACLES: dict[str, str] = {}


ORACLES["extract_ntriples"] = _SEED + f"""
SELECT 'c'||did AS conv_id, tix AS turn_idx, 'urn:e:'||did AS subj,
       'urn:p:name' AS pred, {_NT_NAME} AS obj, 'literal' AS obj_kind,
       {_V} AS lang, {_V} AS dtype FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
       'iri', {_V}, {_V} FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:score', (did%100)||'.5',
       'literal', {_V}, '{XSD}decimal' FROM t
UNION ALL
SELECT 'c'||did, tix, '_:bc'||did||'_'||tix||'_n0', 'urn:p:label',
       'turn '||tix, 'literal', 'en', {_V} FROM t
"""

ORACLES["extract_nquads"] = _SEED + f"""
SELECT 'c'||did AS conv_id, tix AS turn_idx, 'urn:e:'||did AS subj,
       'urn:p:name' AS pred, 'Entity '||did AS obj, 'literal' AS obj_kind,
       {_V} AS lang, {_V} AS dtype, 'urn:g:'||(did%10) AS graph FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
       'iri', {_V}, {_V}, {_V} FROM t
UNION ALL
SELECT 'c'||did, tix, '_:bc'||did||'_'||tix||'_n0', 'urn:p:label', 'g',
       'literal', 'en', {_V}, 'urn:g:'||(did%10) FROM t
"""

ORACLES["extract_trig"] = _SEED + f"""
SELECT 'c'||did AS conv_id, tix AS turn_idx, 'urn:e:'||did AS subj,
       'urn:p:name' AS pred, 'Entity '||did AS obj, 'literal' AS obj_kind,
       {_V} AS lang, {_V} AS dtype, {_V} AS graph FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
       'iri', {_V}, {_V}, 'urn:g:'||(did%10) FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:score', CAST(did%100 AS VARCHAR),
       'literal', {_V}, '{XSD}integer', 'urn:g:'||(did%10) FROM t
UNION ALL
SELECT 'c'||did, tix, '_:bc'||did||'_'||tix||'_n0', 'urn:p:label',
       'turn '||tix, 'literal', 'en', {_V}, 'urn:g:meta' FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'urn:t:Thing',
       'iri', {_V}, {_V}, 'urn:g:meta' FROM t
"""

_JSONLD_ROWS = f"""
SELECT 'c'||did AS conv_id, tix AS turn_idx, 'urn:e:'||did AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'urn:t:Thing' AS obj, 'iri' AS obj_kind, {_V} AS lang, {_V} AS dtype FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:name', 'Entity '||did,
       'literal', {_V}, {_V} FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
       'iri', {_V}, {_V} FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:score', CAST(did%50 AS VARCHAR),
       'literal', {_V}, '{XSD}integer' FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:tag', 'a'||did,
       'literal', {_V}, {_V} FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:tag', 'b',
       'literal', {_V}, {_V} FROM t
"""

ORACLES["extract_jsonld"] = _SEED + _JSONLD_ROWS

_RDFA_ROWS = f"""
SELECT 'c'||did AS conv_id, tix AS turn_idx, 'urn:e:'||did AS subj,
       'http://purl.org/dc/terms/title' AS pred, 'Turn '||tix AS obj,
       'literal' AS obj_kind, {_V} AS lang, {_V} AS dtype FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'http://purl.org/dc/terms/relation',
       'urn:e:'||(did+1), 'iri', {_V}, {_V} FROM t
"""

# turtle round-trips the ntriples-extracted triples exactly (labels
# included), so its oracle is the same closed form
ORACLES["extract_turtle"] = ORACLES["extract_ntriples"]

ORACLES["extract_rdfa"] = _SEED + _RDFA_ROWS

_RDFXML_ROWS = f"""
SELECT 'c'||did AS conv_id, tix AS turn_idx, 'urn:e:'||did AS subj,
       'urn:p:name' AS pred, 'Entity '||did AS obj, 'literal' AS obj_kind,
       {_V} AS lang, {_V} AS dtype FROM t
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
       'iri', {_V}, {_V} FROM t
"""

ORACLES["extract_rdfxml"] = _SEED + _RDFXML_ROWS

# mixed corpus: per-kind filters on (did*7+tix)%5
ORACLES["extract_mixed"] = _SEED + f"""
, nt AS (SELECT * FROM t WHERE (did*7+tix)%5 = 0)
, jl AS (SELECT * FROM t WHERE (did*7+tix)%5 = 1)
, ra AS (SELECT * FROM t WHERE (did*7+tix)%5 = 2)
SELECT 'c'||did AS conv_id, tix AS turn_idx, 'urn:e:'||did AS subj,
       'urn:p:name' AS pred, {_NT_NAME} AS obj, 'literal' AS obj_kind,
       {_V} AS lang, {_V} AS dtype FROM nt
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
       'iri', {_V}, {_V} FROM nt
UNION ALL
SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:score', (did%100)||'.5',
       'literal', {_V}, '{XSD}decimal' FROM nt
UNION ALL
SELECT 'c'||did, tix, '_:bc'||did||'_'||tix||'_n0', 'urn:p:label',
       'turn '||tix, 'literal', 'en', {_V} FROM nt
UNION ALL
{_JSONLD_ROWS.replace(" FROM t", " FROM jl")}
UNION ALL
{_RDFA_ROWS.replace(" FROM t", " FROM ra")}
"""

ORACLES["extract_errors"] = _SEED + """
SELECT 'c'||did AS conv_id, CAST(COUNT(*) AS BIGINT) AS n_errors
FROM t WHERE (did*7+tix)%5 = 4 GROUP BY did
"""

ORACLES["turn_ordering"] = _SEED + """
SELECT 'c'||did AS conv_id, tix AS turn_idx,
       CASE WHEN tix%3=0 THEN 'user' WHEN tix%3=1 THEN 'assistant'
            ELSE 'tool' END AS role,
       CAST(ROW_NUMBER() OVER (PARTITION BY did ORDER BY tix) AS INT) AS turn_seq
FROM t
"""

ORACLES["entity_dictionary"] = """
SELECT 'urn:e:'||CAST(doc_id AS INT) AS canonical_iri,
       'entity '||CAST(doc_id AS INT) AS surface_form, 1.0 AS weight
FROM documents
UNION ALL
SELECT 'urn:e:'||CAST(doc_id AS INT), 'ent '||CAST(doc_id AS INT), 0.5
FROM documents
"""


def q_turn_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Role-transition matrix with integer gap seconds
    (operators/conversation.turn_transitions) — dialogue-shape census
    over the stable (conv_id ⟶ turn_idx) ordering."""
    from .operators.conversation import turn_transitions

    return turn_transitions(synth_transcripts(spark, sf_dir))


ORACLES["turn_transitions"] = _SEED + """
, r AS (SELECT did, tix,
    CASE WHEN tix%3=0 THEN 'user' WHEN tix%3=1 THEN 'assistant'
         ELSE 'tool' END AS role,
    CAST(did AS BIGINT)*3600 + tix*60 AS tsec FROM t),
x AS (SELECT role,
    LAG(role) OVER (PARTITION BY did ORDER BY tix) AS from_role,
    tsec - LAG(tsec) OVER (PARTITION BY did ORDER BY tix) AS gap FROM r)
SELECT from_role, role AS to_role, CAST(COUNT(*) AS BIGINT) AS n_transitions,
       CAST(SUM(gap) AS BIGINT) AS sum_gap_s
FROM x WHERE from_role IS NOT NULL GROUP BY 1, 2
"""


def q_role_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-role turn/conversation/tool-call rollup
    (operators/conversation.role_stats)."""
    from .operators.conversation import role_stats

    return role_stats(synth_transcripts(spark, sf_dir))


ORACLES["role_stats"] = _SEED + """
SELECT CASE WHEN tix%3=0 THEN 'user' WHEN tix%3=1 THEN 'assistant'
            ELSE 'tool' END AS role,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(COUNT(DISTINCT did) AS BIGINT) AS n_convs,
       CAST(SUM(CASE WHEN tix%3=2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tool_turns
FROM t GROUP BY 1
"""


def q_tool_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool usage census (operators/conversation.tool_stats) over an
    8-turn NTriples corpus — two tool calls per conversation with
    distinct tool names, exact byte and latency sums."""
    from .operators.conversation import tool_stats

    return tool_stats(
        synth_transcripts(spark, sf_dir, turns_per_doc=8, fmt="ntriples")
    )


ORACLES["tool_stats"] = r"""
WITH t AS (SELECT CAST(doc_id AS INT) AS did, CAST(tix AS INT) AS tix
           FROM documents
           CROSS JOIN (SELECT unnest(generate_series(0,7)) AS tix)),
tools AS (
  SELECT did, tix,
    CASE ((did + tix//3) % 3) WHEN 0 THEN 'rdf_extract'
         WHEN 1 THEN 'web_search' ELSE 'code_exec' END AS tool,
    LENGTH('# turn '||tix||chr(10)
      ||'<urn:e:'||did||'> <urn:p:name> "'
      ||CASE WHEN did%10=0
             THEN 'Entity '||chr(92)||'"'||did||chr(92)||'"'||chr(92)||'n'
             ELSE 'Entity '||did END
      ||'" .'||chr(10)
      ||'<urn:e:'||did||'> <urn:p:knows> <urn:e:'||(did+1)||'> .'||chr(10)
      ||'<urn:e:'||did||'> <urn:p:score> "'||(did%100)
      ||'.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .'||chr(10)
      ||'_:a <urn:p:label> "turn '||tix||'"@en .'||chr(10)) AS out_bytes
  FROM t WHERE tix % 3 = 2)
SELECT tool, CAST(COUNT(*) AS BIGINT) AS n_calls,
       CAST(COUNT(DISTINCT did) AS BIGINT) AS n_convs,
       CAST(SUM(out_bytes) AS BIGINT) AS sum_out_bytes,
       CAST(COUNT(*)*60 AS BIGINT) AS sum_latency_s
FROM tools GROUP BY tool
"""


def q_tool_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call bigram mining (operators/conversation.tool_chains) over
    a 12-turn corpus — four tool calls per conversation cycling through
    the three tool names, so every conversation contributes a 3-step
    chain."""
    from .operators.conversation import tool_chains

    return tool_chains(synth_transcripts(spark, sf_dir, turns_per_doc=12))


ORACLES["tool_chains"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
names(i, nm) AS (VALUES (0,'rdf_extract'),(1,'web_search'),(2,'code_exec')),
steps AS (SELECT did, unnest(generate_series(0,2)) AS r FROM ids)
SELECT f.nm AS from_tool, tt.nm AS to_tool, CAST(COUNT(*) AS BIGINT) AS n
FROM steps s
JOIN names f ON f.i = (s.did + s.r) % 3
JOIN names tt ON tt.i = (s.did + s.r + 1) % 3
GROUP BY 1, 2
"""


def q_agent_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuck-tool-loop detection (operators/conversation.agent_loops)
    over a 12-turn corpus with tool names coarsened to two families
    (web_search → 'search', the two execution tools → 'exec'), so every
    conversation's tool subsequence carries a genuine repeated-family
    run for the gaps-and-islands encoder to find."""
    from .operators.conversation import agent_loops

    t = synth_transcripts(spark, sf_dir, turns_per_doc=12)
    t = t.withColumn(
        "tool",
        F.when(F.col("tool").isNull(), None)
        .when(F.col("tool") == "web_search", "search")
        .otherwise("exec"),
    )
    return agent_loops(t, min_run=2)


ORACLES["agent_loops"] = """
WITH t AS (SELECT CAST(doc_id AS INT) AS did, CAST(tix AS INT) AS tix
           FROM documents
           CROSS JOIN (SELECT unnest(generate_series(0,11)) AS tix)),
tools AS (SELECT did, tix,
                 CASE ((did + tix//3) % 3) WHEN 1 THEN 'search'
                      ELSE 'exec' END AS fam
          FROM t WHERE tix % 3 = 2),
x AS (SELECT did, tix, fam,
             CASE WHEN LAG(fam) OVER (PARTITION BY did ORDER BY tix)
                       IS DISTINCT FROM fam THEN 1 ELSE 0 END AS chg
      FROM tools),
g AS (SELECT did, fam,
             SUM(chg) OVER (PARTITION BY did ORDER BY tix) AS grp
      FROM x),
runs AS (SELECT did, grp, CAST(COUNT(*) AS BIGINT) AS run_len
         FROM g GROUP BY did, grp)
SELECT 'c'||did AS conv_id,
       CAST(SUM(run_len) AS BIGINT) AS n_tool_calls,
       CAST(COUNT(*) AS BIGINT) AS n_runs,
       CAST(MAX(run_len) AS BIGINT) AS max_run,
       CAST(SUM(CASE WHEN run_len >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_stuck_runs
FROM runs GROUP BY did
"""


def q_turn_edit_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regeneration detection (operators/conversation.turn_edit_sim):
    consecutive assistant turns carry closed-form near-copy texts whose
    Levenshtein distance both engines compute natively, so the permil
    distance and near-duplicate verdict replay exactly."""
    from .operators.conversation import turn_edit_sim

    t = synth_transcripts(spark, sf_dir, turns_per_doc=8)
    did = F.substring("conv_id", 2, 18).cast("int")
    t = t.withColumn(
        "text",
        F.concat(
            F.lit("try "),
            F.col("conv_id"),
            F.lit(" v"),
            ((F.col("turn_idx") * 2 + did) % 5).cast("string"),
            F.repeat(F.lit("!"), ((did + F.col("turn_idx")) % 3).cast("int")),
        ),
    )
    return turn_edit_sim(t, role="assistant", near_pm=250)


ORACLES["turn_edit_sim"] = """
WITH t AS (SELECT CAST(doc_id AS INT) AS did, CAST(tix AS INT) AS tix
           FROM documents
           CROSS JOIN (SELECT unnest(generate_series(0,7)) AS tix)),
a AS (SELECT 'c'||did AS conv_id, tix,
             'try c'||did||' v'||((tix*2+did)%5)
               || repeat('!', (did+tix)%3) AS text
      FROM t WHERE tix % 3 = 1),
p AS (SELECT conv_id, tix, text,
             LAG(tix) OVER (PARTITION BY conv_id ORDER BY tix) AS ptix,
             LAG(text) OVER (PARTITION BY conv_id ORDER BY tix) AS ptext
      FROM a)
SELECT conv_id, CAST(tix AS INT) AS turn_idx,
       CAST(ptix AS INT) AS prev_turn_idx,
       CAST(levenshtein(text, ptext) AS INT) AS edit_dist,
       CAST(GREATEST(LENGTH(text), LENGTH(ptext)) AS INT) AS max_len,
       CAST(1000 * levenshtein(text, ptext)
            // GREATEST(GREATEST(LENGTH(text), LENGTH(ptext)), 1)
            AS BIGINT) AS dist_pm,
       1000 * levenshtein(text, ptext)
         // GREATEST(GREATEST(LENGTH(text), LENGTH(ptext)), 1) <= 250
         AS is_near
FROM p WHERE ptix IS NOT NULL
"""


def q_extract_microdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema.org microdata extraction (kernels/microdata.py): each
    document is an itemscope tree with an itemid'd typed item, a text
    property, an absolute URL property, and a nested untyped item
    (exercising the md# vocabulary fallback and document-scoped bnode
    labels); the oracle writes the mapped triples closed-form."""
    did = F.col("doc_id").cast("int")
    t = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.concat(F.lit("c"), did.cast("string")).alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.concat(
                F.lit('<div itemscope itemtype="https://schema.org/Thing" '
                      'itemid="urn:e:'),
                did.cast("string"),
                F.lit('"><span itemprop="name">Entity '),
                did.cast("string"),
                F.lit('</span><a itemprop="url" href="urn:u:'),
                did.cast("string"),
                F.lit('">x</a><div itemprop="sub" itemscope>'
                      '<span itemprop="note">n'),
                did.cast("string"),
                F.lit("</span></div></div>"),
            ).alias("text"),
        )
    )
    return triples(extract_statements(t, default_fmt="microdata")).select(
        *STMT_COLS
    )


ORACLES["extract_microdata"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents)
SELECT 'c'||did AS conv_id, CAST(0 AS INT) AS turn_idx,
       'urn:e:'||did AS subj,
       'http://www.w3.org/1999/02/22-rdf-syntax-ns#type' AS pred,
       'https://schema.org/Thing' AS obj, 'iri' AS obj_kind,
       CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dtype
FROM ids
UNION ALL
SELECT 'c'||did, CAST(0 AS INT), 'urn:e:'||did, 'https://schema.org/name',
       'Entity '||did, 'literal', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM ids
UNION ALL
SELECT 'c'||did, CAST(0 AS INT), 'urn:e:'||did, 'https://schema.org/url',
       'urn:u:'||did, 'iri', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM ids
UNION ALL
SELECT 'c'||did, CAST(0 AS INT), 'urn:e:'||did, 'https://schema.org/sub',
       '_:bc'||did||'_0_n0', 'bnode', CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR)
FROM ids
UNION ALL
SELECT 'c'||did, CAST(0 AS INT), '_:bc'||did||'_0_n0',
       'http://www.w3.org/1999/xhtml/microdata#note',
       'n'||did, 'literal', CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
FROM ids
"""


def q_extract_remote_ctx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline remote-@context extraction: every document references its
    vocabulary by IRI (the schema.org shape) and the caller-supplied
    context registry resolves it executor-side without any fetch
    (kernels/jsonld.py:_resolve_remote) — the closed-form oracle pins
    the triples the registered context must produce."""
    registry = {
        "https://kg.example/ctx/v1": {
            "name": "urn:p:name",
            "knows": {"@id": "urn:p:knows", "@type": "@id"},
        },
    }
    did = F.col("doc_id").cast("int")
    t = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.concat(F.lit("c"), did.cast("string")).alias("conv_id"),
            F.lit(0).cast("int").alias("turn_idx"),
            F.concat(
                F.lit('{"@context":"https://kg.example/ctx/v1",'
                      '"@id":"urn:e:'),
                did.cast("string"),
                F.lit('","name":"Entity '),
                did.cast("string"),
                F.lit('","knows":"urn:e:'),
                (did + 1).cast("string"),
                F.lit('"}'),
            ).alias("text"),
        )
    )
    return triples(
        extract_statements(t, default_fmt="jsonld", context_registry=registry)
    ).select(*STMT_COLS)


ORACLES["extract_remote_ctx"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents)
SELECT 'c'||did AS conv_id, CAST(0 AS INT) AS turn_idx,
       'urn:e:'||did AS subj, 'urn:p:name' AS pred,
       'Entity '||did AS obj, 'literal' AS obj_kind,
       CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS VARCHAR) AS dtype
FROM ids
UNION ALL
SELECT 'c'||did, CAST(0 AS INT), 'urn:e:'||did, 'urn:p:knows',
       'urn:e:'||(did+1), 'iri', CAST(NULL AS VARCHAR),
       CAST(NULL AS VARCHAR)
FROM ids
"""


def _shipped(fn: Callable[[SparkSession, str], DataFrame]):
    """Wrap a query so the package is shipped to executors first
    (programmatic --py-files; see spark_util.ensure_py_files)."""

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_py_files(spark)
        return fn(spark, sf_dir)

    return wrapped


def _declared() -> tuple[
    dict[str, Callable[[SparkSession, str], DataFrame]], dict[str, str]
]:
    """(gates, oracles) of the three query modules. Every module-level
    callable named ``q_<gate>`` is the gate ``<gate>``; the modules'
    ORACLES dicts merge into one. The two name sets must be equal, so a
    gate without an oracle, or an oracle without a gate, cannot ship."""
    from . import queries_events, queries_pipeline

    gates: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    merged: dict[str, str] = {}
    for mod in (sys.modules[__name__], queries_pipeline, queries_events):
        for attr, fn in vars(mod).items():
            if attr.startswith("q_") and callable(fn):
                gates[attr[2:]] = fn
        merged.update(mod.ORACLES)
    missing = sorted(gates.keys() - merged.keys())
    orphans = sorted(merged.keys() - gates.keys())
    if missing or orphans:
        raise RuntimeError(
            f"gates without an oracle: {missing}; "
            f"oracles without a gate: {orphans}"
        )
    return gates, merged


def registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _shipped(fn) for name, fn in _declared()[0].items()}


def oracles() -> dict[str, str]:
    return _declared()[1]


def q_extract_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based ingestion (reference S2: process(File, baseUri),
    BaseStreamProcessor.java:61-84): the first 50 conversations are
    written out as one .nt document file per turn (c<conv>_t<turn>.nt),
    read back through sources/rdf_files.py, and extracted — the result
    must be byte-identical to table ingestion of the same bodies, so
    the oracle is the extract_ntriples closed form restricted to
    doc_id < 50 (bnode labels included: document identity survives the
    file round trip)."""
    import os
    import tempfile

    from .sources.rdf_files import read_rdf_files

    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    subset = t.filter(
        F.substring("conv_id", 2, 10).cast("int") < 50
    ).select("conv_id", "turn_idx", "text")
    base = tempfile.mkdtemp(prefix="semargl_q_files_")
    for r in subset.collect():
        fn = os.path.join(base, f"{r['conv_id']}_t{r['turn_idx']}.nt")
        with open(fn, "w", encoding="utf-8") as f:
            f.write(r["text"])
    docs = read_rdf_files(spark, f"{base}/*.nt")
    return triples(extract_statements(docs)).select(*STMT_COLS)


ORACLES["extract_files"] = ORACLES["extract_ntriples"].replace(
    "FROM documents CROSS JOIN",
    "FROM (SELECT * FROM documents WHERE doc_id < 50) CROSS JOIN",
)
