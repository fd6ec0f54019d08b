r"""Pipeline + training-data query registry (linking, canonicalization,
graph materialization, dedup, similarity, text analysis, multimodal) —
each with a DuckDB oracle.

Split from queries.py (extraction) for readability; queries.registry()
discovers the ``q_<gate>`` functions here by name.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from .operators import curation, dedup, materialize, similarity, text
from .operators.canon import connected_components
from .operators.extract import extract_statements, triples
from .operators.link import link_entities
from .operators.serialize_ops import render_ntriples
from .operators.sparql import (
    concise_bounded_description,
    sparql_ask,
    sparql_construct,
    sparql_describe,
    sparql_select,
    sparql_update,
)
from .sources.transcripts import (
    synth_transcripts,
    synth_transcripts_zipf,
    entity_dictionary,
)

_SEED = (
    "WITH t AS (SELECT CAST(doc_id AS INT) AS did, CAST(tix AS INT) AS tix "
    "FROM documents CROSS JOIN (SELECT unnest(generate_series(0,3)) AS tix)) "
)

ORACLES: dict[str, str] = {}

# Per-gate scheduler-noise-free streaming work time (seconds): sum of
# per-batch triggerExecution durations from the streaming progress feed.
# The r4 verdict measured the availableNow replay WALL at ~2× jitter
# across windows (stream_sft 10.2 s driver vs 5.3 s builder on identical
# code) — micro-batch scheduling gaps, not work. bench.py reports this
# next to the wall for every stream gate so a real regression can't hide
# behind scheduler noise. min across a bench's repeat runs.
STREAM_WORK_SEC: dict[str, float] = {}


class _BatchTimes(StreamingQueryListener):
    """Every micro-batch's ``triggerExecution`` ms, by query run id and
    batch id. The query's own ``recentProgress`` ring keeps only the
    last 100 batches (``spark.sql.streaming.numRecentProgressUpdates``)."""

    def __init__(self):
        self.runs: dict[str, dict[int, float]] = {}

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.runs.setdefault(str(p.runId), {}).update(_trigger_ms([p]))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


_BATCH_TIMES = weakref.WeakKeyDictionary()  # session → its _BatchTimes


def _trigger_ms(progress) -> dict[int, float]:
    return {
        p["batchId"]: float(p["durationMs"].get("triggerExecution", 0))
        for p in progress
    }


def _batch_times(spark: SparkSession) -> _BatchTimes | None:
    """The session's progress listener, registered on first use. None on
    Connect, where a listener runs server-side, away from this dict."""
    from .spark_util import is_connect

    if is_connect(spark):
        return None
    if spark not in _BATCH_TIMES:
        listener = _BatchTimes()
        spark.streams.addListener(listener)
        _BATCH_TIMES[spark] = listener
    return _BATCH_TIMES[spark]


def _drain(spark, q, key: str) -> None:
    """awaitTermination + record the gate's work time, summed over every
    micro-batch of the run. Metrics never fail a gate."""
    try:
        listener = _batch_times(spark)
        # batches that ended before a first-time listener was registered
        batches = _trigger_ms(q.recentProgress)
    except Exception:
        listener, batches = None, {}
    q.awaitTermination()
    try:
        if listener is not None:
            spark._jsc.sc().listenerBus().waitUntilEmpty(60_000)
            batches.update(listener.runs.pop(str(q.runId), {}))
        else:
            batches.update(_trigger_ms(q.recentProgress))
        sec = round(sum(batches.values()) / 1000.0, 3)
        prev = STREAM_WORK_SEC.get(key)
        STREAM_WORK_SEC[key] = sec if prev is None else min(prev, sec)
    except Exception:
        pass


# ------------------------------------------------- shared gate inputs


def _seed_table(spark, sf_dir, name):
    from .spark_util import default_parallelism

    # the seed parquet is one small file → one input partition; spread it
    # so the expression-heavy operators use every core
    return spark.read.parquet(f"{sf_dir}/{name}.parquet").repartition(
        default_parallelism(spark)
    )


def _docs(spark, sf_dir):
    return _seed_table(spark, sf_dir, "documents")


def _embeddings(spark, sf_dir):
    return _seed_table(spark, sf_dir, "embeddings")


def _vectors(spark, sf_dir):
    """(vec_id, embedding as array<double>): the similarity operators'
    input."""
    return _embeddings(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _near_dup_corpus(spark, sf_dir):
    """(doc_id, text) documents unioned with a planted near-duplicate of
    each: doc_id + 1,000,000, text + " tail"."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    return docs.unionByName(copies)


def _corpus(spark, sf_dir, **kw):
    """The statement stream every KG gate reads: the transcripts
    (``kw`` goes to synth_transcripts: fmt, turns_per_doc) extracted
    to triples."""
    return triples(extract_statements(synth_transcripts(spark, sf_dir, **kw)))


def _kg_edges(spark, sf_dir):
    """The mixed-format corpus materialized as KG edges; the Spark side
    of ``_KG_EDGES_SQL``."""
    return materialize.kg_edges(_corpus(spark, sf_dir))


def _knows_blocks(st):
    """The canonicalize equivalence edges: knows edges with every 16th
    chain link broken, so components are 16-id blocks, as distinct
    (src, dst)."""
    src_id = F.regexp_extract("subj", r"urn:e:(\d+)", 1).cast("long")
    return (
        st.filter(F.col("pred") == "urn:p:knows")
        .filter(src_id % 16 != 15)
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )


# ---------------------------------------------------------------- KG stages


def q_turn_text_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn text-equality invariant (BASELINE.json input_hint): the
    md5 of every NTriples turn body under stable turn ordering. The
    DuckDB oracle rebuilds the exact text byte-for-byte, so any drift in
    the generator or in text handling (normalization, encoding) fails
    the hash."""
    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    return t.select("conv_id", "turn_idx", F.md5(F.col("text")).alias("text_md5"))


ORACLES["turn_text_hash"] = _SEED + r"""
SELECT 'c'||did AS conv_id, tix AS turn_idx,
  md5('# turn '||tix||chr(10)
   ||'<urn:e:'||did||'> <urn:p:name> "'
   ||CASE WHEN did%10=0 THEN 'Entity '||chr(92)||'"'||did||chr(92)||'"'||chr(92)||'n'
          ELSE 'Entity '||did END
   ||'" .'||chr(10)
   ||'<urn:e:'||did||'> <urn:p:knows> <urn:e:'||(did+1)||'> .'||chr(10)
   ||'<urn:e:'||did||'> <urn:p:score> "'||(did%100)
   ||'.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .'||chr(10)
   ||'_:a <urn:p:label> "turn '||tix||'"@en .'||chr(10)) AS text_md5
FROM t
"""


def q_entity_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    st = _corpus(spark, sf_dir, fmt="ntriples")
    return link_entities(st, entity_dictionary(spark, sf_dir)).select(
        "conv_id", "turn_idx", "mention_node", "canonical_iri",
        F.col("score").cast("double").alias("score"),
    )


ORACLES["entity_link"] = _SEED + """
SELECT 'c'||did AS conv_id, tix AS turn_idx, 'urn:e:'||did AS mention_node,
       'urn:e:'||did AS canonical_iri, 1.0 AS score
FROM t WHERE did % 10 <> 0
"""


def q_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over knows-edges, chains broken every 16 ids
    so components have bounded diameter (the oracle computes the block
    structure in closed form)."""
    st = _corpus(spark, sf_dir, fmt="ntriples")
    return connected_components(_knows_blocks(st))


ORACLES["canonicalize"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
edges AS (SELECT did AS s, did+1 AS d FROM ids WHERE did % 16 <> 15),
nds AS (SELECT DISTINCT id FROM (SELECT s AS id FROM edges UNION ALL SELECT d FROM edges)),
blocks AS (SELECT id, id - (id % 16) AS blk FROM nds)
SELECT 'urn:e:'||b.id AS node, m.root AS component
FROM blocks b JOIN (SELECT blk, MIN('urn:e:'||id) AS root FROM blocks GROUP BY blk) m
USING (blk)
"""


def q_pipeline_kg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North_star pipeline chain: extract (mixed formats) → canonicalize
    (knows-block equivalences) → merge into canonical edges. The link
    stage is exercised separately (`entity_link` query and the
    spark-submit job): the synthetic dictionary maps mentions to their
    own IRIs, so links contribute no equivalences here — the knows graph
    supplies them instead."""
    st = _corpus(spark, sf_dir).cache()
    components = connected_components(_knows_blocks(st))
    edges = materialize.kg_edges(st, components)
    st.unpersist()
    return edges


ORACLES["pipeline_kg"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
eq AS (SELECT did AS s, did+1 AS d FROM ids WHERE did % 16 <> 15),
nds AS (SELECT DISTINCT id FROM (SELECT s AS id FROM eq UNION ALL SELECT d FROM eq)),
blocks AS (SELECT id, MIN('urn:e:'||id) OVER (PARTITION BY id - (id % 16)) AS root FROM nds),
raw AS (
  SELECT 'urn:e:'||did AS src, 'urn:p:knows' AS pred, 'urn:e:'||(did+1) AS dst FROM ids
  UNION
  SELECT 'urn:e:'||did, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'urn:t:Thing' FROM ids WHERE did % 5 <> 1
  UNION
  SELECT 'urn:e:'||did, 'http://purl.org/dc/terms/relation', 'urn:e:'||(did+1)
  FROM ids WHERE did % 5 <> 4
)
SELECT DISTINCT coalesce(bs.root, raw.src) AS src, raw.pred,
       coalesce(bd.root, raw.dst) AS dst
FROM raw
LEFT JOIN blocks bs ON raw.src = 'urn:e:'||bs.id
LEFT JOIN blocks bd ON raw.dst = 'urn:e:'||bd.id
"""


def q_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition lineage/metrics side output (north_rule): the full
    8-column ledger row shape over 32 DETERMINISTIC shards (conv-id hash
    buckets) with the SQL-replicable md5 row hash, so every column —
    counts AND checksums — is value-checked by the external gate.
    (`lineage_exact` keeps the narrower closed-form audit; the physical
    ``spark_partition_id`` default of ``lineage_rows`` remains available
    for in-Spark self-consistency ledgers.)"""
    from .operators.dedup import md5_hash60

    st = _corpus(spark, sf_dir, fmt="ntriples")
    shard = F.pmod(
        F.regexp_extract("conv_id", r"(\d+)", 1).cast("long"), F.lit(32)
    ).cast("int")
    row_h = F.pmod(
        md5_hash60(
            F.concat_ws(
                "\x1f", "conv_id", F.col("turn_idx").cast("string"),
                "subj", "pred", "obj", "obj_kind",
                F.coalesce("lang", F.lit("")), F.coalesce("dtype", F.lit("")),
            )
        ),
        F.lit((1 << 31) - 1),
    )
    return materialize.lineage_rows(
        st, "verify-run", "extract", shard=shard, row_hash=row_h
    )


def _lineage_oracle() -> str:
    """The ledger reconstructed closed-form: same st/hv scaffold as
    lineage_exact, over 32 shards, with every lineage_rows column."""
    return _SEED + r"""
, st AS (
  SELECT did, tix, 'urn:e:'||did AS subj, 'urn:p:name' AS pred,
         CASE WHEN did%10=0 THEN 'Entity "'||did||'"'||chr(10)
              ELSE 'Entity '||did END AS obj, 'literal' AS obj_kind,
         '' AS lang, '' AS dtype FROM t
  UNION ALL
  SELECT did, tix, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
         'iri', '', '' FROM t
  UNION ALL
  SELECT did, tix, 'urn:e:'||did, 'urn:p:score', (did%100)||'.5',
         'literal', '', 'http://www.w3.org/2001/XMLSchema#decimal' FROM t
  UNION ALL
  SELECT did, tix, '_:bc'||did||'_'||tix||'_n0', 'urn:p:label',
         'turn '||tix, 'literal', 'en', '' FROM t
), h AS (
  SELECT did % 32 AS shard,
    (list_reduce(list_transform(range(1,16), i ->
       CAST(strpos('0123456789abcdef',
            substr(md5('c'||did||chr(31)||tix||chr(31)||subj||chr(31)||pred
                       ||chr(31)||obj||chr(31)||obj_kind||chr(31)||lang
                       ||chr(31)||dtype), i, 1)) - 1 AS BIGINT)),
       (a,b) -> a*16+b)) % 2147483647 AS hv
  FROM st
)
SELECT 'verify-run' AS run_id, 'extract' AS stage,
       CAST(shard AS INT) AS partition_id,
       COUNT(*) AS input_rows, COUNT(*) AS output_rows,
       CAST(0 AS BIGINT) AS error_rows,
       printf('%016x', CAST(SUM(hv) AS BIGINT)) AS checksum,
       CAST(0 AS BIGINT) AS wall_ms
FROM h GROUP BY shard
UNION ALL
-- the stage-summary row (partition_id = -1): global totals, present
-- even when a stage emits zero rows so resume sees stage completion
SELECT 'verify-run', 'extract', -1, COUNT(*), COUNT(*),
       CAST(0 AS BIGINT),
       printf('%016x', CAST(SUM(hv) AS BIGINT)), CAST(0 AS BIGINT)
FROM h
"""


ORACLES["lineage"] = _lineage_oracle()


def q_lineage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-checked lineage audit: per-shard row counts and an
    order-insensitive checksum over DETERMINISTIC shards (conv hash
    buckets) with the SQL-replicable md5 fold — the external gate
    recomputes the ledger exactly, which is what makes the
    checkpoint-resume bookkeeping auditable. (The `lineage` query keeps
    the physical-partition variant; its ids depend on the plan, hence
    rows-only.)"""
    from .operators.dedup import md5_hash60

    st = _corpus(spark, sf_dir, fmt="ntriples")
    shard = F.pmod(
        F.regexp_extract("conv_id", r"(\d+)", 1).cast("long"), F.lit(8)
    )
    row_h = F.pmod(
        md5_hash60(
            F.concat_ws(
                "\x1f", "conv_id", F.col("turn_idx").cast("string"),
                "subj", "pred", "obj", "obj_kind",
                F.coalesce("lang", F.lit("")), F.coalesce("dtype", F.lit("")),
            )
        ),
        F.lit((1 << 31) - 1),
    )
    return (
        st.select(shard.alias("shard"), row_h.alias("h"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("output_rows"),
            F.sum("h").cast("long").alias("checksum"),
        )
    )


ORACLES["lineage_exact"] = _SEED + r"""
, st AS (
  SELECT did, tix, 'urn:e:'||did AS subj, 'urn:p:name' AS pred,
         CASE WHEN did%10=0 THEN 'Entity "'||did||'"'||chr(10)
              ELSE 'Entity '||did END AS obj, 'literal' AS obj_kind,
         '' AS lang, '' AS dtype FROM t
  UNION ALL
  SELECT did, tix, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
         'iri', '', '' FROM t
  UNION ALL
  SELECT did, tix, 'urn:e:'||did, 'urn:p:score', (did%100)||'.5',
         'literal', '', 'http://www.w3.org/2001/XMLSchema#decimal' FROM t
  UNION ALL
  SELECT did, tix, '_:bc'||did||'_'||tix||'_n0', 'urn:p:label',
         'turn '||tix, 'literal', 'en', '' FROM t
), h AS (
  SELECT did % 8 AS shard,
    (list_reduce(list_transform(range(1,16), i ->
       CAST(strpos('0123456789abcdef',
            substr(md5('c'||did||chr(31)||tix||chr(31)||subj||chr(31)||pred
                       ||chr(31)||obj||chr(31)||obj_kind||chr(31)||lang
                       ||chr(31)||dtype), i, 1)) - 1 AS BIGINT)),
       (a,b) -> a*16+b)) % 2147483647 AS hv
  FROM st
)
SELECT shard, COUNT(*) AS output_rows, CAST(SUM(hv) AS BIGINT) AS checksum
FROM h GROUP BY shard
"""


def q_vocab_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary expansion: statements joined against a broadcast
    owl/rdfs synonym closure (reference J1)."""
    from .operators.vocab import expand_statements

    # expand_statements references the statements three times (original +
    # pred/obj synonym joins) — checkpoint so extraction runs once
    # (localCheckpoint, not persist: persist leaves the Python subtree
    # in every InMemoryRelation branch of the plan; the checkpoint
    # collapses them to one Scan ExistingRDD, which the registry
    # recompute audit can verify)
    st = _corpus(spark, sf_dir, fmt="ntriples").localCheckpoint(eager=False)
    # deterministic synthetic vocabulary: urn:p:knows ≡ urn:p:acquaintedWith,
    # urn:p:name ⊑ urn:p:label2
    vocab = spark.createDataFrame(
        [
            ("urn:p:knows", "http://www.w3.org/2002/07/owl#equivalentProperty",
             "urn:p:acquaintedWith"),
            ("urn:p:name", "http://www.w3.org/2000/01/rdf-schema#subPropertyOf",
             "urn:p:label2"),
        ],
        ["subj", "pred", "obj"],
    )
    out = expand_statements(st, vocab)
    return out.select(
        "conv_id", "turn_idx", "subj", "pred", "obj", "obj_kind", "lang", "dtype"
    )


ORACLES["vocab_expand"] = _SEED + """
, base_rows AS (
  SELECT 'c'||did AS conv_id, tix AS turn_idx, 'urn:e:'||did AS subj,
         'urn:p:name' AS pred,
         CASE WHEN did%10=0 THEN 'Entity "'||did||'"'||chr(10)
              ELSE 'Entity '||did END AS obj,
         'literal' AS obj_kind, CAST(NULL AS VARCHAR) AS lang,
         CAST(NULL AS VARCHAR) AS dtype FROM t
  UNION ALL
  SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
         'iri', NULL, NULL FROM t
  UNION ALL
  SELECT 'c'||did, tix, 'urn:e:'||did, 'urn:p:score', (did%100)||'.5',
         'literal', NULL, 'http://www.w3.org/2001/XMLSchema#decimal' FROM t
  UNION ALL
  SELECT 'c'||did, tix, '_:bc'||did||'_'||tix||'_n0', 'urn:p:label',
         'turn '||tix, 'literal', 'en', NULL FROM t
)
SELECT * FROM base_rows
UNION ALL
SELECT conv_id, turn_idx, subj, 'urn:p:acquaintedWith', obj, obj_kind,
       lang, dtype FROM base_rows WHERE pred = 'urn:p:knows'
UNION ALL
SELECT conv_id, turn_idx, subj, 'urn:p:label2', obj, obj_kind, lang,
       dtype FROM base_rows WHERE pred = 'urn:p:name'
"""


def q_kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _kg_edges(spark, sf_dir)


ORACLES["kg_edges"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents)
SELECT 'urn:e:'||did AS src, 'urn:p:knows' AS pred, 'urn:e:'||(did+1) AS dst FROM ids
UNION
SELECT 'urn:e:'||did, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
       'urn:t:Thing' FROM ids WHERE did % 5 <> 1
UNION
SELECT 'urn:e:'||did, 'http://purl.org/dc/terms/relation', 'urn:e:'||(did+1)
FROM ids WHERE did % 5 <> 4
"""


# the kg_edges closed form, reused by the graph-query oracles
_KG_EDGES_SQL = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
edges AS (
  SELECT 'urn:e:'||did AS src, 'urn:p:knows' AS pred, 'urn:e:'||(did+1) AS dst
  FROM ids
  UNION
  SELECT 'urn:e:'||did, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'urn:t:Thing' FROM ids WHERE did % 5 <> 1
  UNION
  SELECT 'urn:e:'||did, 'http://purl.org/dc/terms/relation', 'urn:e:'||(did+1)
  FROM ids WHERE did % 5 <> 4
)"""


def q_kg_bgp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL-style BGP over the materialized KG: a 2-hop knows chain
    with a typed head and a relation tail, compiled to a Catalyst join
    tree (operators/bgp.py)."""
    from .operators.bgp import match_bgp

    edges = _kg_edges(spark, sf_dir)
    return match_bgp(
        edges,
        [
            ("?a", "urn:p:knows", "?b"),
            ("?b", "urn:p:knows", "?c"),
            ("?a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "urn:t:Thing"),
            ("?c", "http://purl.org/dc/terms/relation", "?d"),
        ],
    )


ORACLES["kg_bgp"] = _KG_EDGES_SQL + """
SELECT k1.src AS a, k1.dst AS b, k2.dst AS c, r.dst AS d
FROM edges k1
JOIN edges k2 ON k2.src = k1.dst AND k2.pred = 'urn:p:knows'
JOIN edges ty ON ty.src = k1.src
             AND ty.pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
             AND ty.dst = 'urn:t:Thing'
JOIN edges r ON r.src = k2.dst
            AND r.pred = 'http://purl.org/dc/terms/relation'
WHERE k1.pred = 'urn:p:knows'
"""


def q_kg_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (5 rounds, 0.85 damping) over the KG edge
    set; integer micro-unit ranks are bit-exact at any parallelism, so
    the unrolled SQL oracle reproduces them digit-for-digit."""
    from .operators.graph import pagerank

    edges = _kg_edges(spark, sf_dir)
    return pagerank(edges, iterations=5)


def _pagerank_oracle(iters: int = 5) -> str:
    sql = _KG_EDGES_SQL + """,
uedges AS (SELECT DISTINCT src, dst FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM uedges
          UNION SELECT DISTINCT dst FROM uedges),
outdeg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
           FROM uedges GROUP BY src),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
r0 AS (SELECT node, CAST(1000000000000 // (SELECT n FROM nn) AS BIGINT)
               AS rank_fp FROM nodes)"""
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        sql += f""",
d{i} AS (SELECT CAST(COALESCE(SUM(r.rank_fp), 0) AS BIGINT) AS dm
         FROM {p} r LEFT JOIN outdeg o USING (node) WHERE o.node IS NULL),
c{i} AS (SELECT e.dst AS node, SUM(r.rank_fp // o.outdeg) AS contrib
         FROM uedges e JOIN {p} r ON e.src = r.node
                       JOIN outdeg o ON e.src = o.node
         GROUP BY e.dst),
r{i} AS (SELECT n.node,
           CAST((150000000000 // (SELECT n FROM nn))
                + (85 * (COALESCE(c.contrib, 0)
                         + (SELECT dm FROM d{i}) // (SELECT n FROM nn))) // 100
                AS BIGINT) AS rank_fp
         FROM nodes n LEFT JOIN c{i} c USING (node))"""
    return sql + f"\nSELECT node, rank_fp FROM r{iters}"


ORACLES["kg_pagerank"] = _pagerank_oracle()


def q_kg_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities (2 mutual-reinforcement rounds) over the
    KG edge set in unnormalized BIGINT arithmetic — bit-exact at any
    parallelism, digit-for-digit mirrored by the unrolled SQL oracle
    (graph.hits; same integer discipline as kg_pagerank). The type-hub
    'urn:t:Thing' dominates authority while chain nodes split hub mass,
    so the scores are non-trivial."""
    from .operators.graph import hits

    edges = _kg_edges(spark, sf_dir)
    return hits(edges, iterations=2)


ORACLES["kg_hits"] = _KG_EDGES_SQL + """,
ue AS (SELECT DISTINCT src, dst FROM edges),
nodes AS (SELECT src AS node FROM ue UNION SELECT dst FROM ue),
a1 AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS auth
       FROM ue GROUP BY dst),
h1 AS (SELECT ue.src AS node, CAST(SUM(a1.auth) AS BIGINT) AS hub
       FROM ue JOIN a1 ON a1.node = ue.dst GROUP BY ue.src),
a2 AS (SELECT ue.dst AS node, CAST(SUM(h1.hub) AS BIGINT) AS auth
       FROM ue JOIN h1 ON h1.node = ue.src GROUP BY ue.dst),
h2 AS (SELECT ue.src AS node, CAST(SUM(a2.auth) AS BIGINT) AS hub
       FROM ue JOIN a2 ON a2.node = ue.dst GROUP BY ue.src)
SELECT n.node, COALESCE(a2.auth, 0) AS auth, COALESCE(h2.hub, 0) AS hub
FROM nodes n
LEFT JOIN a2 ON a2.node = n.node
LEFT JOIN h2 ON h2.node = n.node
"""


def q_kg_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core after 3 peeling rounds over the undirected KG
    (graph.kcore): the knows/relation chain erodes one degree-1 layer
    from each end per round while the type-hub star collapses, so the
    output exercises both monotone shrinkage and the fixed-round
    over-approximation contract. Integer degrees only — deterministic
    at any parallelism; the oracle unrolls the same 3 rounds."""
    from .operators.graph import kcore

    edges = _kg_edges(spark, sf_dir)
    return kcore(edges, k=2, rounds=3)


ORACLES["kg_kcore"] = _KG_EDGES_SQL + """,
ue0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
d1 AS (SELECT node, COUNT(*) AS deg FROM
       (SELECT a AS node FROM ue0 UNION ALL SELECT b FROM ue0)
       GROUP BY node),
k1 AS (SELECT node FROM d1 WHERE deg >= 2),
ue1 AS (SELECT ue0.a, ue0.b FROM ue0
        JOIN k1 x ON x.node = ue0.a JOIN k1 y ON y.node = ue0.b),
d2 AS (SELECT node, COUNT(*) AS deg FROM
       (SELECT a AS node FROM ue1 UNION ALL SELECT b FROM ue1)
       GROUP BY node),
k2 AS (SELECT node FROM d2 WHERE deg >= 2),
ue2 AS (SELECT ue1.a, ue1.b FROM ue1
        JOIN k2 x ON x.node = ue1.a JOIN k2 y ON y.node = ue1.b),
d3 AS (SELECT node, COUNT(*) AS deg FROM
       (SELECT a AS node FROM ue2 UNION ALL SELECT b FROM ue2)
       GROUP BY node),
k3 AS (SELECT node FROM d3 WHERE deg >= 2),
ue3 AS (SELECT ue2.a, ue2.b FROM ue2
        JOIN k3 x ON x.node = ue2.a JOIN k3 y ON y.node = ue2.b)
SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM
(SELECT a AS node FROM ue3 UNION ALL SELECT b FROM ue3)
GROUP BY node
"""


def q_kg_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the undirected KG (the 'urn:t:Thing'
    type hub closes a triangle with every knows pair, so the counts are
    non-trivial AND exercise the degree-ordered orientation's hub
    handling — the hub never fans out its wedges)."""
    from .operators.graph import triangle_counts

    edges = _kg_edges(spark, sf_dir)
    return triangle_counts(edges)


ORACLES["kg_triangles"] = _KG_EDGES_SQL + """,
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        FROM und e1
        JOIN und e2 ON e2.a = e1.b
        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
) GROUP BY node
"""


def q_kg_bgp_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER over a BGP: knows pairs whose source id is even
    and below the corpus midpoint — the string predicates compile to
    Catalyst filters pushed into the pattern scans."""
    from .operators.bgp import match_bgp_filter

    edges = _kg_edges(spark, sf_dir)
    return match_bgp_filter(
        edges,
        [("?a", "urn:p:knows", "?b")],
        [
            "cast(substring(a, 7) as bigint) % 2 = 0",
            "a < b",
        ],
    )


ORACLES["kg_bgp_filter"] = _KG_EDGES_SQL + """
SELECT src AS a, dst AS b FROM edges
WHERE pred = 'urn:p:knows'
  AND CAST(substring(src, 7) AS BIGINT) % 2 = 0
  AND src < dst
"""


def q_kg_node_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard between KG node pairs sharing a low-degree
    neighbor (operators/graph.node_jaccard) — the alias-candidate
    generator; the 'urn:t:Thing' hub is excluded as a wedge pivot by
    the degree guard but still counts toward each node's degree."""
    from .operators.graph import node_jaccard

    edges = _kg_edges(spark, sf_dir)
    return node_jaccard(edges, max_nbr_degree=64, min_permille=1)


ORACLES["kg_node_sim"] = _KG_EDGES_SQL + """,
und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM edges WHERE src <> dst),
adj AS (SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
wadj AS (SELECT adj.node, adj.nbr FROM adj
         JOIN deg d ON d.node = adj.nbr AND d.deg <= 64),
pairs AS (SELECT w1.node AS x, w2.node AS y, CAST(COUNT(*) AS BIGINT) AS inter
          FROM wadj w1 JOIN wadj w2 ON w1.nbr = w2.nbr AND w1.node < w2.node
          GROUP BY 1, 2)
SELECT p.x, p.y, p.inter, dx.deg AS deg_x, dy.deg AS deg_y,
  CAST((p.inter * 1000) // (dx.deg + dy.deg - p.inter) AS BIGINT)
    AS jaccard_permille
FROM pairs p
JOIN deg dx ON dx.node = p.x
JOIN deg dy ON dy.node = p.y
WHERE (p.inter * 1000) // (dx.deg + dy.deg - p.inter) >= 1
"""


def q_kg_bgp_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL OPTIONAL over the KG: every knows pair, optionally
    extended with the target's relation edge — rows where the optional
    does not match keep NULL in d (left-join semantics)."""
    from .operators.bgp import match_bgp_optional

    edges = _kg_edges(spark, sf_dir)
    return match_bgp_optional(
        edges,
        [("?a", "urn:p:knows", "?b")],
        [[("?b", "http://purl.org/dc/terms/relation", "?d")]],
    )


ORACLES["kg_bgp_optional"] = _KG_EDGES_SQL + """
SELECT k.src AS a, k.dst AS b, r.dst AS d
FROM edges k
LEFT JOIN edges r ON r.src = k.dst
                 AND r.pred = 'http://purl.org/dc/terms/relation'
WHERE k.pred = 'urn:p:knows'
"""


def q_kg_bgp_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL UNION over the KG: knows pairs unioned with typed
    relation pairs; the second branch binds an extra ?t that comes back
    NULL for the first branch (bag semantics, no dedup)."""
    from .operators.bgp import match_bgp_union

    edges = _kg_edges(spark, sf_dir)
    return match_bgp_union(
        edges,
        [
            [("?x", "urn:p:knows", "?y")],
            [
                ("?x", "http://purl.org/dc/terms/relation", "?y"),
                ("?x", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "?t"),
            ],
        ],
    )


ORACLES["kg_bgp_union"] = _KG_EDGES_SQL + """
SELECT src AS x, dst AS y, CAST(NULL AS VARCHAR) AS t
FROM edges WHERE pred = 'urn:p:knows'
UNION ALL
SELECT r.src, r.dst, ty.dst
FROM edges r
JOIN edges ty ON ty.src = r.src
             AND ty.pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
WHERE r.pred = 'http://purl.org/dc/terms/relation'
"""


def q_kg_bgp_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP BY over a BGP: what do knows-targets do, per
    predicate — the join tree feeds one map-side-partial hash
    aggregation keyed by the (3-value) predicate variable."""
    from .operators.bgp import match_bgp_agg

    edges = _kg_edges(spark, sf_dir)
    return match_bgp_agg(
        edges,
        [("?a", "urn:p:knows", "?b"), ("?b", "?p", "?c")],
        ["p"],
        {"n": "count(*)", "n_targets": "count(distinct b)"},
    )


ORACLES["kg_bgp_agg"] = _KG_EDGES_SQL + """
SELECT e2.pred AS p, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT e1.dst) AS BIGINT) AS n_targets
FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
WHERE e1.pred = 'urn:p:knows'
GROUP BY e2.pred
"""


def q_kg_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT: derive a new graph from 2-hop knows chains —
    forward 'acquainted' edges, their inverses, and a type assertion on
    the head; one BGP join tree fanned through a shuffle-free Union,
    one distinct (the output graph's set semantics)."""
    from .operators.bgp import construct

    edges = _kg_edges(spark, sf_dir)
    return construct(
        edges,
        [("?a", "urn:p:knows", "?b"), ("?b", "urn:p:knows", "?c")],
        [
            ("?a", "urn:p:acquainted", "?c"),
            ("?c", "urn:p:acquaintedBy", "?a"),
            ("?a", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
             "urn:t:Connector"),
        ],
    )


ORACLES["kg_construct"] = _KG_EDGES_SQL + """,
hops AS (
  SELECT e1.src AS a, e2.dst AS c
  FROM edges e1 JOIN edges e2
    ON e2.src = e1.dst AND e2.pred = 'urn:p:knows'
  WHERE e1.pred = 'urn:p:knows'
)
SELECT DISTINCT src, pred, dst FROM (
  SELECT a AS src, 'urn:p:acquainted' AS pred, c AS dst FROM hops
  UNION ALL
  SELECT c, 'urn:p:acquaintedBy', a FROM hops
  UNION ALL
  SELECT a, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'urn:t:Connector' FROM hops
)
"""


def q_stream_kg_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest → per-micro-batch KG merge (§2.11 + north_rule
    incremental pipeline): the mixed corpus is drained through
    foreachBatch with batch-partitioned idempotent staging writes; the
    resulting distinct edge set must equal the batch kg_edges oracle
    exactly — streaming and batch agree."""
    import tempfile

    from .streaming.stream_kg import kg_edges_view, stream_to_kg

    base = tempfile.mkdtemp(prefix="semargl_q_streamkg_")
    t = synth_transcripts(spark, sf_dir)
    # several files so maxFilesPerTrigger yields multiple micro-batches
    t.repartition(8, "conv_id").write.mode("overwrite").parquet(f"{base}/in")
    q = stream_to_kg(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
    _drain(spark, q, "stream_kg_edges")
    return kg_edges_view(spark, f"{base}/out")


ORACLES["stream_kg_edges"] = ORACLES["kg_edges"]


def q_render_ntriples(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    st = extract_statements(t)
    return render_ntriples(st)


_BS = "chr(92)"  # backslash
ORACLES["render_ntriples"] = _SEED + f"""
SELECT '<urn:e:'||did||'> <urn:p:name> "'||
       CASE WHEN did%10=0
            THEN 'Entity '||{_BS}||'"'||did||{_BS}||'"'||{_BS}||'n'
            ELSE 'Entity '||did END||'" .' AS line FROM t
UNION ALL
SELECT '<urn:e:'||did||'> <urn:p:knows> <urn:e:'||(did+1)||'> .' FROM t
UNION ALL
SELECT '<urn:e:'||did||'> <urn:p:score> "'||(did%100)||
       '.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .' FROM t
UNION ALL
SELECT '_:bc'||did||'_'||tix||'_n0 <urn:p:label> "turn '||tix||'"@en .' FROM t
"""


def q_render_turtle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle rendering (reference W3, TurtleSerializer.java:32-238):
    same-subject ';' grouping, multiline literals as triple-quoted
    strings, @prefix header. The oracle rebuilds the exact document text
    byte-for-byte from the closed-form synthetic corpus."""
    from .operators.serialize_ops import render_turtle_docs

    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    return render_turtle_docs(t, fmt="ntriples")


_NL = "chr(10)"
_TQ = '"' * 3  # Turtle triple-quote, kept out of the f-string delimiter
ORACLES["render_turtle"] = _SEED + f"""
SELECT 'c'||did AS conv_id, tix AS turn_idx,
  '@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .'||{_NL}||{_NL}
  ||'<urn:e:'||did||'> <urn:p:name> '
  ||CASE WHEN did%10=0
         THEN '{_TQ}Entity '||chr(92)||'"'||did||chr(92)||'"'||{_NL}||'{_TQ}'
         ELSE '"Entity '||did||'"' END||' ;'||{_NL}
  ||'    <urn:p:knows> <urn:e:'||(did+1)||'> ;'||{_NL}
  ||'    <urn:p:score> "'||(did%100)||'.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .'||{_NL}
  ||'_:bc'||did||'_'||tix||'_n0 <urn:p:label> "turn '||tix||'"@en .'||{_NL}
  AS turtle
FROM t
"""


def q_render_turtle_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turtle shortenable-bnode inlining (reference W3,
    TurtleSerializer.java:170-176,221-236 + RDF.java:26): the RDFa
    @role element without @id yields a generated never-named bnode
    (createBnode(true), RdfaParser.java:352) which the serializer
    inlines as ``[...]`` instead of a label. Oracle rebuilds the exact
    document text byte-for-byte, inlined bracket included."""
    from .operators.serialize_ops import render_turtle_docs

    t = synth_transcripts(spark, sf_dir, fmt="rdfa_role")
    return render_turtle_docs(t, fmt="rdfa")


_XV = "http://www.w3.org/1999/xhtml/vocab#"
ORACLES["render_turtle_inline"] = _SEED + f"""
SELECT 'c'||did AS conv_id, tix AS turn_idx,
  '@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .'||{_NL}||{_NL}
  ||'<urn:e:'||did||'> <http://purl.org/dc/terms/title> "Turn '||tix||'" ;'||{_NL}
  ||'    <http://purl.org/dc/terms/relation> <urn:e:'||(did+1)||'> .'||{_NL}
  ||'[ <{_XV}role> <{_XV}note> ] .'||{_NL}
  AS turtle
FROM t
"""


def q_model_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed model set-difference (§2.9, SesameTestHelper.diff):
    turn 0 vs turn 1 of every conversation, compared as statement sets
    with canonical (per-document) bnode labels. The only difference is
    the bnode's label literal — exactly two rows per conversation."""
    from .operators.setops import model_diff

    # localCheckpoint instead of persist: both sides of the diff read
    # the statements twice, and the checkpointed RDD is reclaimed by the
    # ContextCleaner once the result is dropped (a plain persist would
    # pin executor storage for the session)
    st = _corpus(spark, sf_dir, fmt="ntriples").localCheckpoint(eager=False)
    a = st.filter(F.col("turn_idx") == 0)
    b = st.filter(F.col("turn_idx") == 1)
    return model_diff(a, b, keys=["conv_id"])


ORACLES["model_diff"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents)
SELECT 'c'||did AS conv_id, '_:n0' AS subj, 'urn:p:label' AS pred,
       'turn 0' AS obj, 'literal' AS obj_kind, 'en' AS lang,
       CAST(NULL AS VARCHAR) AS dtype, CAST(NULL AS VARCHAR) AS graph,
       'a' AS side
FROM ids
UNION ALL
SELECT 'c'||did, '_:n0', 'urn:p:label', 'turn 1', 'literal', 'en',
       NULL, NULL, 'b'
FROM ids
"""


def q_render_nquads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NQuads rendering (reference W2, NQuadsSerializer.java:25-88):
    the graph term appears before the terminating '.' only when the
    statement carries one."""
    t = synth_transcripts(spark, sf_dir, fmt="nquads")
    st = extract_statements(t)
    return render_ntriples(st, quads=True)


ORACLES["render_nquads"] = _SEED + """
SELECT '<urn:e:'||did||'> <urn:p:name> "Entity '||did||'" <urn:g:'
       ||(did%10)||'> .' AS line FROM t
UNION ALL
SELECT '<urn:e:'||did||'> <urn:p:knows> <urn:e:'||(did+1)||'> .' FROM t
UNION ALL
SELECT '_:bc'||did||'_'||tix||'_n0 <urn:p:label> "g"@en <urn:g:'
       ||(did%10)||'> .' FROM t
"""


def q_conv_reassemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation reassembly (§2.7): turns concatenated in stable
    order into one document per conversation, re-extracted as a single
    parse — author bnode label ``_:a`` now unifies across the four
    turns (one bnode per conversation carrying all four labels),
    which per-turn extraction cannot produce."""
    from .operators.extract import reassemble_conversations

    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    docs = reassemble_conversations(t)
    st = triples(extract_statements(docs, default_fmt="ntriples"))
    return st.select(
        "conv_id", "subj", "pred", "obj", "obj_kind", "lang", "dtype"
    ).distinct()


ORACLES["conv_reassemble"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
lbl AS (SELECT did, tix FROM ids
        CROSS JOIN (SELECT unnest(generate_series(0,3)) AS tix))
SELECT 'c'||did AS conv_id, 'urn:e:'||did AS subj, 'urn:p:name' AS pred,
       CASE WHEN did%10=0 THEN 'Entity "'||did||'"'||chr(10)
            ELSE 'Entity '||did END AS obj,
       'literal' AS obj_kind, CAST(NULL AS VARCHAR) AS lang,
       CAST(NULL AS VARCHAR) AS dtype
FROM ids
UNION ALL
SELECT 'c'||did, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
       'iri', NULL, NULL FROM ids
UNION ALL
SELECT 'c'||did, 'urn:e:'||did, 'urn:p:score', (did%100)||'.5',
       'literal', NULL, 'http://www.w3.org/2001/XMLSchema#decimal' FROM ids
UNION ALL
SELECT 'c'||did, '_:bc'||did||'_0_n0', 'urn:p:label', 'turn '||tix,
       'literal', 'en', NULL FROM lbl
"""


def q_conv_reassemble_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overflow-safe reassembly: same semantics as conv_reassemble but
    through the byte-budgeted chunking path (each conversation splits
    into ~2 parts at this budget). The author bnode ``_:a`` must STILL
    unify across parts — one bnode per conversation carrying all four
    turn labels — via conversation-scoped doc_key + name-keyed
    relabeling; the oracle checks the exact unified label."""
    from .operators.extract import reassemble_conversations

    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    docs = reassemble_conversations(t, max_bytes=256)
    st = triples(extract_statements(docs, default_fmt="ntriples"))
    return st.select(
        "conv_id", "subj", "pred", "obj", "obj_kind", "lang", "dtype"
    ).distinct()


ORACLES["conv_reassemble_chunked"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
lbl AS (SELECT did, tix FROM ids
        CROSS JOIN (SELECT unnest(generate_series(0,3)) AS tix))
SELECT 'c'||did AS conv_id, 'urn:e:'||did AS subj, 'urn:p:name' AS pred,
       CASE WHEN did%10=0 THEN 'Entity "'||did||'"'||chr(10)
            ELSE 'Entity '||did END AS obj,
       'literal' AS obj_kind, CAST(NULL AS VARCHAR) AS lang,
       CAST(NULL AS VARCHAR) AS dtype
FROM ids
UNION ALL
SELECT 'c'||did, 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1),
       'iri', NULL, NULL FROM ids
UNION ALL
SELECT 'c'||did, 'urn:e:'||did, 'urn:p:score', (did%100)||'.5',
       'literal', NULL, 'http://www.w3.org/2001/XMLSchema#decimal' FROM ids
UNION ALL
SELECT 'c'||did, '_:bc'||did||'_xa', 'urn:p:label', 'turn '||tix,
       'literal', 'en', NULL FROM lbl
"""


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit skew handling (north_rule): two-phase salted aggregation
    over the statement predicates — four groups holding 8k rows is the
    pathological all-hot-keys case; phase 1 shuffles uniformly on
    (pred, salt), phase 2 merges 16 rows per key. The result is
    salt-invariant, so the oracle is the plain aggregate."""
    from .operators.skew import salted_agg

    st = _corpus(spark, sf_dir, fmt="ntriples")
    out = salted_agg(
        st.select("pred", "subj"),
        ["pred"],
        {
            "n": F.count(F.lit(1)),
            "min_subj": F.min("subj"),
            "max_subj": F.max("subj"),
        },
    )
    return out.select("pred", F.col("n").cast("long"), "min_subj", "max_subj")


ORACLES["skew_salted_agg"] = _SEED + """
, st AS (
  SELECT 'urn:p:name' AS pred, 'urn:e:'||did AS subj FROM t
  UNION ALL SELECT 'urn:p:knows', 'urn:e:'||did FROM t
  UNION ALL SELECT 'urn:p:score', 'urn:e:'||did FROM t
  UNION ALL SELECT 'urn:p:label', '_:bc'||did||'_'||tix||'_n0' FROM t
)
SELECT pred, COUNT(*) AS n, MIN(subj) AS min_subj, MAX(subj) AS max_subj
FROM st GROUP BY pred
"""


# ---------------------------------------------------------------- dedup


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"),
        F.col("keep_id").cast("long"),
        "is_duplicate",
    )


ORACLES["dedup_exact"] = r"""
WITH n AS (SELECT doc_id,
       regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS body FROM documents)
SELECT n.doc_id, k.keep_id, n.doc_id <> k.keep_id AS is_duplicate
FROM n JOIN (SELECT body, MIN(doc_id) AS keep_id FROM n GROUP BY body) k
USING (body)
"""


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard between adjacent documents (deterministic
    candidate set so the oracle can mirror it)."""
    docs = _docs(spark, sf_dir)
    pairs = docs.select(F.col("doc_id").alias("doc_a")).join(
        docs.select(F.col("doc_id").alias("doc_b")),
        F.col("doc_b") == F.col("doc_a") + 1,
    )
    out = dedup.ngram_jaccard_pairs(docs, pairs)
    return out.select(
        F.col("doc_a").cast("long"),
        F.col("doc_b").cast("long"),
        F.round("jaccard", 6).alias("jaccard"),
    )


ORACLES["dedup_ngram_jaccard"] = r"""
WITH t AS (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
sh AS (SELECT doc_id,
        list_distinct(list_transform(generate_series(1, greatest(len(w)-2, 1)),
                                     i -> w[i]||' '||w[i+1]||' '||w[i+2])) AS s
      FROM t)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       round(len(list_intersect(a.s, b.s)) /
             greatest(len(list_distinct(list_concat(a.s, b.s))), 1), 6) AS jaccard
FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs over a corpus with planted duplicates
    (each doc unioned with a lightly-perturbed copy). Uses the
    SQL-replicable md5 hash method so the DuckDB oracle recomputes the
    full shingle→minhash→band→verify pipeline exactly."""
    return dedup.near_dedup_minhash(
        _near_dup_corpus(spark, sf_dir), threshold=0.5, hash_method="md5"
    ).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (md5 hash method → exact oracle)."""
    return dedup.simhash(_docs(spark, sf_dir), hash_method="md5").select(
        F.col("doc_id").cast("long"), "simhash"
    )


def _h60(expr: str) -> str:
    """DuckDB SQL for the 60-bit md5 hash (mirrors dedup.md5_hash60):
    fold the top 15 hex digits of md5 into a BIGINT."""
    return (
        "list_reduce(list_transform(range(1,16), i -> "
        f"CAST(strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1 "
        "AS BIGINT)), (a,b) -> a*16+b)"
    )


_NORM_W = r"string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')"

ORACLES["simhash"] = rf"""
WITH t AS (SELECT doc_id, {_NORM_W} AS w FROM documents),
tok AS (SELECT doc_id, unnest(w) AS tok FROM t),
h AS (SELECT doc_id, {_h60('tok')} AS h FROM tok),
bits AS (SELECT doc_id, b,
         CAST(SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v
         FROM h CROSS JOIN (SELECT unnest(range(0,60)) AS b) GROUP BY doc_id, b)
SELECT doc_id,
       CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def _minhash_oracle_body() -> str:
    """Shared oracle scaffold: planted-dup corpus → shingles → minhash
    signatures → banded candidates → verified Jaccard pairs (CTE ``j``).
    ``dedup_minhash`` selects the pairs; ``dedup_survivors`` closes them
    transitively and anti-joins. WITH RECURSIVE so consumers may append
    recursive CTEs."""
    from .operators.dedup import _MH_A, _MH_B, _MH_P

    sig_cols = ", ".join(
        f"MIN(({_MH_A[j]} * b + {_MH_B[j]}) % {_MH_P}) AS m{j}"
        for j in range(16)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, "
        f"array_to_string([m{4*b}, m{4*b+1}, m{4*b+2}, m{4*b+3}], ',') AS key "
        "FROM sig"
        for b in range(4)
    )
    return rf"""
WITH RECURSIVE corpus AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + 1000000, text || ' tail' FROM documents),
t AS (SELECT doc_id, {_NORM_W} AS w FROM corpus),
sh AS (SELECT doc_id,
       list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w[1:3], ' ')]
            ELSE list_transform(range(1, len(w)-1),
                                i -> w[i]||' '||w[i+1]||' '||w[i+2]) END) AS s
       FROM t),
shx AS (SELECT doc_id, unnest(s) AS x FROM sh),
hh AS (SELECT doc_id, ({_h60('x')}) % {_MH_P} AS b FROM shx),
sig AS (SELECT doc_id, {sig_cols} FROM hh GROUP BY doc_id),
banded AS (
{bands}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
j AS (SELECT doc_a, doc_b,
      len(list_intersect(x.s, y.s)) /
          greatest(len(list_distinct(list_concat(x.s, y.s))), 1) AS jac
      FROM cand
      JOIN sh x ON x.doc_id = cand.doc_a
      JOIN sh y ON y.doc_id = cand.doc_b)
"""


ORACLES["dedup_minhash"] = _minhash_oracle_body() + """
SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5
"""


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup: LSH candidates → Jaccard verify → connected
    components over the duplicate graph → keep the min-id member per
    cluster → surviving corpus. The oracle recomputes the whole chain,
    closing the pair graph with a recursive CTE."""
    corpus = _near_dup_corpus(spark, sf_dir)
    pairs = dedup.near_dedup_minhash(corpus, threshold=0.5, hash_method="md5")
    return dedup.survivors(corpus, pairs).select(F.col("doc_id").cast("long"))


ORACLES["dedup_survivors"] = _minhash_oracle_body() + """
, pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach AS (SELECT s, d FROM und
          UNION
          SELECT r.s, u.d FROM reach r JOIN und u ON u.s = r.d),
dropped AS (SELECT s AS doc_id FROM reach GROUP BY s HAVING min(d) < s)
SELECT c.doc_id FROM corpus c
LEFT JOIN dropped dr ON c.doc_id = dr.doc_id
WHERE dr.doc_id IS NULL
"""


def q_dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection (dedup.survivors_by_score): the
    same LSH → Jaccard → connected-components chain as dedup_survivors,
    but each cluster keeps its HIGHEST-scoring member (score = text
    length here, so the planted ' tail' copies beat their originals) —
    the curation policy that keeps the best copy instead of the
    first-seen one. The survivor set is therefore the exact complement
    of the min-id gate's on every planted pair, which is what makes the
    two gates jointly discriminating."""
    corpus = _near_dup_corpus(spark, sf_dir).withColumn(
        "score", F.length("text").cast("long")
    )
    pairs = dedup.near_dedup_minhash(
        corpus.select("doc_id", "text"), threshold=0.5, hash_method="md5"
    )
    return dedup.survivors_by_score(corpus, pairs, "score").select(
        F.col("doc_id").cast("long")
    )


ORACLES["dedup_survivors_quality"] = _minhash_oracle_body() + """
, pairs AS (SELECT doc_a, doc_b FROM j WHERE jac >= 0.5),
und AS (SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach AS (SELECT s, d FROM und
          UNION
          SELECT r.s, u.d FROM reach r JOIN und u ON u.s = r.d),
compm AS (SELECT s AS doc_id, least(min(d), s) AS comp
          FROM reach GROUP BY s),
members AS (SELECT c.doc_id, cm.comp, len(c.text) AS score
            FROM corpus c JOIN compm cm ON cm.doc_id = c.doc_id),
keep AS (SELECT doc_id FROM (
           SELECT doc_id, ROW_NUMBER() OVER (
             PARTITION BY comp ORDER BY score DESC, doc_id ASC) AS rk
           FROM members) WHERE rk = 1)
SELECT c.doc_id FROM corpus c
LEFT JOIN compm cm ON cm.doc_id = c.doc_id
WHERE cm.doc_id IS NULL
UNION ALL
SELECT doc_id FROM keep
"""


# ---------------------------------------------------------------- similarity


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # double precision end-to-end so the DuckDB oracle's arithmetic matches
    emb = _vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.brute_force_topk(emb, queries, k=5).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine",
    )


ORACLES["ann_topk"] = """
WITH q AS (SELECT * FROM embeddings WHERE vec_id % 25 = 0),
scored AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS c
  FROM q, embeddings e WHERE e.vec_id <> q.vec_id),
ranked AS (SELECT query_id, neighbor_id, c,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY c DESC, neighbor_id DESC) AS rn
           FROM scored)
SELECT query_id, neighbor_id, round(c, 6) AS cosine FROM ranked WHERE rn <= 5
"""


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (scale path): deterministic coarse quantizer →
    narrow cell assignment → nprobe probing → top-k within probed
    cells. Exact DuckDB oracle mirrors the quantizer and tie-breaks."""
    emb = _vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.ivf_topk(
        emb, queries, k=5, nprobe=2, centroid_every=50
    ).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine",
    )


ORACLES["ann_ivf"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id % 50 = 0),
asg AS (SELECT nid, nvec, cid AS cell FROM (
    SELECT e.vec_id AS nid, e.v AS nvec, c.cid,
           list_cosine_similarity(e.v, c.cvec) AS cos,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.v, c.cvec) DESC,
                                       c.cid DESC) AS rn
    FROM e, c) WHERE rn = 1),
q AS (SELECT vec_id AS qid, v AS qvec FROM e WHERE vec_id % 25 = 0),
probes AS (SELECT qid, qvec, cid AS cell FROM (
    SELECT q.qid, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.qid
                              ORDER BY list_cosine_similarity(q.qvec, c.cvec) DESC,
                                       c.cid DESC) AS rn
    FROM q, c) WHERE rn <= 2),
cand AS (SELECT p.qid, a.nid, list_cosine_similarity(p.qvec, a.nvec) AS cos
         FROM probes p JOIN asg a ON a.cell = p.cell WHERE a.nid <> p.qid),
ranked AS (SELECT qid, nid, cos,
           row_number() OVER (PARTITION BY qid
                              ORDER BY cos DESC, nid DESC) AS rn FROM cand)
SELECT qid AS query_id, nid AS neighbor_id, round(cos, 6) AS cosine
FROM ranked WHERE rn <= 5
"""


def q_ann_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-truth ANN recall — the methodology that scales (r4
    verdict item 5): exact ground truth is computed ONLY for a
    deterministic ~5% query sample (vec_id % 20 == 1 → ~100 queries at
    sf0.1), so the exact side is a broadcast of the sample against the
    corpus (|sample|×N bounded work, no N×N cross join); the IVF path
    answers the same queries and per-query recall@10 is reported. At
    10^12 vectors this sampled evaluation is the ONLY affordable recall
    monitor — the gate pins its bit-exact replayability (quantizer,
    probes, tie-breaks) rather than a recall threshold."""
    emb = _vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 20 == 1)
    truth = similarity.brute_force_topk(emb, queries, k=10).select(
        "query_id", "neighbor_id"
    )
    ann = similarity.ivf_topk(
        emb, queries, k=10, nprobe=2, centroid_every=50
    ).select("query_id", "neighbor_id")
    hits = truth.join(ann, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count("*").cast("int").alias("hits"))
    base = queries.select(F.col("vec_id").cast("long").alias("query_id"))
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce("hits", F.lit(0)).alias("hits"),
        F.lit(10).alias("k"),
        F.expr(
            "CAST(1000 AS BIGINT) * coalesce(hits, 0) div 10"
        ).alias("recall_pm"),
    )


ORACLES["ann_recall_sampled"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qvec FROM e WHERE vec_id % 20 = 1),
truth AS (SELECT qid, nid FROM (
    SELECT q.qid, e.vec_id AS nid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY list_cosine_similarity(q.qvec, e.v) DESC,
                      e.vec_id DESC) AS rn
    FROM q, e WHERE e.vec_id <> q.qid) WHERE rn <= 10),
c AS (SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id % 50 = 0),
asg AS (SELECT nid, nvec, cid AS cell FROM (
    SELECT e.vec_id AS nid, e.v AS nvec, c.cid,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cvec) DESC,
                      c.cid DESC) AS rn
    FROM e, c) WHERE rn = 1),
probes AS (SELECT qid, qvec, cid AS cell FROM (
    SELECT q.qid, q.qvec, c.cid,
           row_number() OVER (PARTITION BY q.qid
             ORDER BY list_cosine_similarity(q.qvec, c.cvec) DESC,
                      c.cid DESC) AS rn
    FROM q, c) WHERE rn <= 2),
ann AS (SELECT qid, nid FROM (
    SELECT p.qid, a.nid,
           row_number() OVER (PARTITION BY p.qid
             ORDER BY list_cosine_similarity(p.qvec, a.nvec) DESC,
                      a.nid DESC) AS rn
    FROM probes p JOIN asg a ON a.cell = p.cell WHERE a.nid <> p.qid)
    WHERE rn <= 10),
h AS (SELECT t.qid, CAST(COUNT(*) AS INT) AS hits
      FROM truth t JOIN ann USING (qid, nid) GROUP BY t.qid)
SELECT q.qid AS query_id, COALESCE(h.hits, 0) AS hits,
       10 AS k,
       CAST(1000 AS BIGINT) * COALESCE(h.hits, 0) // 10 AS recall_pm
FROM q LEFT JOIN h ON h.qid = q.qid
"""


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH ANN (the mid-tier scale path, operators/
    similarity.py ann_topk): deterministic seeded hyperplanes → 8-bit
    signature buckets → candidate equi-join on the bucket key → top-k.
    The oracle inlines the same hyperplanes as literals and replicates
    the signature with the same left-fold dot product, so bucket
    membership — the approximation itself — is value-checked, not just
    the final cosines."""
    emb = _vectors(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.ann_topk(emb, queries, dim=64, k=5, n_planes=8).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "cosine",
    )


# The hyperplane-LSH oracle prefix (planes, e, b CTEs) mirroring
# similarity.lsh_bucket: bit i set iff dot(v, plane_i) >= 0, where the
# dot is the same left fold Spark's F.aggregate performs (0.0+p1==p1,
# so list_reduce's first-element start is bit-identical). The planes
# are the seeded hyperplanes inlined as literals.
_LSH_PLANE_ROWS = ",\n".join(
    f"  ({i}, [{', '.join(repr(x) for x in p)}]::DOUBLE[])"
    for i, p in enumerate(similarity._hyperplanes(64, 8, seed=42))
)
_LSH_BUCKETS_SQL = f"""planes(pid, p) AS (VALUES
{_LSH_PLANE_ROWS}),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT e.vec_id,
        CAST(SUM(CASE WHEN list_reduce(
               list_transform(range(1, 65), j -> e.v[j] * planes.p[j]),
               (a, x) -> a + x) >= 0
             THEN (1 << pid) ELSE 0 END) AS INT) AS bucket
      FROM e CROSS JOIN planes GROUP BY e.vec_id)"""


ORACLES["ann_lsh"] = f"""
WITH {_LSH_BUCKETS_SQL},
q AS (SELECT b.vec_id AS query_id, b.bucket, e.v AS qvec
      FROM b JOIN e USING (vec_id) WHERE vec_id % 25 = 0),
c AS (SELECT b.vec_id AS neighbor_id, b.bucket, e.v AS nvec
      FROM b JOIN e USING (vec_id)),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_cosine_similarity(q.qvec, c.nvec) AS cos
  FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id DESC) AS rn
           FROM scored)
SELECT query_id, neighbor_id, round(cos, 6) AS cosine
FROM ranked WHERE rn <= 5
"""



def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate k-NN similarity graph over the whole embedding
    corpus (LSH bucket equi-join, never all-pairs), symmetrized to
    undirected (src_id < dst_id) edges with the mutual-kNN flag —
    the edge list graph-based clustering and graph dedup start from."""
    return similarity.knn_graph(
        _vectors(spark, sf_dir), dim=64, k=3, n_planes=8
    ).select(
        F.col("src_id").cast("long"),
        F.col("dst_id").cast("long"),
        "cosine",
        "mutual",
    )


# Shared WITH-prefix: hyperplane/bucket/top-k mirror (same recipe as
# the ann_lsh oracle) with every vector as a query, symmetrized to
# (least, greatest) pairs in ``und`` — consumed by the knn_graph
# oracle's final select and by the label-propagation oracle built on
# the same edge set.
_KNN_GRAPH_WITH = f"""
WITH {_LSH_BUCKETS_SQL},
q AS (SELECT b.vec_id AS query_id, b.bucket, e.v AS qvec
      FROM b JOIN e USING (vec_id)),
c AS (SELECT b.vec_id AS neighbor_id, b.bucket, e.v AS nvec
      FROM b JOIN e USING (vec_id)),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_cosine_similarity(q.qvec, c.nvec) AS cos
  FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id DESC) AS rn
           FROM scored),
knn AS (SELECT query_id, neighbor_id, round(cos, 6) AS cosine
        FROM ranked WHERE rn <= 3),
und AS (SELECT least(query_id, neighbor_id) AS src_id,
               greatest(query_id, neighbor_id) AS dst_id, cosine
        FROM knn)"""


ORACLES["knn_graph"] = _KNN_GRAPH_WITH + """
SELECT src_id, dst_id, max(cosine) AS cosine,
       COUNT(*) = 2 AS mutual
FROM und GROUP BY src_id, dst_id
"""



def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    (the ANN index storage layer): floor semantics so both engines'
    identical double expressions agree bit-for-bit; the int vector is
    CSV-joined for the cross-engine value hash."""
    q = similarity.quantize_embeddings(_vectors(spark, sf_dir), bits=8)
    return q.select(
        F.col("vec_id").cast("long"),
        "scale_num",
        F.concat_ws(
            ",", F.transform(F.col("qvec"), lambda x: x.cast("string"))
        ).alias("qvec_csv"),
    )


ORACLES["embedding_quantize"] = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS scale_num
      FROM e)
SELECT vec_id, scale_num,
       array_to_string(
         CASE WHEN scale_num = 0
              THEN list_transform(v, x -> 0)
              ELSE list_transform(v,
                     x -> CAST(floor(127.0 * x / scale_num) AS INT)) END,
         ',') AS qvec_csv
FROM m
"""


def q_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-dot-product top-k over the LSH-bucketed int8 index
    (lsh_bucket → quantize_embeddings → quantized_topk): candidates
    from ONE bucket equi-join, scored by the exact int dot a SIMD int8
    kernel computes — all-integer end to end, so the oracle matches
    bit-for-bit including ties."""
    emb = _vectors(spark, sf_dir)
    qz = similarity.quantize_embeddings(
        similarity.lsh_bucket(emb, "embedding", 64, 8)
    )
    queries = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id")
    return similarity.quantized_topk(qz, queries, k=5).select(
        F.col("query_id").cast("long"),
        F.col("neighbor_id").cast("long"),
        "dot",
    )


# Hyperplane buckets + int8 quantization + integer dot, all mirrored
# exactly (same plane literals and left-fold sign dots as the ann_lsh
# oracle; floor quantization as the embedding_quantize oracle; BIGINT
# dot so the sum is exact).
ORACLES["quantized_topk"] = f"""
WITH {_LSH_BUCKETS_SQL},
m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
      FROM e),
qv AS (SELECT m.vec_id, b.bucket,
         CASE WHEN mx = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v,
                     x -> CAST(floor(127.0 * x / mx) AS INT)) END AS qvec
       FROM m JOIN b USING (vec_id)),
q AS (SELECT vec_id AS query_id, bucket, qvec AS qa FROM qv
      WHERE vec_id % 25 = 0),
c AS (SELECT vec_id AS neighbor_id, bucket, qvec AS qb FROM qv),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_reduce(
           list_transform(range(1, 65),
                          j -> CAST(q.qa[j] AS BIGINT) * c.qb[j]),
           (a, x) -> a + x) AS dot
  FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, dot,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot DESC, neighbor_id DESC) AS rn
           FROM scored)
SELECT query_id, neighbor_id, dot FROM ranked WHERE rn <= 5
"""



def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality probe: majority-vote kNN label prediction over
    the LSH-bucketed int8 index (similarity.knn_classify) — per query
    (every 25th vector), the 5 same-bucket integer-dot neighbors vote
    on the label; ties break on the smaller label. All-integer scoring
    and counting, so prediction AND correctness flag hash identically
    in any engine."""
    emb = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.col("label").cast("int").alias("label"),
    )
    qz = similarity.quantize_embeddings(
        similarity.lsh_bucket(emb, "embedding", 64, 8)
    )
    labels = emb.select("vec_id", "label")
    queries = emb.filter(F.col("vec_id") % 25 == 0).select("vec_id")
    return similarity.knn_classify(qz, labels, queries, k=5).select(
        F.col("query_id").cast("long"),
        "true_label",
        "pred_label",
        "correct",
    )


# The quantized_topk recipe (planes, floor quantization, bucket
# equi-join, dot-desc/neighbor-desc top-5) extended with the label
# vote: per-query label counts, argmax with smaller-label tie-break,
# joined back to the true label.
ORACLES["knn_classify"] = f"""
WITH {_LSH_BUCKETS_SQL},
m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
      FROM e),
qv AS (SELECT m.vec_id, b.bucket,
         CASE WHEN mx = 0 THEN list_transform(v, x -> 0)
              ELSE list_transform(v,
                     x -> CAST(floor(127.0 * x / mx) AS INT)) END AS qvec
       FROM m JOIN b USING (vec_id)),
q AS (SELECT vec_id AS query_id, bucket, qvec AS qa FROM qv
      WHERE vec_id % 25 = 0),
c AS (SELECT vec_id AS neighbor_id, bucket, qvec AS qb FROM qv),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_reduce(
           list_transform(range(1, 65),
                          j -> CAST(q.qa[j] AS BIGINT) * c.qb[j]),
           (a, x) -> a + x) AS dot
  FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, dot,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dot DESC, neighbor_id DESC) AS rn
           FROM scored),
votes AS (SELECT r.query_id, CAST(l.label AS INT) AS vote
          FROM ranked r JOIN embeddings l ON l.vec_id = r.neighbor_id
          WHERE r.rn <= 5),
tally AS (SELECT query_id, vote, CAST(COUNT(*) AS BIGINT) AS c
          FROM votes GROUP BY 1, 2),
pred AS (SELECT query_id, vote,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY c DESC, vote ASC) AS pr
         FROM tally)
SELECT CAST(p.query_id AS BIGINT) AS query_id,
       CAST(t.label AS INT) AS true_label,
       p.vote AS pred_label,
       (p.vote = CAST(t.label AS INT)) AS correct
FROM pred p JOIN embeddings t ON t.vec_id = p.query_id
WHERE p.pr = 1
"""



def q_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering end to end: mutual-kNN edges over the
    embedding corpus (similarity.knn_graph) fed into the SAME
    connected-components canonicalizer the KG pipeline uses
    (operators/canon) → (node, component), component = lexicographic
    min member. The composition gate: similarity graph construction
    and iterative CC verified together against a recursive-closure
    oracle."""
    g = similarity.knn_graph(
        _vectors(spark, sf_dir), dim=64, k=3, n_planes=8
    ).filter("mutual")
    edges = g.select(
        F.col("src_id").cast("string").alias("src"),
        F.col("dst_id").cast("string").alias("dst"),
    )
    return connected_components(edges).select("node", "component")


# knn_graph's oracle CTEs restricted to mutual edges, closed by a
# recursive reachability CTE; component = LEAST(self, min reachable) on
# VARCHAR ids (the canonicalizer compares lexicographically).
ORACLES["semantic_clusters"] = f"""
WITH RECURSIVE {_LSH_BUCKETS_SQL},
q AS (SELECT b.vec_id AS query_id, b.bucket, e.v AS qvec
      FROM b JOIN e USING (vec_id)),
c AS (SELECT b.vec_id AS neighbor_id, b.bucket, e.v AS nvec
      FROM b JOIN e USING (vec_id)),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         list_cosine_similarity(q.qvec, c.nvec) AS cos
  FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.neighbor_id),
ranked AS (SELECT query_id, neighbor_id, cos,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id DESC) AS rn
           FROM scored),
knn AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= 3),
mutual AS (
  SELECT CAST(least(query_id, neighbor_id) AS VARCHAR) AS s,
         CAST(greatest(query_id, neighbor_id) AS VARCHAR) AS d
  FROM knn GROUP BY 1, 2 HAVING COUNT(*) = 2),
undir AS (SELECT s, d FROM mutual UNION SELECT d, s FROM mutual),
reach AS (SELECT s, d FROM undir
          UNION
          SELECT r.s, u.d FROM reach r JOIN undir u ON u.s = r.d)
SELECT s AS node, least(s, min(d)) AS component
FROM reach GROUP BY s
"""



def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints over documents: per-doc sliding
    min over the 4-gram md5-fold hash sequence, window 3 — any shared
    6-word run between documents shares a fingerprint. Oracle
    recomputes the identical hash fold and window minima."""
    return dedup.winnow_fingerprints(
        _docs(spark, sf_dir), k=4, w=3
    ).select(F.col("doc_id").cast("long"), "fp")


ORACLES["winnow"] = rf"""
WITH t AS (SELECT doc_id, {_NORM_W} AS w FROM documents
           WHERE length(trim(text)) > 0),
tok AS (SELECT doc_id, unnest(w) AS word,
               unnest(range(1, len(w) + 1)) AS pos, len(w) AS n
        FROM t),
grams AS (
  SELECT a.doc_id, a.pos,
         a.word || ' ' || b.word || ' ' || c.word || ' ' || d.word AS gram
  FROM tok a
  JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
  JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
  JOIN tok d ON d.doc_id = a.doc_id AND d.pos = a.pos + 3
  UNION ALL
  SELECT doc_id, 1 AS pos, array_to_string(w, ' ') AS gram
  FROM t WHERE len(w) < 4),
h AS (SELECT doc_id, pos, {_h60('gram')} AS h FROM grams),
mins AS (SELECT doc_id, pos,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS fp,
         max(pos) OVER (PARTITION BY doc_id) AS last
         FROM h)
SELECT DISTINCT doc_id, fp FROM mins
WHERE pos <= greatest(last - 2, 1)
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed embedding near-dups over a corpus with planted
    duplicates (vectors unioned with themselves under shifted ids)."""
    emb = _embeddings(spark, sf_dir).select("vec_id", "embedding")
    copies = emb.select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    corpus = emb.unionByName(copies)
    return similarity.embedding_near_dups(corpus, dim=64, threshold=0.999).select(
        F.col("id_a").cast("long"), F.col("id_b").cast("long"), "cosine"
    )


ORACLES["embedding_near_dups"] = """
SELECT vec_id AS id_a, vec_id + 1000000 AS id_b, 1.0 AS cosine FROM embeddings
"""


# ---------------------------------------------------------------- text


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_count(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"),
        "n_tokens",
        "n_chars",
        "n_bpe_tokens",
        "n_subwords_est",
    )


ORACLES["token_count"] = r"""
SELECT doc_id,
  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
       ELSE len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' '))
       END AS INT) AS n_tokens,
  CAST(length(text) AS INT) AS n_chars,
  CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+')) AS INT) AS n_bpe_tokens,
  CAST(ceil(length(text) / 4) AS INT) AS n_subwords_est
FROM documents
"""

_SW = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "que"],
}


def _sql_list(words):
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "lang_pred", "lang_score"
    )


ORACLES["lang_id"] = rf"""
WITH t AS (SELECT doc_id,
        list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
s AS (SELECT doc_id, w,
  len(list_intersect(w, {_sql_list(_SW['en'])})) AS en,
  len(list_intersect(w, {_sql_list(_SW['de'])})) AS de,
  len(list_intersect(w, {_sql_list(_SW['es'])})) AS es,
  len(list_intersect(w, {_sql_list(_SW['fr'])})) AS fr
  FROM t)
SELECT doc_id,
  CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
       WHEN en >= de AND en >= es AND en >= fr THEN 'en'
       WHEN de >= es AND de >= fr THEN 'de'
       WHEN es >= fr THEN 'es'
       ELSE 'fr' END AS lang_pred,
  round(greatest(en, de, es, fr) / greatest(len(w), 1), 6) AS lang_score
FROM s
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "len_score", "punct_ratio",
        "stopword_ratio", "repetition_ratio", "quality",
    )


_ALL_SW = _sql_list([w for ws in _SW.values() for w in ws])
ORACLES["quality_score"] = rf"""
WITH t AS (SELECT doc_id, text,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
m AS (SELECT doc_id,
  greatest(len(w), 1) AS n_tokens,
  greatest(length(text), 1) AS n_chars,
  length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
  len(list_filter(w, x -> list_contains({_ALL_SW}, x))) AS stop_hits,
  len(list_distinct(w)) AS n_distinct,
  len(w) AS raw_tokens
  FROM t)
SELECT doc_id,
  round(least(raw_tokens / 64.0, 1.0), 6) AS len_score,
  round(n_punct / n_chars, 6) AS punct_ratio,
  round(stop_hits / n_tokens, 6) AS stopword_ratio,
  round(1 - (n_distinct / n_tokens), 6) AS repetition_ratio,
  round(least(raw_tokens / 64.0, 1.0) * 0.4 +
        least((stop_hits / n_tokens) * 4, 1.0) * 0.3 +
        (n_distinct / n_tokens) * 0.3, 6) AS quality
FROM m
"""


def q_lang_id_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram language ID (the n-gram heuristic variant of
    lang_id) — one trigram expansion per document, JVM-side."""
    return text.lang_id_ngram(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "lang_pred", "lang_score"
    )


def _lang_id_ngram_oracle() -> str:
    from .operators.text import _TRIGRAM_PROFILES

    langs = list(_TRIGRAM_PROFILES)

    def lst(lang):
        inner = ", ".join("'" + g.replace("'", "''") + "'" for g in _TRIGRAM_PROFILES[lang])
        return f"[{inner}]"

    score_exprs = ", ".join(
        f"len(list_filter(tris, x -> list_contains({lst(lang)}, x)))" for lang in langs
    )
    lang_list = "[" + ", ".join(f"'{lang}'" for lang in langs) + "]"
    return rf"""
WITH t AS (SELECT doc_id,
       ' '||regexp_replace(lower(trim(text)), '\s+', ' ', 'g')||' ' AS pt
       FROM documents),
g AS (SELECT doc_id,
       list_transform(range(1, greatest(length(pt)-2, 1)+1),
                      i -> substr(pt, CAST(i AS INT), 3)) AS tris FROM t),
s AS (SELECT doc_id, tris, [{score_exprs}] AS scores FROM g)
SELECT doc_id,
       CASE WHEN list_max(scores) = 0 THEN 'und'
            ELSE {lang_list}[list_position(scores, list_max(scores))] END AS lang_pred,
       round(CAST(list_max(scores) AS DOUBLE) / greatest(len(tris), 1), 6) AS lang_score
FROM s
"""


ORACLES["lang_id_ngram"] = _lang_id_ngram_oracle()


_MODEL_LANGS = ["en", "de", "es", "fr", "it", "pt", "nl", "sv"]


def _duck_list(items: list[str]) -> str:
    """Python string list → a DuckDB list literal."""
    return "[" + ", ".join("'" + x.replace("'", "''") + "'" for x in items) + "]"


def _model_lang_text(lang: str, variant: int) -> str:
    """Deterministic synthetic text for the planted language: the
    language's distinctive trigram inventory joined as words, rotated
    by ``variant`` so the 8 per-class texts differ while staying
    cleanly separable."""
    from .operators.text import _TRIGRAM_PROFILES

    tris = [g.strip() or "xx" for g in _TRIGRAM_PROFILES[lang]]
    k = len(tris)
    return " ".join(tris[(variant + j) % k] for j in range(24))


def q_lang_id_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based language ID (textmodel.train/score_linear_text_
    classifier — the fastText-style learned scorer the r4 verdict asked
    for): each document gets deterministic text in the language planted
    by doc_id % 8 (built from that language's distinctive trigram
    inventory, 8 rotated variants per class), the classifier trains on
    a bounded per-class sample of the SAME corpus, scoring runs
    distributed, and the closed-form oracle is the planted label — the
    gate proves the full featurize → train → broadcast → score loop
    recovers a separable generating class exactly."""
    from .operators.textmodel import (
        score_linear_text_classifier,
        train_linear_text_classifier,
    )

    d = F.col("doc_id").cast("long")
    nl = len(_MODEL_LANGS)
    lang = F.element_at(
        F.array(*[F.lit(x) for x in _MODEL_LANGS]), (d % nl + 1).cast("int")
    )
    text = F.element_at(
        F.array(
            *[
                F.lit(_model_lang_text(x, v))
                for x in _MODEL_LANGS
                for v in range(8)
            ]
        ),
        ((d % nl) * 8 + F.floor(d / nl) % 8 + 1).cast("int"),
    )
    docs = _docs(spark, sf_dir).select(
        d.alias("doc_id"), lang.alias("lang"), text.alias("text")
    )
    model = train_linear_text_classifier(
        docs, "lang", n_features=2048, epochs=200, max_docs_per_class=200
    )
    return score_linear_text_classifier(
        docs, model, pred_col="lang_pred"
    ).select("doc_id", "lang_pred")


ORACLES["lang_id_model"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_duck_list(_MODEL_LANGS)}[CAST(doc_id % {len(_MODEL_LANGS)} AS INT) + 1]
         AS lang_pred
FROM documents
"""


_QUALITY_CLASSES = [
    ("good", "the quick study shows results improve when methods are "
             "carefully compared across settings and reported in full"),
    ("boiler", "click here subscribe now buy cheap deals click here "
               "limited offer subscribe buy now free shipping click"),
    ("gibberish", "zxq qqv kjx vvz xqz jjq zzx qkv xjz vqk zqx jvx "
                  "kzz qxv zjk xvq !!! ### @@@ %%% &&& *** $$$ ;;;"),
]


def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring (textmodel, 3-class): documents
    cycle through planted good-prose / boilerplate-spam / gibberish
    styles (each with 6 rotated variants), the linear hashed-n-gram
    classifier trains on a bounded sample and labels the corpus
    distributed; oracle = the planted class. The learned companion of
    the heuristic quality_score/gopher/c4 rule filters."""
    from .operators.textmodel import (
        score_linear_text_classifier,
        train_linear_text_classifier,
    )

    d = F.col("doc_id").cast("long")
    nc = len(_QUALITY_CLASSES)

    def variant(txt: str, v: int) -> str:
        words = txt.split()
        k = len(words)
        return " ".join(words[(v + j) % k] for j in range(k))

    label = F.element_at(
        F.array(*[F.lit(c) for c, _ in _QUALITY_CLASSES]),
        (d % nc + 1).cast("int"),
    )
    text = F.element_at(
        F.array(
            *[
                F.lit(variant(t, v))
                for _, t in _QUALITY_CLASSES
                for v in range(6)
            ]
        ),
        ((d % nc) * 6 + F.floor(d / nc) % 6 + 1).cast("int"),
    )
    docs = _docs(spark, sf_dir).select(
        d.alias("doc_id"), label.alias("quality"), text.alias("text")
    )
    model = train_linear_text_classifier(
        docs, "quality", n_features=2048, epochs=200, max_docs_per_class=200
    )
    return score_linear_text_classifier(
        docs, model, pred_col="quality_pred"
    ).select("doc_id", "quality_pred")


ORACLES["quality_model"] = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_duck_list([c for c, _ in _QUALITY_CLASSES])}[CAST(doc_id % 3 AS INT) + 1]
         AS quality_pred
FROM documents
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash fingerprints (md5 hash method →
    exact oracle)."""
    return text.fingerprint(_docs(spark, sf_dir), hash_method="md5").select(
        F.col("doc_id").cast("long"), "fingerprint"
    )


ORACLES["fingerprint"] = rf"""
WITH t AS (SELECT doc_id, {_NORM_W} AS w FROM documents)
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(w, tok -> {_h60('tok')} % 2147483647)),
         (acc, h) -> (acc * 31 + h) % 2147483647) AS fingerprint
FROM t
"""


# ---------------------------------------------------------------- curation

# whitespace-token count shared with token_count (and its oracle)
_WS_TOKENS_SQL = (
    "CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
    r"ELSE len(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) "
    "END AS INT)"
)


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministic synthetic PII mixed
    into every third document (the corpus itself is PII-free; both
    sides inject the same email/phone/IP so the redaction is exercised
    for real)."""
    did = F.col("doc_id")
    aug = F.when(
        did % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" reach user"),
            did.cast("string"),
            F.lit("@example.com or +1-555-"),
            F.lpad((did % 10000).cast("string"), 4, "0"),
            F.lit(" from 10."),
            (did % 256).cast("string"),
            F.lit(".0."),
            ((did * 3) % 256).cast("string"),
            F.lit(" now"),
        ),
    ).otherwise(F.col("text"))
    docs = _docs(spark, sf_dir).select("doc_id", aug.alias("text"))
    return curation.pii_redact(docs).select(
        F.col("doc_id").cast("long"), "n_emails", "n_phones", "n_ips", "clean_text"
    )


_PII_AUG_SQL = (
    "CASE WHEN doc_id % 3 = 0 THEN text || ' reach user' || CAST(doc_id AS VARCHAR)"
    " || '@example.com or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
    " || ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.'"
    " || CAST((doc_id * 3) % 256 AS VARCHAR) || ' now' ELSE text END"
)

ORACLES["pii_redact"] = rf"""
WITH t AS (SELECT doc_id, {_PII_AUG_SQL} AS text FROM documents),
s AS (SELECT doc_id, text,
  regexp_replace(text, '{curation.EMAIL_RE}', '<EMAIL>', 'g') AS no_email
  FROM t),
s2 AS (SELECT doc_id, text, no_email,
  regexp_replace(no_email, '{curation.PHONE_RE}', '<PHONE>', 'g') AS no_phone
  FROM s)
SELECT doc_id,
  CAST(len(regexp_extract_all(text, '{curation.EMAIL_RE}')) AS INT) AS n_emails,
  CAST(len(regexp_extract_all(no_email, '{curation.PHONE_RE}')) AS INT) AS n_phones,
  CAST(len(regexp_extract_all(no_phone, '{curation.IPV4_RE}')) AS INT) AS n_ips,
  regexp_replace(no_phone, '{curation.IPV4_RE}', '<IP>', 'g') AS clean_text
FROM s2
"""


def q_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide sentence dedup (dedup.sentence_dedup):
    every document shares an opener (case/punctuation drifting by
    parity — the normalization must still match it) and a closer, plus
    one per-document unique sentence (letter-encoded id so the digit
    folding cannot collide them); only the min document keeps the
    shared sentences. Closed-form oracle."""
    from .operators.dedup import sentence_dedup

    d = F.col("doc_id").cast("long")
    lid = F.translate(d.cast("string"), "0123456789", "abcdefghij")
    text = F.concat(
        F.when(d % 2 == 0, F.lit("Shared opener. "))
        .otherwise(F.lit("SHARED OPENER! ")),
        F.lit("Unique fact "), lid, F.lit(". Shared closer."),
    )
    docs = _docs(spark, sf_dir).select(d.alias("doc_id"), text.alias("text"))
    return sentence_dedup(docs)


ORACLES["sentence_dedup"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')
          AS lid
      FROM documents),
m AS (SELECT min(doc_id) AS mn FROM ids)
SELECT doc_id, CAST(3 AS INT) AS n_sents,
  CAST(CASE WHEN doc_id = (SELECT mn FROM m) THEN 3 ELSE 1 END AS INT)
    AS n_kept,
  CASE WHEN doc_id = (SELECT mn FROM m)
    THEN CASE WHEN doc_id % 2 = 0
      THEN 'Shared opener. Unique fact '||lid||'. Shared closer.'
      ELSE 'SHARED OPENER! Unique fact '||lid||'. Shared closer.' END
    ELSE 'Unique fact '||lid||'.' END AS clean_text
FROM ids
"""


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-wide PARAGRAPH dedup (dedup.paragraph_dedup):
    every document carries a shared footer paragraph whose digits and
    punctuation drift by parity (the ccnet_norm key must still match
    it) plus one unique paragraph (letter-encoded id); only the min
    document keeps the footer; odd documents also carry a
    whitespace-only pseudo-paragraph that must NOT count. Closed-form
    oracle."""
    from .operators.dedup import paragraph_dedup

    d = F.col("doc_id").cast("long")
    lid = F.translate(d.cast("string"), "0123456789", "abcdefghij")
    text = F.concat(
        F.lit("Unique para "), lid, F.lit(" body.\n\n"),
        F.when(d % 2 == 1, F.lit("   \n\n")).otherwise(F.lit("")),
        F.when(d % 2 == 0, F.lit("Copyright 2026 site footer."))
        .otherwise(F.lit("copyright 2031 SITE footer!!")),
    )
    docs = _docs(spark, sf_dir).select(d.alias("doc_id"), text.alias("text"))
    return paragraph_dedup(docs)


ORACLES["paragraph_dedup"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        translate(CAST(doc_id AS VARCHAR), '0123456789', 'abcdefghij')
          AS lid
      FROM documents),
m AS (SELECT min(doc_id) AS mn FROM ids)
SELECT doc_id, CAST(2 AS INT) AS n_paras,
  CAST(CASE WHEN doc_id = (SELECT mn FROM m) THEN 2 ELSE 1 END AS INT)
    AS n_kept,
  'Unique para '||lid||' body.'
    || CASE WHEN doc_id = (SELECT mn FROM m)
       THEN chr(10)||chr(10)||
         CASE WHEN doc_id % 2 = 0 THEN 'Copyright 2026 site footer.'
              ELSE 'copyright 2031 SITE footer!!' END
       ELSE '' END AS clean_text
FROM ids
"""


def q_transcripts_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-turn PII scrub over agent transcripts (the input_hint
    domain): every third turn carries a deterministic email + phone,
    every fourth an IPv4; pii_redact keys on the composite
    (conv_id, turn_idx) and the oracle replays the injection and the
    regex chain closed-form."""
    from .operators.curation import pii_redact

    d, x = F.col("did"), F.col("tix")
    turns = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long").alias("did"))
        .select("did", F.explode(F.sequence(F.lit(0), F.lit(3))).alias("tix"))
    )
    text = F.concat(
        F.lit("turn "), x.cast("string"), F.lit(" says hi"),
        F.when(
            (d + x) % 3 == 0,
            F.concat(F.lit(" mail u"), d.cast("string"),
                     F.lit("@ex.example or +1-555-"),
                     F.lpad((d % 10000).cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
        F.when(
            (d + x) % 4 == 0,
            F.concat(F.lit(" from 10."), (d % 256).cast("string"),
                     F.lit(".0.9")),
        ).otherwise(F.lit("")),
    )
    t = turns.select(
        F.concat(F.lit("c"), d.cast("string")).alias("conv_id"),
        x.cast("int").alias("turn_idx"),
        text.alias("text"),
    )
    return pii_redact(t, id_col=["conv_id", "turn_idx"])


ORACLES["transcripts_pii"] = rf"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS did, CAST(tix AS INT) AS tix
           FROM documents
           CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS tix)),
x AS (SELECT did, tix,
        'turn '||tix||' says hi'
        || CASE WHEN (did + tix) % 3 = 0
             THEN ' mail u'||did||'@ex.example or +1-555-'
                  ||lpad(CAST(did % 10000 AS VARCHAR), 4, '0')
             ELSE '' END
        || CASE WHEN (did + tix) % 4 = 0
             THEN ' from 10.'||(did % 256)||'.0.9' ELSE '' END AS text
      FROM t),
s AS (SELECT did, tix, text,
        regexp_replace(text, '{curation.EMAIL_RE}', '<EMAIL>', 'g')
          AS no_email FROM x),
s2 AS (SELECT *, regexp_replace(no_email, '{curation.PHONE_RE}',
                                '<PHONE>', 'g') AS no_phone FROM s)
SELECT 'c'||did AS conv_id, tix AS turn_idx,
  CAST(len(regexp_extract_all(text, '{curation.EMAIL_RE}')) AS INT)
    AS n_emails,
  CAST(len(regexp_extract_all(no_email, '{curation.PHONE_RE}')) AS INT)
    AS n_phones,
  CAST(len(regexp_extract_all(no_phone, '{curation.IPV4_RE}')) AS INT)
    AS n_ips,
  regexp_replace(no_phone, '{curation.IPV4_RE}', '<IP>', 'g') AS clean_text
FROM s2
"""


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-bucket train/val/test assignment (90/5/5)."""
    return curation.split_assign(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "split_bucket", "split"
    )


ORACLES["split_assign"] = """
WITH t AS (SELECT doc_id,
  CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100
       AS INT) AS split_bucket
  FROM documents)
SELECT doc_id, split_bucket,
  CASE WHEN split_bucket < 90 THEN 'train'
       WHEN split_bucket < 95 THEN 'val'
       ELSE 'test' END AS split
FROM t
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-local greedy sequence packing into 256-token bins."""
    return curation.pack_sequences(
        _docs(spark, sf_dir), capacity=256, n_shards=8
    ).select(
        F.col("doc_id").cast("long"), "shard", "n_tokens", "bin_id", "offset_in_bin"
    )


ORACLES["pack_sequences"] = rf"""
WITH t AS (SELECT doc_id, CAST(doc_id % 8 AS INT) AS shard,
                  {_WS_TOKENS_SQL} AS n_tokens
           FROM documents),
p AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
        PARTITION BY shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM t)
SELECT doc_id, shard, n_tokens,
       CAST(prev // 256 AS INT) AS bin_id,
       CAST(prev % 256 AS INT) AS offset_in_bin
FROM p
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-5-gram benchmark-contamination flags; the benchmark set is
    the deterministic doc_id % 97 == 0 slice of the same corpus."""
    docs = _docs(spark, sf_dir)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    return curation.contamination(docs, bench).select(
        F.col("doc_id").cast("long"),
        "n_overlap",
        F.col("contaminated").cast("int").alias("contaminated"),
    )


ORACLES["contamination"] = r"""
WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
               AS ws
           FROM documents),
g AS (SELECT doc_id,
        list_distinct(CASE WHEN len(ws) < 5 THEN CAST([] AS VARCHAR[])
             ELSE list_transform(range(1, len(ws) - 3),
                                 i -> array_to_string(ws[i:i+4], ' ')) END) AS grams
      FROM w),
bg AS (SELECT DISTINCT unnest(grams) AS gram FROM g WHERE doc_id % 97 = 0),
cg AS (SELECT doc_id, unnest(grams) AS gram FROM g),
hits AS (SELECT doc_id, CAST(count(*) AS INT) AS n_overlap
         FROM cg WHERE gram IN (SELECT gram FROM bg) GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(h.n_overlap, 0) AS n_overlap,
       CAST(COALESCE(h.n_overlap, 0) > 0 AS INT) AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
"""


# ---------------------------------------------------------------- multimodal


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage over binary media columns: deterministic sha256
    content stamp stands in for the codec (pure Catalyst expression —
    the real decoder slots into the same mapInArrow shape as
    media_features); dimensions update, payload digest verified
    byte-for-byte by the oracle."""
    from .operators import multimodal

    media = multimodal.synth_media(spark, sf_dir)
    out = multimodal.resize_media(media, 32, 32)
    return out.select(
        "media_id",
        "mime",
        F.decode("payload", "utf-8").alias("digest"),
        "width",
        "height",
    )


ORACLES["media_resize"] = """
SELECT 'm'||CAST(doc_id AS INT) AS media_id,
       CASE WHEN CAST(doc_id AS INT) % 3 = 0 THEN 'image/png'
            WHEN CAST(doc_id AS INT) % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS mime,
       sha256(text || '|resize:32x32') AS digest,
       32 AS width, 32 AS height
FROM documents
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode/frame-sample plumbing. The decoder is a
    deterministic sha256 fake, so the DuckDB oracle recomputes the
    digest and the exact value gate applies to the full mapInArrow
    plumbing (schema, fan-out, batch shape)."""
    from .operators import multimodal

    media = multimodal.synth_media(spark, sf_dir)
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id", "frame_idx", F.round(F.element_at("feature", 1), 6).alias("f0")
    )


ORACLES["media_features"] = """
WITH m AS (SELECT 'm'||CAST(doc_id AS INT) AS media_id,
                  CAST(doc_id AS INT) % 3 AS k, text FROM documents),
f AS (SELECT media_id,
             unnest(CASE WHEN k = 2 THEN [0,1,2] ELSE [0] END) AS frame_idx,
             text FROM m),
h AS (SELECT media_id, frame_idx,
             sha256(text || '|f' || frame_idx) AS hx FROM f)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       round(CAST(((strpos('0123456789abcdef', substr(hx, 1, 1)) - 1) * 16
                   + strpos('0123456789abcdef', substr(hx, 2, 1)) - 1)
                  / 255.0 AS REAL), 6) AS f0
FROM h
"""


def _real_feature_cols(feats: DataFrame) -> DataFrame:
    """The 8 integer-valued codec features as bigint columns (exact in
    float32, so the cast is lossless and the hash gate is float-free)."""
    return feats.select(
        "media_id",
        "frame_idx",
        *[
            F.element_at("feature", k + 1).cast("bigint").alias(f"f{k}")
            for k in range(8)
        ],
    )


def q_media_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL codec decode (no sha256 fake anywhere in this path): genuine
    RIFF/PCM WAV, 24-bit BMP, zlib-compressed truecolor PNG (cycling
    through all five scanline filters), G.711 µ-law WAV, and
    LZW-compressed GIF payloads are synthesized executor-side from
    closed forms of doc_id, then byte-level parsed by the pure-Python
    codecs (operators/media_codecs.py) inside the same mapInArrow stage
    as media_features. The oracle recomputes every waveform/pixel
    statistic analytically — BMP and PNG share one pixel formula, µ-law
    expands through the integer segment formula, and GIF maps indexes
    through the bijective affine palette."""
    from .operators import multimodal

    media = multimodal.synth_real_media(spark, sf_dir)
    feats = multimodal.extract_features(media, use_fake=False)
    return _real_feature_cols(feats)


ORACLES["media_real_decode"] = """
WITH d AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
wav AS (
  SELECT did, list_transform(range(0, 64 + did % 64),
                 i -> ((did*31 + CAST(i AS INT)*7) % 256) - 128) AS smp
  FROM d WHERE did % 5 = 0),
wavf AS (
  SELECT 'm'||did AS media_id, 0 AS frame_idx,
         CAST(1 AS BIGINT) AS f0, CAST(8000 AS BIGINT) AS f1,
         CAST(len(smp) AS BIGINT) AS f2,
         CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS f3,
         CAST(len(list_filter(range(1, len(smp)),
              i -> (smp[CAST(i AS INT)] < 0 AND smp[CAST(i AS INT)+1] >= 0)
                OR (smp[CAST(i AS INT)+1] < 0 AND smp[CAST(i AS INT)] >= 0)))
              AS BIGINT) AS f4,
         CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS f5,
         CAST(list_sum(list_transform(smp, x -> x*x)) % 16777216 AS BIGINT) AS f6,
         CAST(smp[1] AS BIGINT) AS f7
  FROM wav),
-- dids ≡ 1 mod 5 are BMP, ≡ 2 mod 5 are PNG; identical pixel formula
bmp AS (SELECT did, 8 + did % 5 AS w, 8 + did % 7 AS h FROM d
        WHERE did % 5 IN (1, 2)),
px AS (
  SELECT did, w, h,
         list_transform(range(0, w*h), p -> (did + 7*(CAST(p AS INT) % w)
                        + 13*(CAST(p AS INT) // w)) % 256) AS rs,
         list_transform(range(0, w*h), p -> (3*did + 11*(CAST(p AS INT) % w)
                        + (CAST(p AS INT) // w)) % 256) AS gs,
         list_transform(range(0, w*h), p -> (5*did + (CAST(p AS INT) % w)
                        * (CAST(p AS INT) // w)) % 256) AS bs
  FROM bmp),
bmpf AS (
  SELECT 'm'||did AS media_id, 0 AS frame_idx,
         CAST(w AS BIGINT) AS f0, CAST(h AS BIGINT) AS f1,
         CAST(list_sum(rs) AS BIGINT) AS f2,
         CAST(list_sum(gs) AS BIGINT) AS f3,
         CAST(list_sum(bs) AS BIGINT) AS f4,
         CAST(len(list_filter(range(1, w*h + 1),
              i -> rs[CAST(i AS INT)] > gs[CAST(i AS INT)])) AS BIGINT) AS f5,
         CAST(did % 256 AS BIGINT) AS f6,
         CAST((5*did + (w-1)*(h-1)) % 256 AS BIGINT) AS f7
  FROM px),
-- mu-law (did % 5 = 3): code c -> u = 255-c, sign = u >= 128,
-- e = (u//16) % 8, m = u % 16, |s| = (m*8+132)*2^e - 132
mu AS (SELECT did,
         list_transform(range(0, 64 + did % 64),
           i -> (did*7 + CAST(i AS INT)*13) % 256) AS cs
       FROM d WHERE did % 5 = 3),
mud AS (SELECT did,
          list_transform(cs, c -> CASE WHEN (255 - c) >= 128 THEN
              -((((255 - c) % 16) * 8 + 132)
                * (1 << (((255 - c) // 16) % 8)) - 132)
            ELSE ((((255 - c) % 16) * 8 + 132)
                * (1 << ((255 - c) // 16)) - 132) END) AS smp
        FROM mu),
muf AS (
  SELECT 'm'||did AS media_id, 0 AS frame_idx,
         CAST(1 AS BIGINT) AS f0, CAST(8000 AS BIGINT) AS f1,
         CAST(len(smp) AS BIGINT) AS f2,
         CAST(list_sum(list_transform(smp, x -> abs(x))) AS BIGINT) AS f3,
         CAST(len(list_filter(range(1, len(smp)),
              i -> (smp[CAST(i AS INT)] < 0 AND smp[CAST(i AS INT)+1] >= 0)
                OR (smp[CAST(i AS INT)+1] < 0 AND smp[CAST(i AS INT)] >= 0)))
              AS BIGINT) AS f4,
         CAST(list_max(list_transform(smp, x -> abs(x))) AS BIGINT) AS f5,
         CAST(list_sum(list_transform(smp, x -> x*x)) % 16777216 AS BIGINT) AS f6,
         CAST(smp[1] AS BIGINT) AS f7
  FROM mud),
-- gif (did % 5 = 4): pixel index p -> palette (7i+1, 3i, 5i) mod 256
gif AS (SELECT did, 8 + did % 5 AS w, 8 + did % 7 AS h
        FROM d WHERE did % 5 = 4),
gx AS (
  SELECT did, w, h,
         list_transform(range(0, w*h),
           p -> (did + 7*(CAST(p AS INT) % w)
                 + 13*(CAST(p AS INT) // w)) % 256) AS ix
  FROM gif),
giff AS (
  SELECT 'm'||did AS media_id, 0 AS frame_idx,
         CAST(w AS BIGINT) AS f0, CAST(h AS BIGINT) AS f1,
         CAST(list_sum(list_transform(ix, i -> (i*7 + 1) % 256)) AS BIGINT) AS f2,
         CAST(list_sum(list_transform(ix, i -> (i*3) % 256)) AS BIGINT) AS f3,
         CAST(list_sum(list_transform(ix, i -> (i*5) % 256)) AS BIGINT) AS f4,
         CAST(len(list_filter(ix, i -> (i*7 + 1) % 256 > (i*3) % 256))
              AS BIGINT) AS f5,
         CAST(((did % 256)*7 + 1) % 256 AS BIGINT) AS f6,
         CAST((((did + 7*(w-1) + 13*(h-1)) % 256)*5) % 256 AS BIGINT) AS f7
  FROM gx)
SELECT * FROM wavf UNION ALL SELECT * FROM bmpf
UNION ALL SELECT * FROM muf UNION ALL SELECT * FROM giff
"""


def q_media_real_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize: decode the genuine BMP, PNG, and GIF payloads,
    nearest-neighbor resample to 4×4, re-encode in the source format,
    then re-decode the resized bytes and gate the resulting pixel
    statistics. Exercises decode → resample → encode → decode
    end-to-end with zero fakes, through a real zlib stream on the PNG
    side and a real growing-table LZW stream (both directions) on the
    GIF side."""
    from .operators import multimodal

    media = multimodal.synth_real_media(spark, sf_dir).filter(
        F.col("mime").isin("image/bmp", "image/png", "image/gif")
    )
    resized = multimodal.resize_media(media, 4, 4, use_fake=False)
    feats = multimodal.extract_features(resized, use_fake=False)
    return _real_feature_cols(feats)


ORACLES["media_real_resize"] = """
WITH d AS (SELECT CAST(doc_id AS INT) AS did FROM documents
           WHERE CAST(doc_id AS INT) % 5 IN (1, 2)),
dim AS (SELECT did, 8 + did % 5 AS w, 8 + did % 7 AS h FROM d),
-- nearest-neighbor source coordinates for target pixel p of a 4x4 grid:
-- sx = (p % 4) * w // 4, sy = (p // 4) * h // 4  (floor mapping)
px AS (
  SELECT did,
    list_transform(range(0, 16), p -> (did + 7*((CAST(p AS INT) % 4) * w // 4)
                   + 13*((CAST(p AS INT) // 4) * h // 4)) % 256) AS rs,
    list_transform(range(0, 16), p -> (3*did + 11*((CAST(p AS INT) % 4) * w // 4)
                   + ((CAST(p AS INT) // 4) * h // 4)) % 256) AS gs,
    list_transform(range(0, 16), p -> (5*did + ((CAST(p AS INT) % 4) * w // 4)
                   * ((CAST(p AS INT) // 4) * h // 4)) % 256) AS bs,
    w, h
  FROM dim)
SELECT 'm'||did AS media_id, 0 AS frame_idx,
       CAST(4 AS BIGINT) AS f0, CAST(4 AS BIGINT) AS f1,
       CAST(list_sum(rs) AS BIGINT) AS f2,
       CAST(list_sum(gs) AS BIGINT) AS f3,
       CAST(list_sum(bs) AS BIGINT) AS f4,
       CAST(len(list_filter(range(1, 17),
            i -> rs[CAST(i AS INT)] > gs[CAST(i AS INT)])) AS BIGINT) AS f5,
       CAST(rs[1] AS BIGINT) AS f6,
       CAST(bs[16] AS BIGINT) AS f7
FROM px
UNION ALL
-- gif (did % 5 = 4): resampled index through the affine palette
SELECT 'm'||did AS media_id, 0 AS frame_idx,
       CAST(4 AS BIGINT), CAST(4 AS BIGINT),
       CAST(list_sum(list_transform(ix, i -> (i*7 + 1) % 256)) AS BIGINT),
       CAST(list_sum(list_transform(ix, i -> (i*3) % 256)) AS BIGINT),
       CAST(list_sum(list_transform(ix, i -> (i*5) % 256)) AS BIGINT),
       CAST(len(list_filter(ix, i -> (i*7 + 1) % 256 > (i*3) % 256))
            AS BIGINT),
       CAST((ix[1]*7 + 1) % 256 AS BIGINT),
       CAST((ix[16]*5) % 256 AS BIGINT)
FROM (
  SELECT did,
    list_transform(range(0, 16),
      p -> (did + 7*((CAST(p AS INT) % 4) * w // 4)
            + 13*((CAST(p AS INT) // 4) * h // 4)) % 256) AS ix
  FROM (SELECT CAST(doc_id AS INT) AS did,
               8 + CAST(doc_id AS INT) % 5 AS w,
               8 + CAST(doc_id AS INT) % 7 AS h
        FROM documents WHERE CAST(doc_id AS INT) % 5 = 4))
"""


def q_stream_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming extraction (SURVEY.md §2.11): materialize the
    ntriples transcript corpus to a landing dir, drain it with
    ``trigger(availableNow=True)`` through the same mapInArrow stage as
    batch (exactly-once via checkpoint), and return the sink table. The
    oracle is the batch extract_ntriples oracle — streaming and batch
    must agree exactly."""
    import tempfile

    from .streaming.stream_extract import stream_extract

    base = tempfile.mkdtemp(prefix="semargl_q_stream_")
    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    t.write.mode("overwrite").parquet(f"{base}/in")
    q = stream_extract(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
    _drain(spark, q, "stream_extract")
    st = spark.read.parquet(f"{base}/out")
    return triples(st).select(
        "conv_id", "turn_idx", "subj", "pred", "obj", "obj_kind", "lang", "dtype"
    )


def q_stream_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming (§2.11): per-conversation progress totals
    accumulated across micro-batches with applyInPandasWithState.
    maxFilesPerTrigger forces multiple micro-batches, so the state rows
    genuinely carry across batches; update-mode emissions are monotone
    and the final total per conversation is the max."""
    import tempfile
    import uuid

    from .streaming.stateful import conversation_progress
    from .streaming.stream_extract import read_transcript_stream

    base = tempfile.mkdtemp(prefix="semargl_q_state_")
    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    # one file per conv-bucket so maxFilesPerTrigger yields >1 batch
    t.repartition(8, "conv_id").write.mode("overwrite").parquet(f"{base}/in")
    stream = read_transcript_stream(spark, f"{base}/in")
    progress = conversation_progress(extract_statements(stream))
    sink = f"q_stream_state_{uuid.uuid4().hex[:8]}"
    q = (
        progress.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _drain(spark, q, "stream_state")
    updates = spark.table(sink)
    return updates.groupBy("conv_id").agg(
        F.max("statements").alias("statements"),
        F.max("errors").alias("errors"),
        F.max("last_turn").alias("last_turn"),
    )


ORACLES["stream_state"] = """
SELECT 'c'||CAST(doc_id AS INT) AS conv_id, 16 AS statements,
       0 AS errors, 3 AS last_turn
FROM documents
"""


def q_events_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked hour-windowed streaming aggregation (§2.11): events
    drained through append mode — only windows the final watermark
    (max ts − 1 h) has closed are emitted, which the oracle reproduces
    with a plain filtered GROUP BY."""
    import tempfile
    import uuid

    from .streaming.windowed import hourly_event_counts

    base = tempfile.mkdtemp(prefix="semargl_q_wnd_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(8).write.mode("overwrite").parquet(f"{base}/in")
    # derive the stream schema from the batch read, but promote
    # TIMESTAMP_NTZ to TIMESTAMP — withWatermark only accepts the latter
    from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

    schema = StructType(
        [
            StructField(
                f.name,
                TimestampType() if isinstance(f.dataType, TimestampNTZType) else f.dataType,
                f.nullable,
            )
            for f in ev.schema.fields
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(f"{base}/in")
    )
    sink = f"q_wnd_{uuid.uuid4().hex[:8]}"
    q = (
        hourly_event_counts(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _drain(spark, q, "events_stream_hourly")
    return spark.table(sink).select(
        "window_start", "event_type", F.col("n").cast("long"), "value_sum"
    )


ORACLES["events_stream_hourly"] = """
WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
SELECT date_trunc('hour', ts) AS window_start, event_type,
       COUNT(*) AS n, ROUND(SUM(value), 6) AS value_sum
FROM events, wm
GROUP BY 1, 2
HAVING window_start + INTERVAL 1 HOUR <= (SELECT w FROM wm)
"""


def _register_stream_oracle() -> None:
    # identical expected output to the batch ntriples extraction; the
    # lazy import avoids a cycle (queries.py imports this module only
    # inside _declared())
    from .queries import ORACLES as _EXTRACT_ORACLES

    ORACLES["stream_extract"] = _EXTRACT_ORACLES["extract_ntriples"]


_register_stream_oracle()


# ------------------------------------------------- round-2 additions (r2b)


def q_kg_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path ``knows{1,3}`` over the materialized KG:
    bounded transitive closure with minimum hop counts, evaluated
    semi-naively (operators/graph.py bounded_paths). Unbounded closure
    is a quadratic blow-up at 10^12 edges; the bounded form is what
    SPARQL engines execute for ``p{1,k}`` and caps output at k·|E|."""
    from .operators.graph import bounded_paths

    edges = _kg_edges(spark, sf_dir)
    return bounded_paths(edges, "urn:p:knows", max_hops=3)


ORACLES["kg_path"] = _KG_EDGES_SQL + """,
k AS (SELECT DISTINCT src, dst FROM edges WHERE pred = 'urn:p:knows'),
h1 AS (SELECT src AS a, dst AS b, 1 AS hops FROM k),
h2 AS (SELECT h1.a, k.dst AS b, 2 AS hops FROM h1 JOIN k ON k.src = h1.b),
h3 AS (SELECT h2.a, k.dst AS b, 3 AS hops FROM h2 JOIN k ON k.src = h2.b),
hall AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3)
SELECT a, b, CAST(MIN(hops) AS INT) AS hops FROM hall GROUP BY a, b
"""


def q_kg_path_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ``dcterms:relation+`` evaluated to FIXPOINT (set
    semantics, no hop column) — graph.kleene_closure. The relation
    subgraph breaks every 5 entities, so its diameter is ≤ 4 at ANY
    corpus size: the loop converges in a constant number of rounds and
    the closure stays O(|E|). The chain-shaped ``knows`` predicate
    (diameter N, Θ(N²) closure) is deliberately NOT run unbounded —
    that case is gated as the bounded ``kg_path`` query."""
    from .operators.graph import kleene_closure

    edges = _kg_edges(spark, sf_dir)
    return kleene_closure(edges, "http://purl.org/dc/terms/relation")


# the recursive UNION is set-based and semi-naive in DuckDB, so it
# terminates on any graph — same set semantics as the Spark fixpoint
ORACLES["kg_path_star"] = _KG_EDGES_SQL.replace(
    "WITH ids", "WITH RECURSIVE ids", 1
) + """,
k AS (SELECT DISTINCT src, dst FROM edges
      WHERE pred = 'http://purl.org/dc/terms/relation'),
reach(a, b) AS (
  SELECT src, dst FROM k
  UNION
  SELECT r.a, k.dst FROM reach r JOIN k ON k.src = r.b
)
SELECT a, b FROM reach
"""


def q_kg_wl_colors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weisfeiler–Leman color refinement (2 rounds) over the
    materialized KG (graph.wl_colors): the distributed first stage of
    canonical bnode labeling — nodes with identical 2-hop labeled
    neighborhoods get identical md5 colors, byte-deterministic in any
    engine."""
    from .operators.graph import wl_colors

    edges = _kg_edges(spark, sf_dir)
    return wl_colors(edges, rounds=2)


ORACLES["kg_wl_colors"] = _KG_EDGES_SQL + """,
e AS (SELECT DISTINCT src, pred, dst FROM edges),
n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
c0 AS (SELECT node, '0' AS color FROM n),
m1 AS (
  SELECT e.src AS node, '>' || e.pred || ':' || c.color AS msg
  FROM e JOIN c0 c ON c.node = e.dst
  UNION ALL
  SELECT e.dst, '<' || e.pred || ':' || c.color
  FROM e JOIN c0 c ON c.node = e.src),
s1 AS (SELECT node, array_to_string(list_sort(list(msg)), '#') AS sig
       FROM m1 GROUP BY node),
c1 AS (SELECT c0.node, md5(c0.color || '|' || COALESCE(s1.sig, '')) AS color
       FROM c0 LEFT JOIN s1 USING (node)),
m2 AS (
  SELECT e.src AS node, '>' || e.pred || ':' || c.color AS msg
  FROM e JOIN c1 c ON c.node = e.dst
  UNION ALL
  SELECT e.dst, '<' || e.pred || ':' || c.color
  FROM e JOIN c1 c ON c.node = e.src),
s2 AS (SELECT node, array_to_string(list_sort(list(msg)), '#') AS sig
       FROM m2 GROUP BY node),
c2 AS (SELECT c1.node, md5(c1.color || '|' || COALESCE(s2.sig, '')) AS color
       FROM c1 LEFT JOIN s2 USING (node))
SELECT node, color FROM c2
"""


def q_kg_literal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal-side KG profile (graph.literal_stats): per (predicate,
    datatype, lang), literal count, distinct-value count, and exact
    integer length sum — the datatype/language histogram pairing with
    kg_schema_summary's entity-side profile."""
    from .operators.graph import literal_stats

    return literal_stats(_corpus(spark, sf_dir, fmt="ntriples"))


ORACLES["kg_literal_stats"] = _SEED + r""",
st AS (
  SELECT 'urn:p:name' AS pred, '' AS dtype, '' AS lang,
         CASE WHEN did%10=0 THEN 'Entity "'||did||'"'||chr(10)
              ELSE 'Entity '||did END AS obj FROM t
  UNION ALL
  SELECT 'urn:p:score', 'http://www.w3.org/2001/XMLSchema#decimal', '',
         (did%100)||'.5' FROM t
  UNION ALL
  SELECT 'urn:p:label', '', 'en', 'turn '||tix FROM t
)
SELECT pred, dtype, lang, CAST(COUNT(*) AS BIGINT) AS n_literals,
       CAST(COUNT(DISTINCT obj) AS BIGINT) AS n_distinct,
       CAST(SUM(length(obj)) AS BIGINT) AS sum_len
FROM st GROUP BY 1, 2, 3
"""


def q_kg_schema_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VoID-style schema profile (graph.schema_summary): per
    (src class, predicate, dst class), edge and distinct-endpoint
    counts — untyped nodes under the '(untyped)' sentinel. The
    statistics table a SPARQL join planner (and any new consumer of
    the graph) reads first."""
    from .operators.graph import schema_summary

    edges = _kg_edges(spark, sf_dir)
    return schema_summary(edges)


ORACLES["kg_schema_summary"] = _KG_EDGES_SQL + """,
ty AS (SELECT src AS node, dst AS t FROM edges
       WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
rel AS (SELECT src, pred, dst FROM edges
        WHERE pred <> 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'),
obs AS (SELECT COALESCE(ts.t, '(untyped)') AS src_type, rel.pred,
               COALESCE(td.t, '(untyped)') AS dst_type, rel.src, rel.dst
        FROM rel
        LEFT JOIN ty ts ON ts.node = rel.src
        LEFT JOIN ty td ON td.node = rel.dst)
SELECT src_type, pred, dst_type,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(COUNT(DISTINCT src) AS BIGINT) AS n_src,
       CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_dst
FROM obs GROUP BY 1, 2, 3
"""


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (dup-word / top-bigram /
    dup-bigram fractions as exact ppm integers) over documents."""
    return text.repetition_stats(_docs(spark, sf_dir))


# ppm(x, y) = floor(x·10^6 / y), 0 when y = 0 — all-bigint, matching
# operators/text.py _ppm bit for bit
def _ppm_sql(x: str, y: str) -> str:
    return (
        f"CASE WHEN {y} = 0 THEN 0 ELSE "
        f"CAST((({x}) * 1000000 - (({x}) * 1000000) % ({y})) / ({y}) AS BIGINT) END"
    )


ORACLES["repetition_stats"] = f"""
WITH toks AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) = 0 THEN []
              ELSE string_split_regex(trim(lower(text)), '\\s+') END AS ws
  FROM documents),
uni AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words,
               CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words
        FROM toks),
bg AS (SELECT doc_id,
              unnest(list_transform(range(1, len(ws)),
                                    i -> ws[i] || ' ' || ws[i+1])) AS gram
       FROM toks WHERE len(ws) >= 2),
gc AS (SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS c
       FROM bg GROUP BY doc_id, gram),
agg AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(MAX(c) AS BIGINT) AS top_bigram_n,
               CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_bg_n
        FROM gc GROUP BY doc_id)
SELECT u.doc_id, u.n_words, u.n_distinct_words,
       {_ppm_sql('u.n_words - u.n_distinct_words', 'u.n_words')} AS dup_word_ppm,
       COALESCE(a.n_bigrams, 0) AS n_bigrams,
       COALESCE(a.top_bigram_n, 0) AS top_bigram_n,
       {_ppm_sql('COALESCE(a.top_bigram_n, 0)', 'COALESCE(a.n_bigrams, 0)')} AS top_bigram_ppm,
       {_ppm_sql('COALESCE(a.dup_bg_n, 0)', 'COALESCE(a.n_bigrams, 0)')} AS dup_bigram_ppm
FROM uni u LEFT JOIN agg a USING (doc_id)
"""


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embeddings (k=8, 3 rounds, Q20
    fixed-point → bit-exact at any parallelism) — the IVF coarse-
    quantizer training path for operators/similarity.py."""
    from .operators.clustering import kmeans_assign

    return kmeans_assign(_embeddings(spark, sf_dir), k=8, iterations=3, dims=64)


def _kmeans_ctes(k: int = 8, iters: int = 3) -> str:
    # centroids live as (cluster, pos, val) position tables; truncating
    # integer division (x - x%n)/n matches clustering.py _tdiv exactly;
    # the chain ends at bf, whose rn=1 rows are the final assignment
    sql = """
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                  list_transform(embedding[1:64],
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
           FROM embeddings),
qpos AS (SELECT vec_id, i AS pos, qv[i] AS val
         FROM q, UNNEST(range(1, len(qv) + 1)) AS t(i)),
c0 AS (SELECT CAST(vec_id AS INT) AS cluster, pos, val FROM qpos
       WHERE vec_id < %(k)d)""" % {"k": k}
    for i in range(1, iters + 1):
        sql += """,
a%(i)d AS (SELECT p.vec_id, c.cluster,
             CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT) AS dist
           FROM qpos p JOIN c%(prev)d c USING (pos)
           GROUP BY p.vec_id, c.cluster),
b%(i)d AS (SELECT vec_id, cluster, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
           FROM a%(i)d),
c%(i)d AS (SELECT b.cluster, p.pos,
             CAST((SUM(p.val) - SUM(p.val) %% COUNT(*)) / COUNT(*) AS BIGINT) AS val
           FROM b%(i)d b JOIN qpos p USING (vec_id)
           WHERE b.rn = 1 GROUP BY b.cluster, p.pos)""" % {"i": i, "prev": i - 1}
    sql += """,
af AS (SELECT p.vec_id, c.cluster,
         CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT) AS dist
       FROM qpos p JOIN c%(last)d c USING (pos)
       GROUP BY p.vec_id, c.cluster),
bf AS (SELECT vec_id, cluster, dist,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
       FROM af)""" % {"last": iters}
    return sql


def _kmeans_oracle(k: int = 8, iters: int = 3) -> str:
    return (
        _kmeans_ctes(k, iters)
        + """
SELECT vec_id, CAST(cluster AS INT) AS cluster, dist AS dist_fp
FROM bf WHERE rn = 1"""
    )


ORACLES["kmeans_assign"] = _kmeans_oracle()


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): k-means cells bound the candidate
    set, cosine is evaluated only within a cell, min-id keeper — the
    embedding-space scale path for dedup (pairwise work is quadratic
    only inside a ~constant-size cell, never corpus-wide)."""
    from .operators.clustering import semdedup

    return semdedup(
        _embeddings(spark, sf_dir), k=8, iterations=3, dims=64,
        tau2_num=9, tau2_den=100,
    )


def _semdedup_oracle(tau2_num: int = 9, tau2_den: int = 100) -> str:
    # the integer test tau2_den·dot² ≥ tau2_num·‖x‖²·‖y‖² runs in
    # HUGEINT here and decimal(38,0) in Spark — both exact at ≤ ~10^33
    return (
        _kmeans_ctes()
        + """,
assign AS (SELECT vec_id, CAST(cluster AS INT) AS cluster
           FROM bf WHERE rn = 1),
n2 AS (SELECT vec_id, CAST(SUM(val * val) AS BIGINT) AS n2
       FROM qpos GROUP BY vec_id),
dots AS (SELECT x.vec_id AS xid, y.vec_id AS yid,
                CAST(SUM(px.val * py.val) AS BIGINT) AS dot
         FROM assign x JOIN assign y
           ON x.cluster = y.cluster AND x.vec_id > y.vec_id
         JOIN qpos px ON px.vec_id = x.vec_id
         JOIN qpos py ON py.vec_id = y.vec_id AND py.pos = px.pos
         GROUP BY x.vec_id, y.vec_id),
dup AS (SELECT d.xid AS vec_id, MIN(d.yid) AS dup_of
        FROM dots d
        JOIN n2 nx ON nx.vec_id = d.xid
        JOIN n2 ny ON ny.vec_id = d.yid
        WHERE d.dot > 0
          AND CAST(d.dot AS HUGEINT) * d.dot * %(den)d
              >= CAST(nx.n2 AS HUGEINT) * ny.n2 * %(num)d
        GROUP BY d.xid)
SELECT a.vec_id, a.cluster, dup.dup_of,
       dup.dup_of IS NOT NULL AS is_dup
FROM assign a LEFT JOIN dup ON dup.vec_id = a.vec_id"""
        % {"num": tau2_num, "den": tau2_den}
    )


ORACLES["semdedup"] = _semdedup_oracle()


# ----------------------------------------- corpus-mix / resample / top-k

_LANG_CTE = rf"""
t AS (SELECT doc_id, text,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS wall,
        list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      FROM documents),
s AS (SELECT doc_id, text, wall, w,
  len(list_intersect(w, {_sql_list(_SW['en'])})) AS en,
  len(list_intersect(w, {_sql_list(_SW['de'])})) AS de,
  len(list_intersect(w, {_sql_list(_SW['es'])})) AS es,
  len(list_intersect(w, {_sql_list(_SW['fr'])})) AS fr
  FROM t),
l AS (SELECT doc_id, text, wall, w,
  CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
       WHEN en >= de AND en >= es AND en >= fr THEN 'en'
       WHEN de >= es AND de >= fr THEN 'de'
       WHEN es >= fr THEN 'es'
       ELSE 'fr' END AS lang
  FROM s)"""


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(language, split) corpus composition rollup — one row-local
    projection (lang + md5 split + token count composed, no joins) into
    a single tiny-key groupBy with map-side partials."""
    return curation.corpus_mix(_docs(spark, sf_dir))


ORACLES["corpus_mix"] = rf"""
WITH {_LANG_CTE},
m AS (SELECT lang,
  CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split,
  n_tok, n_chr
  FROM (SELECT lang, len(wall) AS n_tok, length(text) AS n_chr,
          CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS INT) AS b
        FROM l))
SELECT lang, split,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
  CAST(SUM(n_chr) AS BIGINT) AS total_chars
FROM m GROUP BY lang, split
"""


def q_quota_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language retention sampling (salted md5 coin,
    independent of the split coin) — kept rows only."""
    return curation.quota_resample(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "lang", "sample_bucket"
    )


ORACLES["quota_resample"] = rf"""
WITH {_LANG_CTE},
r AS (SELECT doc_id, lang,
  CAST(CAST('0x' || substr(md5('rs:' || CAST(doc_id AS VARCHAR)), 1, 4) AS INTEGER) % 100 AS INT) AS sample_bucket
  FROM l)
SELECT doc_id, lang, sample_bucket FROM r
WHERE sample_bucket < CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 80
                                WHEN 'es' THEN 80 WHEN 'fr' THEN 80
                                ELSE 25 END
"""


def q_quality_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality top-5 via the skew-safe two-phase salted
    window (each hot language sorts across n_salts partitions first)."""
    return curation.quality_topk(_docs(spark, sf_dir), k=5, n_salts=16)


ORACLES["quality_topk"] = rf"""
WITH {_LANG_CTE},
m AS (SELECT doc_id, lang,
  round(least(len(wall) / 64.0, 1.0) * 0.4 +
        least((len(list_filter(wall, x -> list_contains({_ALL_SW}, x))) /
               greatest(len(wall), 1)) * 4, 1.0) * 0.3 +
        (len(list_distinct(wall)) / greatest(len(wall), 1)) * 0.3, 6) AS quality
  FROM l),
rk AS (SELECT lang, doc_id, quality,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY quality DESC, doc_id) AS INT) AS rank
       FROM m)
SELECT lang, doc_id, quality, rank FROM rk WHERE rank <= 5
"""


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF preference pairs: documents bucketed 10-per-prompt, chosen
    vs rejected by blended quality score with struct-ordered id
    tie-breaks (curation.preference_pairs) — one hash aggregation."""
    docs = _docs(spark, sf_dir)
    scored = docs.select(
        F.floor(F.col("doc_id") / 10).cast("long").alias("prompt_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        text.quality_col().alias("quality"),
    )
    return curation.preference_pairs(
        scored, "prompt_id", "quality", id_col="doc_id"
    )


ORACLES["preference_pairs"] = rf"""
WITH t AS (SELECT doc_id, text,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
q AS (SELECT CAST(doc_id // 10 AS BIGINT) AS prompt_id,
  CAST(doc_id AS BIGINT) AS doc_id,
  round(least(len(w) / 64.0, 1.0) * 0.4 +
        least((len(list_filter(w, x -> list_contains({_ALL_SW}, x))) /
               greatest(len(w), 1)) * 4, 1.0) * 0.3 +
        (len(list_distinct(w)) / greatest(len(w), 1)) * 0.3, 6) AS quality
  FROM t),
r AS (SELECT prompt_id, doc_id, quality,
        ROW_NUMBER() OVER (PARTITION BY prompt_id
                           ORDER BY quality DESC, doc_id DESC) AS rb,
        ROW_NUMBER() OVER (PARTITION BY prompt_id
                           ORDER BY quality ASC, doc_id ASC) AS rw,
        COUNT(*) OVER (PARTITION BY prompt_id) AS n
      FROM q)
SELECT b.prompt_id, b.doc_id AS chosen_id, w.doc_id AS rejected_id,
       b.quality AS chosen_score, w.quality AS rejected_score,
       round(b.quality - w.quality, 6) AS margin
FROM (SELECT * FROM r WHERE rb = 1) b
JOIN (SELECT * FROM r WHERE rw = 1) w USING (prompt_id)
WHERE b.n >= 2 AND round(b.quality - w.quality, 6) >= 0.0
"""


def q_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point gram matrix of the embeddings corpus
    (clustering.gram_matrix): per-Arrow-batch integer XᵀX partials, one
    d²-key groupBy — the collect-d²-never-N scale pattern for
    PCA/whitening."""
    from .operators.clustering import gram_matrix

    return gram_matrix(_embeddings(spark, sf_dir))


ORACLES["embedding_gram"] = """
WITH idx AS (SELECT CAST(unnest(generate_series(0, 63)) AS INT) AS i),
q AS (SELECT vec_id, idx.i AS i,
        CAST(ROUND(CAST(list_extract(embedding, idx.i + 1) AS DOUBLE)
                   * 1000) AS BIGINT) AS qv
      FROM embeddings CROSS JOIN idx)
SELECT a.i AS i, b.i AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS dot
FROM q a JOIN q b USING (vec_id)
GROUP BY 1, 2
"""


def q_entity_link_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-1 fuzzy linking over deterministically perturbed mention
    surfaces (every did%3==0 mention gets a trailing junk char —
    exact-match linking loses those; the SymSpell deletion-blocked
    fuzzy join recovers them)."""
    from .operators.link import fuzzy_link_entities

    st = _corpus(spark, sf_dir, fmt="ntriples")
    did = F.regexp_extract(F.col("mention_node"), r"urn:e:(\d+)", 1).cast(
        "long"
    )
    pert = F.when(
        did % 3 == 0, F.concat(F.col("surface_norm"), F.lit("x"))
    ).otherwise(F.col("surface_norm"))
    return fuzzy_link_entities(
        st, entity_dictionary(spark, sf_dir), surface_col=pert
    ).select(
        "conv_id", "turn_idx", "mention_node", "canonical_iri",
        F.col("score").cast("double").alias("score"),
    )


ORACLES["entity_link_fuzzy"] = _SEED + r"""
, men AS (
  SELECT 'c'||did AS conv_id, tix AS turn_idx, 'urn:e:'||did AS mention_node,
    CASE WHEN did % 3 = 0 THEN base || 'x' ELSE base END AS surface
  FROM (SELECT did, tix,
          CASE WHEN did % 10 = 0 THEN 'entity "'||did||'"'
               ELSE 'entity '||did END AS base
        FROM t)),
dict AS (
  SELECT 'entity '||did AS dict_surface, 'urn:e:'||did AS canonical_iri,
         1.0 AS weight FROM (SELECT DISTINCT did FROM t)
  UNION ALL
  SELECT 'ent '||did, 'urn:e:'||did, 0.5 FROM (SELECT DISTINCT did FROM t)),
mv AS (SELECT m.*, unnest(list_distinct(list_append(
         list_transform(range(1, length(surface)+1),
           i -> substr(surface, 1, i-1) || substr(surface, i+1, length(surface))),
         surface))) AS variant
       FROM men m),
dv AS (SELECT d.*, unnest(list_distinct(list_append(
         list_transform(range(1, length(dict_surface)+1),
           i -> substr(dict_surface, 1, i-1) || substr(dict_surface, i+1, length(dict_surface))),
         dict_surface))) AS variant
       FROM dict d),
cand AS (
  SELECT mv.conv_id, mv.turn_idx, mv.mention_node, dv.canonical_iri, dv.weight,
         levenshtein(mv.surface, dv.dict_surface) AS lev,
         round(1 - levenshtein(mv.surface, dv.dict_surface) /
               greatest(length(mv.surface), length(dv.dict_surface), 1), 6)
           AS score
  FROM mv JOIN dv USING (variant)
  WHERE levenshtein(mv.surface, dv.dict_surface) <= 1),
rk AS (
  SELECT conv_id, turn_idx, mention_node, canonical_iri, score,
         ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx, mention_node
                            ORDER BY score DESC, weight DESC,
                                     canonical_iri DESC) AS rn
  FROM cand)
SELECT conv_id, turn_idx, mention_node, canonical_iri, score
FROM rk WHERE rn = 1
"""


def q_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order permutation via the
    two-level (order-preserving hash blocks + per-block ranks + driver
    prefix sum) scheme — never a single-partition global window."""
    return curation.global_shuffle(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "pos"
    )


ORACLES["global_shuffle"] = """
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (ORDER BY md5('gs:' || CAST(doc_id AS VARCHAR)),
                          doc_id) - 1 AS BIGINT) AS pos
FROM documents
"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (SURVEY.md §2.11 + the dedup family):
    land the documents corpus with planted exact duplicates
    (doc_id % 5 == 0 re-offered under doc_id+1000000), drain it through
    the stateful dropDuplicates stage exactly-once, then project the
    surviving distinct-body set onto a SQL-expressible surface: the
    minimum doc_id carrying each surviving body plus its carrier count.
    Extra/duplicate emissions would inflate n_docs, so the gate also
    checks the exactly-once property."""
    import tempfile

    from .operators.dedup import _hash64, normalized_text
    from .streaming.stream_dedup import stream_dedup

    base = tempfile.mkdtemp(prefix="semargl_q_sdedup_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    dupes = docs.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    docs.unionAll(dupes).write.mode("overwrite").parquet(f"{base}/in")
    q = stream_dedup(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
    _drain(spark, q, "stream_dedup")
    survivors = spark.read.parquet(f"{base}/out")
    body = normalized_text("text")
    hashed = spark.read.parquet(f"{base}/in").select(
        "doc_id",
        _hash64(body).alias("h1"),
        _hash64(body, seed=0x5EED).alias("h2"),
    )
    return (
        survivors.join(hashed, ["h1", "h2"])
        .groupBy("h1", "h2")
        .agg(
            F.min("doc_id").cast("long").alias("keep_id"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
        .select("keep_id", "n_docs")
    )


ORACLES["stream_dedup"] = r"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
),
n AS (SELECT doc_id,
       regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS body
      FROM all_docs)
SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_docs FROM n GROUP BY body
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: admit a NEW batch against the existing
    documents corpus through the LSH band index only (never
    re-clustering the corpus). The batch plants all three outcomes:
    perturbed copies of corpus docs (doc_id%3==0 → rejected against the
    corpus), synthetic fresh docs (doc_id%3==1 → admitted), and
    intra-batch duplicate pairs (doc_id%3==2, same body under two ids →
    the higher id is rejected against the lower). md5 hash method so
    the DuckDB oracle replays the identical shingle→minhash→band→verify
    pipeline."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    i = F.col("doc_id")
    perturbed = docs.filter(i % 3 == 0).select(
        (i + 2000000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    fresh = docs.filter(i % 3 == 1).select(
        (i + 3000000).alias("doc_id"),
        F.concat(
            F.lit("fresh doc "), i.cast("string"),
            F.lit(" unique body "), (i * 7).cast("string"),
        ).alias("text"),
    )
    bdup_text = F.concat(
        F.lit("batch dup "), i.cast("string"),
        F.lit(" payload "), (i * 13).cast("string"),
    )
    b1 = docs.filter(i % 3 == 2).select(
        (i + 4000000).alias("doc_id"), bdup_text.alias("text")
    )
    b2 = docs.filter(i % 3 == 2).select(
        (i + 5000000).alias("doc_id"), bdup_text.alias("text")
    )
    new_batch = perturbed.unionByName(fresh).unionByName(b1).unionByName(b2)
    return dedup.incremental_near_dedup(
        docs, new_batch, threshold=0.5, hash_method="md5"
    ).select(F.col("doc_id").cast("long"), "dup_of", "admitted")


def _incremental_oracle() -> str:
    from .operators.dedup import _MH_A, _MH_B, _MH_P

    sig_cols = ", ".join(
        f"MIN(({_MH_A[j]} * b + {_MH_B[j]}) % {_MH_P}) AS m{j}"
        for j in range(16)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, side, {b} AS band, "
        f"array_to_string([m{4*b}, m{4*b+1}, m{4*b+2}, m{4*b+3}], ',') AS key "
        "FROM sig"
        for b in range(4)
    )
    return rf"""
WITH corpus AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text, 'c' AS side FROM documents),
newb AS (
  SELECT CAST(doc_id + 2000000 AS BIGINT) AS doc_id, text || ' tail' AS text,
         'n' AS side FROM documents WHERE doc_id % 3 = 0
  UNION ALL
  SELECT CAST(doc_id + 3000000 AS BIGINT),
         'fresh doc ' || CAST(doc_id AS VARCHAR) || ' unique body ' ||
         CAST(doc_id * 7 AS VARCHAR), 'n' FROM documents WHERE doc_id % 3 = 1
  UNION ALL
  SELECT CAST(doc_id + 4000000 AS BIGINT),
         'batch dup ' || CAST(doc_id AS VARCHAR) || ' payload ' ||
         CAST(doc_id * 13 AS VARCHAR), 'n' FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT CAST(doc_id + 5000000 AS BIGINT),
         'batch dup ' || CAST(doc_id AS VARCHAR) || ' payload ' ||
         CAST(doc_id * 13 AS VARCHAR), 'n' FROM documents WHERE doc_id % 3 = 2),
alldocs AS (SELECT * FROM corpus UNION ALL SELECT * FROM newb),
t AS (SELECT doc_id, side, {_NORM_W} AS w FROM alldocs),
sh AS (SELECT doc_id, side,
       list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w[1:3], ' ')]
            ELSE list_transform(range(1, len(w)-1),
                                i -> w[i]||' '||w[i+1]||' '||w[i+2]) END) AS s
       FROM t),
shx AS (SELECT doc_id, side, unnest(s) AS x FROM sh),
hh AS (SELECT doc_id, side, ({_h60('x')}) % {_MH_P} AS b FROM shx),
sig AS (SELECT doc_id, side, {sig_cols} FROM hh GROUP BY doc_id, side),
banded AS (
{bands}),
cand_c AS (SELECT DISTINCT a.doc_id AS new_id, c.doc_id AS other_id
           FROM banded a JOIN banded c ON a.band = c.band AND a.key = c.key
           WHERE a.side = 'n' AND c.side = 'c'),
cand_n AS (SELECT DISTINCT a.doc_id AS new_id, o.doc_id AS other_id
           FROM banded a JOIN banded o ON a.band = o.band AND a.key = o.key
           WHERE a.side = 'n' AND o.side = 'n' AND o.doc_id < a.doc_id),
ver_c AS (SELECT new_id, other_id FROM cand_c
          JOIN sh x ON x.doc_id = cand_c.new_id AND x.side = 'n'
          JOIN sh y ON y.doc_id = cand_c.other_id AND y.side = 'c'
          WHERE len(list_intersect(x.s, y.s)) /
                greatest(len(list_distinct(list_concat(x.s, y.s))), 1) >= 0.5),
ver_n AS (SELECT new_id, other_id FROM cand_n
          JOIN sh x ON x.doc_id = cand_n.new_id AND x.side = 'n'
          JOIN sh y ON y.doc_id = cand_n.other_id AND y.side = 'n'
          WHERE len(list_intersect(x.s, y.s)) /
                greatest(len(list_distinct(list_concat(x.s, y.s))), 1) >= 0.5),
bc AS (SELECT new_id, MIN(other_id) AS m FROM ver_c GROUP BY new_id),
bn AS (SELECT new_id, MIN(other_id) AS m FROM ver_n GROUP BY new_id)
SELECT n.doc_id, COALESCE(bc.m, bn.m) AS dup_of,
       COALESCE(bc.m, bn.m) IS NULL AS admitted
FROM newb n
LEFT JOIN bc ON bc.new_id = n.doc_id
LEFT JOIN bn ON bn.new_id = n.doc_id
"""


ORACLES["dedup_incremental"] = _incremental_oracle()


def _win16_sql(docs_cte: str) -> str:
    """DuckDB CTEs building each doc's DISTINCT 16-word spans from the
    CTE ``docs_cte(doc_id, text)`` — mirrors dedup.shingles(k=16)
    including the n<k whole-text degradation."""
    terms = "||' '||".join(["w[i]"] + [f"w[i+{j}]" for j in range(1, 16)])
    return rf"""
t AS (SELECT doc_id, {_NORM_W} AS w FROM {docs_cte}),
sh AS (SELECT doc_id,
       list_distinct(CASE WHEN len(w) < 16 THEN [array_to_string(w[1:16], ' ')]
            ELSE list_transform(range(1, len(w)-14), i -> {terms}) END) AS s
       FROM t),
exw AS (SELECT doc_id, unnest(s) AS win FROM sh)"""


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring (16-word verbatim span) duplicate pairs over a
    corpus with planted containment: every doc_id%50==0 document gets a
    copy under id+6000000 with extra trailing words — near-invisible to
    set-Jaccard on long docs, but an exact substring dup. max_bucket=10
    exercises the boilerplate guard on the pair join."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    copies = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 6000000).alias("doc_id"),
        F.concat("text", F.lit(" plus wholly fresh trailing suffix words")).alias(
            "text"
        ),
    )
    corpus = docs.unionByName(copies)
    return dedup.substring_dup_pairs(corpus, window=16, max_bucket=10).select(
        F.col("doc_a").cast("long"),
        F.col("doc_b").cast("long"),
        F.col("n_shared_windows").cast("long"),
    )


ORACLES["dedup_substring"] = rf"""
WITH corpus AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id + 6000000 AS BIGINT),
         text || ' plus wholly fresh trailing suffix words'
  FROM documents WHERE doc_id % 50 = 0),
{_win16_sql('corpus')},
ok AS (SELECT win FROM exw GROUP BY win HAVING COUNT(*) <= 10),
exf AS (SELECT doc_id, win FROM exw JOIN ok USING (win))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared_windows
FROM exf a JOIN exf b ON a.win = b.win AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


def q_boilerplate_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-span report (the linear complement of dedup_substring's
    max_bucket guard): a 17-word disclaimer appended to every
    doc_id%10==0 document must surface as 2 spans carried by
    n_docs(corpus)/10 documents each."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    suffix = (
        " standard legal disclaimer boilerplate sentence repeated verbatim"
        " across many documents of this corpus for testing window detection"
    )
    corpus = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0, F.concat("text", F.lit(suffix))
        ).otherwise(F.col("text")).alias("text"),
    )
    return dedup.boilerplate_windows(corpus, window=16, min_docs=25).select(
        "win", F.col("n_docs").cast("long")
    )


ORACLES["boilerplate_windows"] = rf"""
WITH corpus AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CASE WHEN doc_id % 10 = 0 THEN text ||
           ' standard legal disclaimer boilerplate sentence repeated verbatim' ||
           ' across many documents of this corpus for testing window detection'
         ELSE text END AS text
  FROM documents),
{_win16_sql('corpus')}
SELECT win, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM exw GROUP BY win HAVING COUNT(*) >= 25
"""


def q_corpus_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact nearest-rank token-length quantiles via the
    value-histogram rollup (operators/text.py length_quantiles) — the
    length-distribution report that sizes truncation and packing
    budgets."""
    return text.length_quantiles(
        _docs(spark, sf_dir), qs=(0.5, 0.9, 0.99), by="source"
    ).select(
        "source", "n_docs",
        F.col("q50").cast("long"), F.col("q90").cast("long"),
        F.col("q99").cast("long"),
    )


ORACLES["corpus_quantiles"] = rf"""
WITH t AS (SELECT source,
        CASE WHEN trim(text) = '' THEN 0
             ELSE len({_NORM_W}) END AS v
      FROM documents),
g AS (SELECT source, v, COUNT(*) AS c FROM t GROUP BY source, v),
w AS (SELECT source, v,
        SUM(c) OVER (PARTITION BY source ORDER BY v) AS cum,
        SUM(c) OVER (PARTITION BY source) AS tot
      FROM g)
SELECT source, CAST(MAX(tot) AS BIGINT) AS n_docs,
       MIN(CASE WHEN cum >= CEIL(0.5 * tot) THEN v END) AS q50,
       MIN(CASE WHEN cum >= CEIL(0.9 * tot) THEN v END) AS q90,
       MIN(CASE WHEN cum >= CEIL(0.99 * tot) THEN v END) AS q99
FROM w GROUP BY source
"""


def q_kg_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG shape report per predicate: edge count, distinct subjects and
    objects, and the hottest out-degree — the health check that spots
    celebrity hubs (skew planning input for canonicalization) and
    predicate cardinality classes (1:1 vs 1:N vs M:N). Two hash
    aggregates over the edge table; the distincts are exact."""
    edges = _kg_edges(spark, sf_dir)
    out_deg = edges.groupBy("pred", "src").agg(
        F.count(F.lit(1)).alias("d")
    )
    per_pred = edges.groupBy("pred").agg(
        F.count(F.lit(1)).alias("n_edges"),
        F.countDistinct("src").alias("n_src"),
        F.countDistinct("dst").alias("n_dst"),
    )
    hot = out_deg.groupBy("pred").agg(F.max("d").alias("max_out_degree"))
    return per_pred.join(hot, "pred").select(
        "pred", "n_edges", "n_src", "n_dst", "max_out_degree"
    )


ORACLES["kg_degree_stats"] = _KG_EDGES_SQL + """
SELECT pred, COUNT(*) AS n_edges,
       COUNT(DISTINCT src) AS n_src, COUNT(DISTINCT dst) AS n_dst,
       (SELECT MAX(d) FROM (SELECT COUNT(*) AS d FROM edges e2
                            WHERE e2.pred = e.pred GROUP BY e2.src))
         AS max_out_degree
FROM edges e GROUP BY pred
"""


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by tf/df (TF-IDF-style salience with a
    rational, engine-exact weight) — operators/curation.top_terms."""
    return curation.top_terms(_docs(spark, sf_dir), k=3).select(
        F.col("doc_id").cast("long"), "term", "tf", "df", "rnk"
    )


ORACLES["top_terms"] = r"""
WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
               AS ws
           FROM documents),
t AS (SELECT doc_id, unnest(ws) AS term FROM w),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY tf.doc_id
          ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS INT) AS rnk
      FROM tf JOIN df USING (term))
SELECT CAST(doc_id AS BIGINT) AS doc_id, term, tf, df, rnk
FROM r WHERE rnk <= 3
"""


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word trigrams (count desc, gram asc) — the
    boilerplate/contamination reconnaissance rollup,
    operators/curation.top_ngrams (TakeOrderedAndProject top-k)."""
    return curation.top_ngrams(_docs(spark, sf_dir), n=3, k=20)


ORACLES["top_ngrams"] = r"""
WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
               AS ws
           FROM documents),
g AS (SELECT unnest(CASE WHEN len(ws) < 3 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(range(1, len(ws) - 1),
                                   i -> array_to_string(ws[i:i+2], ' ')) END)
        AS ngram
      FROM w),
c AS (SELECT ngram, CAST(COUNT(*) AS BIGINT) AS n_count FROM g GROUP BY 1),
r AS (SELECT ngram, n_count,
        CAST(ROW_NUMBER() OVER (ORDER BY n_count DESC, ngram) AS INT) AS rnk
      FROM c)
SELECT ngram, n_count, rnk FROM r WHERE rnk <= 20
"""


def q_context_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 16-token windows with stride 8 over every document
    (curation.context_windows) — shuffle-free row-local chunking for
    pretraining sequence prep."""
    return curation.context_windows(
        _docs(spark, sf_dir), width=16, stride=8
    ).select(
        F.col("doc_id").cast("long"), "win_idx", "win_start", "n_tokens", "chunk"
    )


ORACLES["context_windows"] = r"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(string_split(regexp_replace(lower(trim(text)),
                                                  '\s+', ' ', 'g'), ' ')) END AS n
      FROM documents),
v AS (SELECT doc_id, w, n,
        CAST(ceil(greatest(n - 16, 0) / 8.0) + 1 AS INT) AS nw
      FROM t WHERE n > 0),
e AS (SELECT doc_id, w, n, unnest(generate_series(0, nw - 1)) AS k FROM v)
SELECT doc_id, CAST(k AS INT) AS win_idx, CAST(k * 8 AS INT) AS win_start,
       CAST(least(n - k * 8, 16) AS INT) AS n_tokens,
       array_to_string(w[k * 8 + 1 : k * 8 + 16], ' ') AS chunk
FROM e
"""


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed BPE training round: corpus → word-frequency
    table → frequency-weighted adjacent character-pair counts over the
    vocabulary, top-20 (text.bpe_pair_counts)."""
    return text.bpe_pair_counts(_docs(spark, sf_dir), k=20)


ORACLES["bpe_pairs"] = r"""
WITH w AS (SELECT unnest(string_split(regexp_replace(lower(trim(text)),
                                                     '\s+', ' ', 'g'), ' '))
             AS word
           FROM documents),
wf AS (SELECT word, COUNT(*) AS c FROM w WHERE length(word) >= 2
       GROUP BY word),
p AS (SELECT unnest(list_transform(generate_series(1, length(word) - 1),
                                   i -> substring(word, i, 2))) AS pair, c
      FROM wf)
SELECT pair, CAST(SUM(c) AS BIGINT) AS n
FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 20
"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, 8 merge rounds → the ordered merge table
    (text.bpe_train): one distributed word-frequency collapse, then the
    driver-local pair-index trainer — subword-nmt semantics, and a
    Spark job count independent of the merge budget."""
    return text.bpe_train(_docs(spark, sf_dir), n_merges=8)


# a gate name the 285-gate contract keeps: same trainer, same oracle
q_bpe_train_batched = q_bpe_train


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply side of BPE training: the corpus vocabulary segmented
    under 8 trained merges → (word, segmented, n_subwords, c)
    (text.bpe_segment) — the tokenizer-fertility table."""
    return text.bpe_segment(_docs(spark, sf_dir), n_merges=8)


def _bpe_ctes(n_merges: int = 8) -> str:
    """Unrolled merge rounds: per round, a pair-count CTE over the
    current vocabulary, a 1-row argmax, and a list_reduce greedy
    left-to-right merge — the same greedy merge the trainer applies."""
    sql = r"""
WITH wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(string_split(regexp_replace(
                            lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
                  FROM documents)
            WHERE regexp_matches(word, '^[a-z0-9]+$') AND length(word) >= 2
            GROUP BY word),
v0 AS (SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS s, c FROM wf)"""
    for i in range(1, n_merges + 1):
        sql += f""",
y{i} AS (SELECT s, string_split(s, ' ') AS sy, c FROM v{i - 1}),
p{i} AS (SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
                                      i -> sy[i] || ' ' || sy[i + 1])) AS pair, c
         FROM y{i} WHERE len(sy) >= 2),
best{i} AS (SELECT pair, string_split(pair, ' ')[1] AS a,
                   string_split(pair, ' ')[2] AS b,
                   CAST(SUM(c) AS BIGINT) AS n
            FROM p{i} GROUP BY pair ORDER BY n DESC, pair LIMIT 1),
v{i} AS (SELECT CASE WHEN len(y.sy) < 2 OR b.a IS NULL THEN y.s ELSE
                list_reduce(y.sy, (acc, x) ->
                  CASE WHEN (acc = b.a OR ends_with(acc, ' ' || b.a))
                            AND x = b.b
                       THEN acc || b.b ELSE acc || ' ' || x END) END AS s, c
         FROM y{i} y LEFT JOIN best{i} b ON true)"""
    return sql


def _bpe_train_oracle(n_merges: int = 8) -> str:
    return (
        _bpe_ctes(n_merges)
        + "\n"
        + "\nUNION ALL\n".join(
            f"SELECT {i} AS step, pair, replace(pair, ' ', '') AS merged, n"
            f" FROM best{i}"
            for i in range(1, n_merges + 1)
        )
    )


def _bpe_segment_oracle(n_merges: int = 8) -> str:
    return _bpe_ctes(n_merges) + f"""
SELECT replace(s, ' ', '') AS word, s AS segmented,
       CAST(len(string_split(s, ' ')) AS INT) AS n_subwords, c
FROM v{n_merges}"""


ORACLES["bpe_train"] = _bpe_train_oracle()
ORACLES["bpe_train_batched"] = _bpe_train_oracle()
ORACLES["bpe_segment"] = _bpe_segment_oracle()


def q_c4_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style rule filtering flags + keep decision per document
    (operators/curation.c4_rule_filter) — shuffle-free row-local
    projection, integer per-mille thresholds."""
    return curation.c4_rule_filter(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "n_words", "max_word_len",
        "n_terminal_lines", "n_lines", "top_token_permille",
        "has_brace", "has_blocked", "keep",
    )


ORACLES["c4_filter"] = r"""
WITH t AS (SELECT doc_id, text,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w,
        string_split(text, chr(10)) AS lines
      FROM documents),
x AS (SELECT doc_id, unnest(w) AS tok FROM t),
c AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM x GROUP BY 1, 2),
m AS (SELECT doc_id, MAX(cnt) AS topc FROM c GROUP BY 1),
f AS (SELECT t.doc_id,
        CAST(len(t.w) AS BIGINT) AS n_words,
        CAST(list_max(list_transform(t.w, s -> len(s))) AS BIGINT) AS max_word_len,
        CAST(len(list_filter(t.lines,
               l -> regexp_matches(l, '[.!?"'']\s*$'))) AS BIGINT) AS n_terminal_lines,
        CAST(len(t.lines) AS BIGINT) AS n_lines,
        CAST((m.topc * 1000) // len(t.w) AS BIGINT) AS top_token_permille,
        (contains(t.text, '{') OR contains(t.text, '}')) AS has_brace,
        (contains(lower(t.text), 'lorem ipsum')
         OR contains(lower(t.text), 'javascript required')) AS has_blocked
      FROM t JOIN m USING (doc_id))
SELECT *,
  (n_words >= 50 AND n_words <= 100000 AND max_word_len <= 20
   AND top_token_permille <= 80 AND NOT has_brace AND NOT has_blocked) AS keep
FROM f
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-one bigram-LM fluency score in integer
    micro-units (operators/lm.bigram_lm_score) — the CCNet-style
    model-based quality signal, fixed-point so it is bit-identical
    across engines and parallelism."""
    from .operators.lm import bigram_lm_score

    return bigram_lm_score(_docs(spark, sf_dir)).select(
        F.col("doc_id").cast("long"), "n_bigrams", "score_micro",
    )


ORACLES["lm_score"] = r"""
WITH t AS (SELECT doc_id,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
v AS (SELECT COUNT(DISTINCT tok) AS v
      FROM (SELECT unnest(w) AS tok FROM t)),
bi AS (SELECT doc_id, w[gs] AS w1, w[gs + 1] AS w2
       FROM t, unnest(generate_series(1, len(w) - 1)) AS g(gs)
       WHERE len(w) >= 2),
bid AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM bi GROUP BY 1, 2, 3),
c2 AS (SELECT w1, w2, SUM(k) AS c2 FROM bid GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(k) AS c1 FROM bid GROUP BY 1),
q AS (SELECT bid.doc_id, bid.k,
        (1000000 * (c2.c2 + 1)) // (c1.c1 + (SELECT v FROM v)) AS q
      FROM bid JOIN c2 USING (w1, w2) JOIN c1 USING (w1)),
s AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
        CAST(SUM(q * k) // SUM(k) AS BIGINT) AS score_micro
      FROM q GROUP BY 1)
SELECT d.doc_id, COALESCE(s.n_bigrams, 0) AS n_bigrams, s.score_micro
FROM documents d LEFT JOIN s USING (doc_id)
"""


# ----------------------------------------- KG-embedding training prep (r2c)


def _hexfold(expr: str, ndigits: int) -> str:
    """DuckDB BIGINT from the first ``ndigits`` hex digits of md5 —
    mirrors Spark's ``conv(substring(md5(x), 1, n), 16, 10)``."""
    return (
        f"list_reduce(list_transform(range(1,{ndigits + 1}), i -> "
        f"CAST(strpos('0123456789abcdef', substr(md5({expr}), i, 1)) - 1 "
        "AS BIGINT)), (a,b) -> a*16+b)"
    )


def q_kg_node_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous 0..n-1 node ids without a global sort: two-level
    (bucket-local rank + driver-side 64-row offset table) indexing over
    the KG node set — the pattern that replaces ``row_number() OVER
    (ORDER BY node)``'s single-partition sort at 10^9+ nodes."""
    from .operators.graph import node_index

    edges = _kg_edges(spark, sf_dir)
    return node_index(edges, n_buckets=64)


_NODE_INDEX_SQL = _KG_EDGES_SQL + f""",
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
nb AS (SELECT node, CAST({_hexfold('node', 4)} % 64 AS INT) AS bucket
       FROM nodes),
boff AS (SELECT bucket, COUNT(*) AS c FROM nb GROUP BY bucket),
boff2 AS (SELECT bucket, COALESCE(SUM(c) OVER (ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
          FROM boff),
nidx AS (SELECT nb.node,
         CAST(boff2.o + ROW_NUMBER() OVER (PARTITION BY nb.bucket
              ORDER BY nb.node) - 1 AS BIGINT) AS node_idx
         FROM nb JOIN boff2 USING (bucket))
"""

ORACLES["kg_node_index"] = _NODE_INDEX_SQL + "SELECT node, node_idx FROM nidx"


def q_kg_neg_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TransE-style filtered negative sampling (k=2 corrupted tails per
    edge, deterministic md5 tail choice, true-edge anti-join) — the
    training-pair generator for KG-embedding jobs."""
    from .operators.graph import negative_samples

    edges = _kg_edges(spark, sf_dir)
    return negative_samples(edges, k=2)


ORACLES["kg_neg_samples"] = _NODE_INDEX_SQL + f""",
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nidx),
cand AS (SELECT src, pred, dst, CAST(gs AS INT) AS neg_ix,
         {_hexfold("src||'|'||pred||'|'||dst||'|'||CAST(gs AS VARCHAR)", 12)}
           % (SELECT n FROM nn) AS cand_idx
         FROM edges CROSS JOIN (SELECT unnest(range(0, 2)) AS gs)),
j AS (SELECT c.src, c.pred, c.dst, c.neg_ix, i.node AS neg_dst
      FROM cand c JOIN nidx i ON i.node_idx = c.cand_idx)
SELECT j.src, j.pred, j.dst, j.neg_ix, j.neg_dst
FROM j LEFT JOIN edges e
  ON e.src = j.src AND e.pred = j.pred AND e.dst = j.neg_dst
WHERE e.src IS NULL
"""


# ------------------------------------------- SPARQL surface extensions (r2d)


def q_kg_bgp_minus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL MINUS over the KG: knows pairs whose target is NOT typed
    Thing — one left-anti hash join on the shared variable, never a
    per-row subquery."""
    from .operators.bgp import match_bgp_minus

    edges = _kg_edges(spark, sf_dir)
    return match_bgp_minus(
        edges,
        [("?a", "urn:p:knows", "?b")],
        [("?b", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
          "urn:t:Thing")],
    )


ORACLES["kg_bgp_minus"] = _KG_EDGES_SQL + """
SELECT k.src AS a, k.dst AS b FROM edges k
WHERE k.pred = 'urn:p:knows' AND NOT EXISTS (
  SELECT 1 FROM edges t
  WHERE t.pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
    AND t.dst = 'urn:t:Thing' AND t.src = k.dst)
"""


def q_kg_bgp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ORDER BY ... LIMIT over a BGP: the 25 lexicographically
    largest knows→relation chains. Spark plans TakeOrderedAndProject
    (per-task k-row heaps, driver merge) — no global sort."""
    from .operators.bgp import match_bgp_topk

    edges = _kg_edges(spark, sf_dir)
    return match_bgp_topk(
        edges,
        [("?a", "urn:p:knows", "?b"),
         ("?b", "http://purl.org/dc/terms/relation", "?c")],
        [("a", "desc")],
        k=25,
    )


ORACLES["kg_bgp_topk"] = _KG_EDGES_SQL + """
SELECT k.src AS a, k.dst AS b, r.dst AS c
FROM edges k JOIN edges r ON r.src = k.dst
WHERE k.pred = 'urn:p:knows' AND r.pred = 'http://purl.org/dc/terms/relation'
ORDER BY k.src DESC, k.dst ASC, r.dst ASC LIMIT 25
"""


def q_kg_path_alt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path with alternation + inverse:
    ``(knows|^relation){1,2}`` — the step relation is unioned once up
    front, then the same semi-naive bounded closure as kg_path."""
    from .operators.graph import bounded_paths_alt

    edges = _kg_edges(spark, sf_dir)
    return bounded_paths_alt(
        edges, ["urn:p:knows"], max_hops=2,
        inverse_preds=["http://purl.org/dc/terms/relation"],
    )


ORACLES["kg_path_alt"] = _KG_EDGES_SQL + """,
step AS (
  SELECT DISTINCT a, b FROM (
    SELECT src AS a, dst AS b FROM edges WHERE pred = 'urn:p:knows'
    UNION ALL
    SELECT dst AS a, src AS b FROM edges
    WHERE pred = 'http://purl.org/dc/terms/relation')),
h1 AS (SELECT a, b, 1 AS hops FROM step),
h2 AS (SELECT h1.a, s.b, 2 AS hops FROM h1 JOIN step s ON s.a = h1.b),
hall AS (SELECT * FROM h1 UNION ALL SELECT * FROM h2)
SELECT a, b, CAST(MIN(hops) AS INT) AS hops FROM hall GROUP BY a, b
"""


def q_kg_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic label propagation (3 synchronous rounds, most
    frequent neighbor label, min-label tie-break) over the undirected
    knows graph — community detection with a fully unrolled SQL oracle."""
    from .operators.graph import label_propagation

    st = _corpus(spark, sf_dir)
    knows = st.filter(F.col("pred") == "urn:p:knows").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    return label_propagation(knows, rounds=3)


def _label_prop_oracle(rounds: int = 3) -> str:
    sql = _KG_EDGES_SQL + """,
k AS (SELECT DISTINCT src, dst FROM edges WHERE pred = 'urn:p:knows'),
und AS (SELECT DISTINCT u, v FROM (
  SELECT src AS u, dst AS v FROM k WHERE src <> dst
  UNION ALL SELECT dst, src FROM k WHERE src <> dst)),
nds AS (SELECT DISTINCT u AS node FROM und),
l0 AS (SELECT node, node AS label FROM nds)"""
    for i in range(1, rounds + 1):
        p = f"l{i - 1}"
        sql += f""",
c{i} AS (SELECT und.u AS node, l.label, COUNT(*) AS c
        FROM und JOIN {p} l ON l.node = und.v GROUP BY und.u, l.label),
p{i} AS (SELECT node, label FROM (
        SELECT node, label, ROW_NUMBER() OVER (
          PARTITION BY node ORDER BY c DESC, label ASC) AS rn FROM c{i})
        WHERE rn = 1),
l{i} AS (SELECT n.node, COALESCE(p.label, n.node) AS label
        FROM nds n LEFT JOIN p{i} p USING (node))"""
    return sql + f"\nSELECT node, label FROM l{rounds}"


ORACLES["kg_label_prop"] = _label_prop_oracle(3)


def q_kg_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Component-size histogram of the canonicalization equivalence
    graph → (size, n_components): the shape report a 10^12-node CC run
    is judged by (one giant component = a linking bug), computed with
    two hash aggregations over the (node, component) table."""
    st = _corpus(spark, sf_dir, fmt="ntriples")
    comp = connected_components(_knows_blocks(st))
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("size"))
        .groupBy("size")
        .agg(F.count("*").alias("n_components"))
    )


ORACLES["kg_component_sizes"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
edges AS (SELECT did AS s, did+1 AS d FROM ids WHERE did % 16 <> 15),
nds AS (SELECT DISTINCT id FROM (SELECT s AS id FROM edges UNION ALL SELECT d FROM edges)),
blocks AS (SELECT id, id - (id % 16) AS blk FROM nds),
sizes AS (SELECT blk, CAST(COUNT(*) AS BIGINT) AS size FROM blocks GROUP BY blk)
SELECT size, CAST(COUNT(*) AS BIGINT) AS n_components FROM sizes GROUP BY size
"""


# --------------------------------------------- SHACL-lite validation (r2e)

_XSD = "http://www.w3.org/2001/XMLSchema#"
_RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_DC_TITLE = "http://purl.org/dc/terms/title"


def q_kg_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHACL-lite shape validation of the extracted graph: typed
    entities checked for tag cardinality, required title, integer
    score datatype, and IRI-kind knows — emitting violation rows only
    (operators/validate.py; three relational steps, no per-row Python)."""
    from .operators.validate import validate_shapes

    st = _corpus(spark, sf_dir)
    # each shape rule joins the statement set; checkpoint so the
    # extraction kernel runs once (8 Python subtrees observed without)
    g = (
        st.select("subj", "pred", "obj", "obj_kind", "dtype")
        .distinct()
        .localCheckpoint(eager=False)
    )
    return validate_shapes(g, [
        {"shape_id": "thing_tag_max", "target_class": "urn:t:Thing",
         "path": "urn:p:tag", "max_count": 1},
        {"shape_id": "thing_title_min", "target_class": "urn:t:Thing",
         "path": _DC_TITLE, "min_count": 1},
        {"shape_id": "thing_score_int", "target_class": "urn:t:Thing",
         "path": "urn:p:score", "min_count": 1,
         "datatype": f"{_XSD}integer"},
        {"shape_id": "thing_knows_kind", "target_class": "urn:t:Thing",
         "path": "urn:p:knows", "min_count": 1, "max_count": 1,
         "node_kind": "iri"},
    ])


ORACLES["kg_validate"] = f"""
WITH t AS (SELECT CAST(doc_id AS INT) AS did, CAST(gs AS INT) AS tix
           FROM documents CROSS JOIN (SELECT unnest(range(0,4)) AS gs)),
nt AS (SELECT * FROM t WHERE (did*7+tix)%5 = 0),
jl AS (SELECT * FROM t WHERE (did*7+tix)%5 = 1),
ra AS (SELECT * FROM t WHERE (did*7+tix)%5 = 2),
g AS (SELECT DISTINCT subj, pred, obj, obj_kind, dtype FROM (
  SELECT 'urn:e:'||did AS subj, 'urn:p:knows' AS pred,
         'urn:e:'||(did+1) AS obj, 'iri' AS obj_kind,
         CAST(NULL AS VARCHAR) AS dtype FROM nt
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:score', (did%100)||'.5',
         'literal', '{_XSD}decimal' FROM nt
  UNION ALL SELECT 'urn:e:'||did, '{_RDF_TYPE}', 'urn:t:Thing', 'iri',
         NULL FROM jl
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1), 'iri',
         NULL FROM jl
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:score', CAST(did%50 AS VARCHAR),
         'literal', '{_XSD}integer' FROM jl
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:tag', 'a'||did, 'literal',
         NULL FROM jl
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:tag', 'b', 'literal',
         NULL FROM jl
  UNION ALL SELECT 'urn:e:'||did, '{_DC_TITLE}', 'Turn '||tix, 'literal',
         NULL FROM ra)),
shapes AS (SELECT * FROM (VALUES
  ('thing_tag_max','urn:t:Thing','urn:p:tag',
   CAST(NULL AS INT), 1, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)),
  ('thing_title_min','urn:t:Thing','{_DC_TITLE}', 1, NULL, NULL, NULL),
  ('thing_score_int','urn:t:Thing','urn:p:score', 1, NULL, NULL,
   '{_XSD}integer'),
  ('thing_knows_kind','urn:t:Thing','urn:p:knows', 1, 1, 'iri', NULL)
 ) s(shape_id, target_class, path, min_count, max_count, node_kind, datatype)),
targets AS (SELECT DISTINCT g.subj AS focus, s.shape_id, s.path,
  s.min_count, s.max_count, s.node_kind, s.datatype
  FROM g JOIN shapes s ON g.pred = '{_RDF_TYPE}' AND g.obj = s.target_class),
joined AS (SELECT tg.*, v.obj, v.obj_kind, v.dtype
  FROM targets tg LEFT JOIN g v ON v.subj = tg.focus AND v.pred = tg.path),
agg AS (SELECT focus, shape_id, min_count, max_count, node_kind, datatype,
  COUNT(obj) AS n_vals,
  SUM(CASE WHEN node_kind IS NOT NULL AND obj IS NOT NULL
           AND obj_kind <> node_kind THEN 1 ELSE 0 END) AS n_kind_bad,
  SUM(CASE WHEN datatype IS NOT NULL AND obj IS NOT NULL
           AND (dtype IS NULL OR dtype <> datatype) THEN 1 ELSE 0 END)
    AS n_dtype_bad
 FROM joined GROUP BY 1,2,3,4,5,6)
SELECT focus, shape_id, 'minCount' AS "constraint",
       '>='||CAST(min_count AS VARCHAR) AS expected,
       CAST(n_vals AS BIGINT) AS got
FROM agg WHERE min_count IS NOT NULL AND n_vals < min_count
UNION ALL
SELECT focus, shape_id, 'maxCount', '<='||CAST(max_count AS VARCHAR),
       CAST(n_vals AS BIGINT)
FROM agg WHERE max_count IS NOT NULL AND n_vals > max_count
UNION ALL
SELECT focus, shape_id, 'nodeKind', node_kind, CAST(n_kind_bad AS BIGINT)
FROM agg WHERE n_kind_bad > 0
UNION ALL
SELECT focus, shape_id, 'datatype', datatype, CAST(n_dtype_bad AS BIGINT)
FROM agg WHERE n_dtype_bad > 0
"""


# --------------------------------------- streaming session windows (r2e)


def q_events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked session-window streaming aggregation: per-user
    sessions (30-min inactivity gap) drained in append mode — only
    sessions the final watermark (max ts − 1 h) has closed are emitted;
    the oracle reproduces them with the batch lag()-sessionizer."""
    import tempfile
    import uuid

    from pyspark.sql.types import (
        StructField, StructType, TimestampNTZType, TimestampType,
    )

    from .streaming.windowed import session_event_counts

    base = tempfile.mkdtemp(prefix="semargl_q_sess_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(8).write.mode("overwrite").parquet(f"{base}/in")
    schema = StructType([
        StructField(
            f.name,
            TimestampType() if isinstance(f.dataType, TimestampNTZType) else f.dataType,
            f.nullable,
        )
        for f in ev.schema.fields
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 4)
        .parquet(f"{base}/in")
    )
    sink = f"q_sess_{uuid.uuid4().hex[:8]}"
    q = (
        session_event_counts(stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _drain(spark, q, "events_stream_sessions")
    return spark.table(sink).select(
        "session_start", "session_end", "user_id", F.col("n").cast("long")
    )


ORACLES["events_stream_sessions"] = """
WITH w AS (
  SELECT user_id, ts,
         CASE WHEN epoch(ts) - LAG(epoch(ts)) OVER
                (PARTITION BY user_id ORDER BY ts, event_id) > 1800
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                IS NULL
              THEN 1 ELSE 0 END AS ns
  FROM events),
s AS (SELECT user_id, ts, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM w),
sess AS (SELECT user_id, sid, MIN(ts) AS session_start,
         MAX(ts) + INTERVAL 30 MINUTE AS session_end,
         CAST(COUNT(*) AS BIGINT) AS n
         FROM s GROUP BY user_id, sid),
wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events)
SELECT session_start, session_end, user_id, n
FROM sess WHERE session_end <= (SELECT w FROM wm)
"""


# ------------------------- projection + latency analytics (r2e, cont.)


def q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed ±1 random projection (JL transform) of the embedding
    corpus onto 8 md5-derived directions — zero-shuffle row-local map,
    fixed-point integers, bit-exact vs the SQL oracle."""
    from .operators.similarity import random_projection

    return random_projection(_embeddings(spark, sf_dir), out_dim=8)


ORACLES["embedding_project"] = """
WITH idx AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS i),
js AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS j),
q AS (SELECT vec_id, idx.i AS i,
        CAST(ROUND(CAST(list_extract(embedding, idx.i + 1) AS DOUBLE)
                   * 1000) AS BIGINT) AS qv
      FROM embeddings CROSS JOIN idx),
sgn AS (SELECT i, j,
        CASE WHEN strpos('02468ace',
                         substr(md5('rp|'||j||'|'||i), 1, 1)) > 0
             THEN 1 ELSE -1 END AS s
        FROM idx CROSS JOIN js)
SELECT q.vec_id, sgn.j, CAST(SUM(q.qv * sgn.s) AS BIGINT) AS v
FROM q JOIN sgn USING (i) GROUP BY q.vec_id, sgn.j
"""


def q_turn_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant response latency per conversation (user→assistant
    adjacency under the stable turn ordering) — integer-second window
    arithmetic, exact oracle."""
    from .operators.conversation import response_latency

    return response_latency(synth_transcripts(spark, sf_dir))


ORACLES["turn_latency"] = _SEED + """,
r AS (SELECT did, tix,
        CASE WHEN tix%3=0 THEN 'user' WHEN tix%3=1 THEN 'assistant'
             ELSE 'tool' END AS role,
        CAST(1704067200 + did*3600 + tix*60 AS BIGINT) AS es FROM t),
l AS (SELECT did,
        CASE WHEN role = 'assistant'
             AND LAG(role) OVER (PARTITION BY did ORDER BY tix) = 'user'
             THEN es - LAG(es) OVER (PARTITION BY did ORDER BY tix)
        END AS lat
      FROM r)
SELECT 'c'||did AS conv_id, CAST(COUNT(lat) AS BIGINT) AS n_responses,
       CAST(COALESCE(SUM(lat), 0) AS BIGINT) AS sum_latency_s,
       CAST(MAX(lat) AS BIGINT) AS max_latency_s
FROM l GROUP BY did
"""


# ----------------------------- RDFS inference + stream-stream join (r2f)


def q_kg_rdfs_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFS materialization over the extracted graph: a 6-axiom
    ontology (knows ⊑ related ⊑ connected; Thing ⊑ Entity ⊑ Resource;
    domain/range(knows) = Agent) entails new type and superproperty
    triples — each rule one broadcast join, closures pre-composed
    driver-side (operators/vocab.rdfs_infer)."""
    from .operators.vocab import (
        RDFS_DOMAIN, RDFS_RANGE, RDFS_SUB_CLASS_OF, RDFS_SUB_PROPERTY_OF,
        rdfs_infer,
    )

    st = _corpus(spark, sf_dir)
    # checkpoint the computed statement set: each rule is one join
    # against it, and without this the extraction kernel re-runs per
    # rule (8 Python subtrees observed). Parquet-backed callers should
    # NOT checkpoint — per-rule columnar re-scans are the better plan.
    g = (
        st.select("subj", "pred", "obj", "obj_kind")
        .distinct()
        .localCheckpoint(eager=False)
    )
    return rdfs_infer(g, [
        ("urn:p:knows", RDFS_SUB_PROPERTY_OF, "urn:p:related"),
        ("urn:p:related", RDFS_SUB_PROPERTY_OF, "urn:p:connected"),
        ("urn:t:Thing", RDFS_SUB_CLASS_OF, "urn:t:Entity"),
        ("urn:t:Entity", RDFS_SUB_CLASS_OF, "urn:t:Resource"),
        ("urn:p:knows", RDFS_DOMAIN, "urn:t:Agent"),
        ("urn:p:knows", RDFS_RANGE, "urn:t:Agent"),
    ])


ORACLES["kg_rdfs_infer"] = f"""
WITH t AS (SELECT CAST(doc_id AS INT) AS did, CAST(gs AS INT) AS tix
           FROM documents CROSS JOIN (SELECT unnest(range(0,4)) AS gs)),
nt AS (SELECT DISTINCT did FROM t WHERE (did*7+tix)%5 = 0),
jl AS (SELECT DISTINCT did FROM t WHERE (did*7+tix)%5 = 1),
knows AS (SELECT 'urn:e:'||did AS s, 'urn:e:'||(did+1) AS o FROM nt
          UNION SELECT 'urn:e:'||did, 'urn:e:'||(did+1) FROM jl),
typed AS (SELECT 'urn:e:'||did AS s FROM jl),
inf AS (
  SELECT s AS subj, 'urn:p:related' AS pred, o AS obj FROM knows
  UNION SELECT s, 'urn:p:connected', o FROM knows
  UNION SELECT s, '{_RDF_TYPE}', 'urn:t:Entity' FROM typed
  UNION SELECT s, '{_RDF_TYPE}', 'urn:t:Resource' FROM typed
  UNION SELECT s, '{_RDF_TYPE}', 'urn:t:Agent' FROM knows
  UNION SELECT o, '{_RDF_TYPE}', 'urn:t:Agent' FROM knows)
SELECT subj, pred, obj, 'iri' AS obj_kind FROM inf
"""


def q_events_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream attribution join: purchases matched to
    same-user views within a 1-hour horizon; the time-range condition +
    watermark bound the join state, and inner-join emission makes the
    drained result equal the batch join (the oracle)."""
    import tempfile
    import uuid

    from pyspark.sql.types import (
        StructField, StructType, TimestampNTZType, TimestampType,
    )

    from .streaming.windowed import stream_attribution

    base = tempfile.mkdtemp(prefix="semargl_q_ssj_")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(8).write.mode("overwrite").parquet(f"{base}/in")
    schema = StructType([
        StructField(
            f.name,
            TimestampType() if isinstance(f.dataType, TimestampNTZType) else f.dataType,
            f.nullable,
        )
        for f in ev.schema.fields
    ])

    def _src():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 4)
            .parquet(f"{base}/in")
        )

    views = _src().filter(F.col("event_type") == "view")
    purchases = _src().filter(F.col("event_type") == "purchase")
    sink = f"q_ssj_{uuid.uuid4().hex[:8]}"
    q = (
        stream_attribution(views, purchases)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _drain(spark, q, "events_stream_join")
    return spark.table(sink).select(
        "view_id", "purchase_id", "user_id", "gap_us"
    )


ORACLES["events_stream_join"] = """
SELECT v.event_id AS view_id, p.event_id AS purchase_id, v.user_id,
       CAST(epoch_us(p.ts) - epoch_us(v.ts) AS BIGINT) AS gap_us
FROM events v JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
"""


# ------------------------------------ incremental canonicalization (r2g)


def q_canonicalize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CC maintenance: the block-16 components from
    `canonicalize` merged with a bridge-edge delta (every 4th block
    boundary left open) — the delta is contracted through the existing
    assignment, CC runs only on the contracted graph, and one join
    remaps the corpus (operators/canon.cc_incremental). Closed form:
    64-wide super-blocks."""
    from .operators.canon import cc_incremental

    st = _corpus(spark, sf_dir, fmt="ntriples")
    knows = st.filter(F.col("pred") == "urn:p:knows")
    src_id = F.regexp_extract("subj", r"urn:e:(\d+)", 1).cast("long")
    bridges = (
        knows.filter((src_id % 16 == 15) & ((src_id / 16).cast("long") % 4 != 3))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    comp0 = connected_components(_knows_blocks(st))
    return cc_incremental(comp0, bridges)


ORACLES["canonicalize_incremental"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
edges AS (SELECT did AS s, did+1 AS d FROM ids WHERE did % 16 <> 15
          UNION ALL
          SELECT did, did+1 FROM ids
          WHERE did % 16 = 15 AND (did // 16) % 4 <> 3),
nds AS (SELECT DISTINCT id FROM
        (SELECT s AS id FROM edges UNION ALL SELECT d FROM edges)),
blocks AS (SELECT id, id - (id % 64) AS blk FROM nds)
SELECT 'urn:e:'||b.id AS node, m.root AS component
FROM blocks b JOIN (SELECT blk, MIN('urn:e:'||id) AS root
                    FROM blocks GROUP BY blk) m USING (blk)
"""


# -------------------------- neighbor aggregation + modularity (r2h)


def q_kg_neighbor_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GraphSAGE-style mean aggregation of neighbor embeddings over the
    knows graph (entities mapped to embedding rows by id) — fixed-point
    integer means, exact at any parallelism."""
    from .operators.graph import neighbor_agg

    st = _corpus(spark, sf_dir)
    knows = st.filter(F.col("pred") == "urn:p:knows").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).distinct()
    emb = _embeddings(spark, sf_dir).select(
        F.concat(F.lit("urn:e:"), F.col("vec_id").cast("string")).alias("node"),
        "embedding",
    )
    return neighbor_agg(knows, emb)


ORACLES["kg_neighbor_agg"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
und AS (SELECT did AS a, did+1 AS b FROM ids
        UNION SELECT did+1, did FROM ids),
idx AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS dim),
q AS (SELECT CAST(vec_id AS INT) AS id, idx.dim,
        CAST(ROUND(CAST(list_extract(embedding, idx.dim + 1) AS DOUBLE)
                   * 1000) AS BIGINT) AS qv
      FROM embeddings CROSS JOIN idx),
s AS (SELECT u.a, q.dim, SUM(q.qv) AS sv, COUNT(*) AS n
      FROM und u JOIN q ON q.id = u.b GROUP BY u.a, q.dim)
SELECT 'urn:e:'||a AS node, CAST(dim AS INT) AS dim,
       CAST(FLOOR(CAST(sv AS DOUBLE) / n) AS BIGINT) AS mean_q
FROM s
"""


def q_kg_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity (exact micro-units) of the label-propagation
    communities over the knows graph — the quality gate that catches a
    canonicalizer merging everything into one cluster."""
    from .operators.graph import label_propagation, modularity

    st = _corpus(spark, sf_dir)
    # the knows edge list feeds BOTH label propagation and the
    # modularity score; checkpoint so extraction runs once
    knows = st.filter(F.col("pred") == "urn:p:knows").select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    ).distinct().localCheckpoint(eager=False)
    comm = label_propagation(knows, rounds=3)
    return modularity(knows, comm)


def _modularity_oracle() -> str:
    # reuse the unrolled 3-round LPA closed form, then score it
    lpa = _label_prop_oracle(3)
    body = lpa[: lpa.rfind("\nSELECT")]  # strip the final SELECT
    return body + """,
e_und AS (SELECT DISTINCT LEAST(u, v) AS a, GREATEST(u, v) AS b FROM und),
mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e_und),
lab AS (SELECT node, label FROM l3),
intr AS (SELECT la.label, CAST(COUNT(*) AS BIGINT) AS internal_edges
         FROM e_und e JOIN lab la ON la.node = e.a
                      JOIN lab lb ON lb.node = e.b
         WHERE la.label = lb.label GROUP BY la.label),
deg AS (SELECT l.label, CAST(COUNT(*) AS BIGINT) AS degree_sum,
               CAST(COUNT(DISTINCT d.node) AS BIGINT) AS n_nodes
        FROM (SELECT a AS node FROM e_und UNION ALL SELECT b FROM e_und) d
        JOIN lab l ON l.node = d.node GROUP BY l.label),
sc AS (SELECT deg.label, deg.n_nodes,
              COALESCE(intr.internal_edges, 0) AS internal_edges,
              deg.degree_sum, mm.m
       FROM deg LEFT JOIN intr USING (label) CROSS JOIN mm)
SELECT label, n_nodes, internal_edges, degree_sum,
  CAST((internal_edges*1000000 - (internal_edges*1000000) % m) / m
     - (degree_sum*degree_sum*1000000
        - (degree_sum*degree_sum*1000000) % (4*m*m)) / (4*m*m)
    AS BIGINT) AS q_micro
FROM sc
"""


ORACLES["kg_modularity"] = _modularity_oracle()


# -------------------------- adjacency export + input profiling (r2i)


def q_kg_adjacency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded adjacency-list export of the KG: exact degree + the 32
    lexicographically smallest neighbors per node as one csv row — the
    graph-trainer hand-off format; collect capped BEFORE row
    serialization so hubs cannot hit the single-row ceiling."""
    from .operators.graph import adjacency_export

    edges = _kg_edges(spark, sf_dir)
    return adjacency_export(edges, cap=32)


ORACLES["kg_adjacency"] = _KG_EDGES_SQL + """,
nb AS (SELECT DISTINCT src AS node, dst AS nb FROM edges),
r AS (SELECT node, nb,
        ROW_NUMBER() OVER (PARTITION BY node ORDER BY nb) AS rn,
        COUNT(*) OVER (PARTITION BY node) AS degree
      FROM nb)
SELECT node, CAST(MAX(degree) AS BIGINT) AS degree,
       string_agg(nb, ',' ORDER BY nb) AS neighbors_csv
FROM r WHERE rn <= 32 GROUP BY node
"""


def q_transcripts_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-profiling report over the input transcript table
    (per-column rows/nulls/exact distincts/length bounds) — the
    delivery-acceptance query for a new corpus drop."""
    from .operators.conversation import transcripts_profile

    return transcripts_profile(
        synth_transcripts(spark, sf_dir, fmt="ntriples")
        .select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )


_NT_TEXT_SQL = r"""'# turn '||tix||chr(10)
   ||'<urn:e:'||did||'> <urn:p:name> "'
   ||CASE WHEN did%10=0 THEN 'Entity '||chr(92)||'"'||did||chr(92)||'"'||chr(92)||'n'
          ELSE 'Entity '||did END
   ||'" .'||chr(10)
   ||'<urn:e:'||did||'> <urn:p:knows> <urn:e:'||(did+1)||'> .'||chr(10)
   ||'<urn:e:'||did||'> <urn:p:score> "'||(did%100)
   ||'.5"^^<http://www.w3.org/2001/XMLSchema#decimal> .'||chr(10)
   ||'_:a <urn:p:label> "turn '||tix||'"@en .'||chr(10)"""

ORACLES["transcripts_profile"] = _SEED + f""",
r AS (SELECT 'c'||did AS conv_id, tix AS turn_idx,
        CASE WHEN tix%3=0 THEN 'user' WHEN tix%3=1 THEN 'assistant'
             ELSE 'tool' END AS role,
        {_NT_TEXT_SQL} AS text,
        CASE WHEN tix%3=2 THEN
          ['rdf_extract','web_search','code_exec'][CAST((did + tix//3)%3 AS INT) + 1]
        END AS tool,
        CAST('2024-01-01 00:00:00' AS TIMESTAMP)
          + to_seconds(CAST(did AS BIGINT)*3600 + tix*60) AS ts
      FROM t),
prof AS (
  SELECT 'conv_id' AS col_name, COUNT(*) AS n_rows,
         SUM(CASE WHEN conv_id IS NULL THEN 1 ELSE 0 END) AS n_null,
         COUNT(DISTINCT conv_id) AS n_distinct,
         MIN(LENGTH(conv_id)) AS min_len, MAX(LENGTH(conv_id)) AS max_len
  FROM r
  UNION ALL
  SELECT 'turn_idx', COUNT(*),
         SUM(CASE WHEN turn_idx IS NULL THEN 1 ELSE 0 END),
         COUNT(DISTINCT turn_idx),
         MIN(LENGTH(CAST(turn_idx AS VARCHAR))),
         MAX(LENGTH(CAST(turn_idx AS VARCHAR))) FROM r
  UNION ALL
  SELECT 'role', COUNT(*),
         SUM(CASE WHEN role IS NULL THEN 1 ELSE 0 END),
         COUNT(DISTINCT role), MIN(LENGTH(role)), MAX(LENGTH(role)) FROM r
  UNION ALL
  SELECT 'text', COUNT(*),
         SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END),
         COUNT(DISTINCT text), MIN(LENGTH(text)), MAX(LENGTH(text)) FROM r
  UNION ALL
  SELECT 'tool', COUNT(*),
         SUM(CASE WHEN tool IS NULL THEN 1 ELSE 0 END),
         COUNT(DISTINCT tool), MIN(LENGTH(tool)), MAX(LENGTH(tool)) FROM r
  UNION ALL
  SELECT 'ts', COUNT(*),
         SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END),
         COUNT(DISTINCT ts),
         MIN(LENGTH(CAST(ts AS VARCHAR))), MAX(LENGTH(CAST(ts AS VARCHAR))) FROM r)
SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST(n_null AS BIGINT) AS n_null,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       CAST(min_len AS BIGINT) AS min_len, CAST(max_len AS BIGINT) AS max_len
FROM prof
"""


# ---------------------------- personalized pagerank + snapshot diff (r2j)


def q_kg_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank from a 2-node seed set over the KG —
    fixed-point integers, teleport and dangling mass restricted to the
    seeds (operators/graph.personalized_pagerank)."""
    from .operators.graph import personalized_pagerank

    edges = _kg_edges(spark, sf_dir)
    return personalized_pagerank(
        edges, seeds=["urn:e:0", "urn:e:100"], iterations=5
    )


def _ppr_oracle(iters: int = 5) -> str:
    sql = _KG_EDGES_SQL + """,
uedges AS (SELECT DISTINCT src, dst FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM uedges
          UNION SELECT DISTINCT dst FROM uedges),
outdeg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS outdeg
           FROM uedges GROUP BY src),
sds AS (SELECT * FROM (VALUES ('urn:e:0'), ('urn:e:100')) s(node)),
r0 AS (SELECT n.node,
         CAST(CASE WHEN s.node IS NOT NULL THEN 1000000000000 // 2
              ELSE 0 END AS BIGINT) AS rank_fp
       FROM nodes n LEFT JOIN sds s USING (node))"""
    for i in range(1, iters + 1):
        p = f"r{i - 1}"
        sql += f""",
d{i} AS (SELECT CAST(COALESCE(SUM(r.rank_fp), 0) AS BIGINT) AS dm
         FROM {p} r LEFT JOIN outdeg o USING (node) WHERE o.node IS NULL),
c{i} AS (SELECT e.dst AS node, SUM(r.rank_fp // o.outdeg) AS contrib
         FROM uedges e JOIN {p} r ON e.src = r.node
                       JOIN outdeg o ON e.src = o.node
         GROUP BY e.dst),
r{i} AS (SELECT n.node,
           CAST(CASE WHEN s.node IS NOT NULL
                     THEN (150000000000 // 2) ELSE 0 END
                + (85 * (COALESCE(c.contrib, 0)
                         + CASE WHEN s.node IS NOT NULL
                                THEN (SELECT dm FROM d{i}) // 2 ELSE 0 END))
                  // 100
                AS BIGINT) AS rank_fp
         FROM nodes n LEFT JOIN c{i} c USING (node)
                      LEFT JOIN sds s USING (node))"""
    return sql + f"\nSELECT node, rank_fp FROM r{iters}"


ORACLES["kg_ppr"] = _ppr_oracle()


def q_kg_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal KG evolution: the edge-set diff between the graph
    extracted from the first two turns of every conversation and the
    full-conversation graph → (src, pred, dst, change) — what a
    turn-incremental KG build materializes per micro-batch."""
    t = synth_transcripts(spark, sf_dir)
    old_e = materialize.kg_edges(
        triples(extract_statements(t.filter(F.col("turn_idx") <= 1)))
    )
    new_e = materialize.kg_edges(triples(extract_statements(t)))
    added = new_e.subtract(old_e).withColumn("change", F.lit("added"))
    removed = old_e.subtract(new_e).withColumn("change", F.lit("removed"))
    return added.unionByName(removed)


ORACLES["kg_snapshot_diff"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
f AS (SELECT did, CAST(gs AS INT) AS tix FROM ids
      CROSS JOIN (SELECT unnest(range(0, 4)) AS gs)),
o AS (SELECT did, tix FROM f WHERE tix <= 1),
full_e AS (
  SELECT DISTINCT 'urn:e:'||did AS src, 'urn:p:knows' AS pred,
         'urn:e:'||(did+1) AS dst FROM f WHERE (did*7+tix)%5 IN (0, 1)
  UNION
  SELECT 'urn:e:'||did, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'urn:t:Thing' FROM f WHERE (did*7+tix)%5 = 1
  UNION
  SELECT 'urn:e:'||did, 'http://purl.org/dc/terms/relation',
         'urn:e:'||(did+1) FROM f WHERE (did*7+tix)%5 = 2),
old_e AS (
  SELECT DISTINCT 'urn:e:'||did AS src, 'urn:p:knows' AS pred,
         'urn:e:'||(did+1) AS dst FROM o WHERE (did*7+tix)%5 IN (0, 1)
  UNION
  SELECT 'urn:e:'||did, 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
         'urn:t:Thing' FROM o WHERE (did*7+tix)%5 = 1
  UNION
  SELECT 'urn:e:'||did, 'http://purl.org/dc/terms/relation',
         'urn:e:'||(did+1) FROM o WHERE (did*7+tix)%5 = 2)
SELECT src, pred, dst, 'added' AS change
FROM (SELECT * FROM full_e EXCEPT SELECT * FROM old_e)
UNION ALL
SELECT src, pred, dst, 'removed'
FROM (SELECT * FROM old_e EXCEPT SELECT * FROM full_e)
"""


# -------------------------- end-to-end training-data pipeline (r2k)


def q_pipeline_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-data counterpart of pipeline_kg: one end-to-end chain
    C4 rule filter → train-split selection → deterministic global
    shuffle, emitting each surviving document's final training-order
    position. Every stage is the already-gated operator; the value of
    the chain gate is that the COMPOSITION stays exact (filters don't
    reorder the permutation, the split coin stays independent of the
    shuffle hash)."""
    docs = _docs(spark, sf_dir)
    kept = curation.c4_rule_filter(docs).filter(F.col("keep")).select("doc_id")
    train = (
        curation.split_assign(docs.join(kept, "doc_id"))
        .filter(F.col("split") == "train")
        .select("doc_id")
    )
    pos = curation.global_shuffle(docs.join(train, "doc_id"))
    return pos.select(F.col("doc_id").cast("long"), "pos")


ORACLES["pipeline_training"] = r"""
WITH t AS (SELECT doc_id, text,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
x AS (SELECT doc_id, unnest(w) AS tok FROM t),
c AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM x GROUP BY 1, 2),
m AS (SELECT doc_id, MAX(cnt) AS topc FROM c GROUP BY 1),
f AS (SELECT t.doc_id,
        len(t.w) AS n_words,
        list_max(list_transform(t.w, s -> len(s))) AS max_word_len,
        (m.topc * 1000) // len(t.w) AS top_token_permille,
        (contains(t.text, '{') OR contains(t.text, '}')) AS has_brace,
        (contains(lower(t.text), 'lorem ipsum')
         OR contains(lower(t.text), 'javascript required')) AS has_blocked
      FROM t JOIN m USING (doc_id)),
kept AS (SELECT doc_id FROM f
         WHERE n_words >= 50 AND n_words <= 100000 AND max_word_len <= 20
           AND top_token_permille <= 80 AND NOT has_brace AND NOT has_blocked),
tr AS (SELECT doc_id FROM kept
       WHERE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  AS INTEGER) % 100 AS INT) < 90)
SELECT doc_id,
  CAST(ROW_NUMBER() OVER (ORDER BY md5('gs:' || CAST(doc_id AS VARCHAR)),
                          doc_id) - 1 AS BIGINT) AS pos
FROM tr
"""


# ----------------------------- retrieval + salted-join gates (r2l)


def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer TF-IDF top-20 retrieval for a 3-term query over
    documents (operators/text.tfidf_search): rarer terms dominate via
    the floor(10^6/df) rational idf; deterministic tie-break."""
    from .operators.text import tfidf_search

    return tfidf_search(
        _docs(spark, sf_dir), "dup merge spark", k=20
    ).select(F.col("doc_id").cast("long"), "score")


ORACLES["text_search"] = r"""
WITH x AS (SELECT doc_id,
        unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
               ' ')) AS term
      FROM documents),
q AS (SELECT term FROM x WHERE term IN ('dup', 'merge', 'spark')),
tf AS (SELECT doc_id, term, COUNT(*) AS tf
       FROM x WHERE term IN ('dup', 'merge', 'spark') GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
idf AS (SELECT term,
        CAST((1000000 - 1000000 % df) / df AS BIGINT) AS idf FROM df),
s AS (SELECT tf.doc_id, CAST(SUM(tf.tf * idf.idf) AS BIGINT) AS score
      FROM tf JOIN idf USING (term) GROUP BY tf.doc_id)
SELECT doc_id, score FROM s ORDER BY score DESC, doc_id ASC LIMIT 20
"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build over documents: exact df + the 16 smallest
    doc ids per term (bounded postings — collect capped before row
    serialization, the adjacency_export discipline)."""
    from .operators.text import inverted_index

    return inverted_index(_docs(spark, sf_dir), cap=16)


ORACLES["inverted_index"] = r"""
WITH x AS (SELECT DISTINCT doc_id AS doc,
        unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
               ' ')) AS term
      FROM documents),
r AS (SELECT term, doc,
        ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc) AS rn,
        COUNT(*) OVER (PARTITION BY term) AS df
      FROM x)
SELECT term, CAST(MAX(df) AS BIGINT) AS df,
       string_agg(CAST(doc AS VARCHAR), ',' ORDER BY doc) AS postings_csv
FROM r WHERE rn <= 16 GROUP BY term
"""


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join equivalence gate: the hot-key statement stream
    (3 predicate values over millions of rows) joined to a small
    predicate-category dim via operators/skew.salted_join, aggregated
    per category — the oracle computes the same result with a plain
    join, proving the salt spreads without changing semantics."""
    from .operators.skew import salted_join

    st = _corpus(spark, sf_dir, fmt="ntriples")
    dim = spark.createDataFrame(
        [("urn:p:name", "label"), ("urn:p:knows", "relation"),
         ("urn:p:score", "metric"), ("urn:p:label", "label")],
        "pred string, category string",
    )
    joined = salted_join(st.select("pred"), dim, "pred", n_salts=16)
    return joined.groupBy("category").agg(
        F.count("*").cast("long").alias("n")
    )


ORACLES["skew_salted_join"] = _SEED + """,
st AS (
  SELECT 'urn:p:name' AS pred FROM t
  UNION ALL SELECT 'urn:p:knows' FROM t
  UNION ALL SELECT 'urn:p:score' FROM t
  UNION ALL SELECT 'urn:p:label' FROM t),
dim AS (SELECT * FROM (VALUES ('urn:p:name', 'label'),
        ('urn:p:knows', 'relation'), ('urn:p:score', 'metric'),
        ('urn:p:label', 'label')) d(pred, category))
SELECT category, CAST(COUNT(*) AS BIGINT) AS n
FROM st JOIN dim USING (pred) GROUP BY category
"""


# -------------------- entity cards, retention, growth timeline (r2m)


def q_kg_entity_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-card (infobox) rollup: one row per entity with its name,
    type count, sorted type list, and out-degree — conditional
    aggregation over one pass of the statement set (the serving-layer
    projection a KG front-end reads)."""
    st = _corpus(spark, sf_dir)
    g = st.select("subj", "pred", "obj").distinct()
    return (
        g.filter(F.col("subj").startswith("urn:e:"))
        .groupBy(F.col("subj").alias("entity"))
        .agg(
            F.min(F.when(F.col("pred") == "urn:p:name", F.col("obj")))
            .alias("name"),
            F.count(
                F.when(F.col("pred") == _RDF_TYPE, F.lit(1))
            ).cast("long").alias("n_types"),
            F.array_join(
                F.sort_array(
                    F.collect_set(
                        F.when(F.col("pred") == _RDF_TYPE, F.col("obj"))
                    )
                ), ","
            ).alias("types_csv"),
            F.count(F.lit(1)).cast("long").alias("out_degree"),
        )
    )


ORACLES["kg_entity_card"] = f"""
WITH t AS (SELECT CAST(doc_id AS INT) AS did, CAST(gs AS INT) AS tix
           FROM documents CROSS JOIN (SELECT unnest(range(0,4)) AS gs)),
nt AS (SELECT * FROM t WHERE (did*7+tix)%5 = 0),
jl AS (SELECT * FROM t WHERE (did*7+tix)%5 = 1),
ra AS (SELECT * FROM t WHERE (did*7+tix)%5 = 2),
g AS (SELECT DISTINCT subj, pred, obj FROM (
  SELECT 'urn:e:'||did AS subj, 'urn:p:name' AS pred,
         CASE WHEN did%10=0 THEN 'Entity "'||did||'"'||chr(10)
              ELSE 'Entity '||did END AS obj FROM nt
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1) FROM nt
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:score', (did%100)||'.5' FROM nt
  UNION ALL SELECT 'urn:e:'||did, '{_RDF_TYPE}', 'urn:t:Thing' FROM jl
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:name', 'Entity '||did FROM jl
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:knows', 'urn:e:'||(did+1) FROM jl
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:score', CAST(did%50 AS VARCHAR) FROM jl
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:tag', 'a'||did FROM jl
  UNION ALL SELECT 'urn:e:'||did, 'urn:p:tag', 'b' FROM jl
  UNION ALL SELECT 'urn:e:'||did, 'http://purl.org/dc/terms/title',
         'Turn '||tix FROM ra
  UNION ALL SELECT 'urn:e:'||did, 'http://purl.org/dc/terms/relation',
         'urn:e:'||(did+1) FROM ra))
SELECT subj AS entity,
  MIN(CASE WHEN pred = 'urn:p:name' THEN obj END) AS name,
  CAST(COUNT(CASE WHEN pred = '{_RDF_TYPE}' THEN 1 END) AS BIGINT) AS n_types,
  COALESCE(string_agg(CASE WHEN pred = '{_RDF_TYPE}' THEN obj END, ','
                      ORDER BY CASE WHEN pred = '{_RDF_TYPE}' THEN obj END),
           '') AS types_csv,
  CAST(COUNT(*) AS BIGINT) AS out_degree
FROM g GROUP BY subj
"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the events stream: users grouped by
    first-activity week, counted per subsequent active week →
    (cohort_week, week_n, n_users). Two aggregations and one window —
    the canonical product-analytics rollup."""
    from pyspark.sql.window import Window

    e = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    wk = F.floor(
        (F.col("ts").cast("long") - F.lit(1704067200)) / F.lit(604800)
    ).cast("int")
    w = Window.partitionBy("user_id")
    weekly = e.select("user_id", wk.alias("week")).distinct()
    cohorted = weekly.withColumn("cohort_week", F.min("week").over(w))
    return (
        cohorted.groupBy(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_n")
        )
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
    )


ORACLES["events_retention"] = """
WITH w AS (SELECT DISTINCT user_id,
        CAST(FLOOR((epoch(ts) - 1704067200) / 604800) AS INT) AS week
      FROM events),
c AS (SELECT user_id, week,
        MIN(week) OVER (PARTITION BY user_id) AS cohort_week FROM w)
SELECT cohort_week, CAST(week - cohort_week AS INT) AS week_n,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM c GROUP BY cohort_week, week - cohort_week
"""


def q_kg_growth_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KG growth timeline: per extraction day, the number of statements
    and distinct subject entities contributed — the ops-dashboard query
    for a continuously-ingesting KG build (turn ts propagated through
    extraction via the conv/turn join)."""
    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    st = triples(extract_statements(t))
    with_ts = st.join(
        t.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"]
    )
    return (
        with_ts.groupBy(
            F.date_format(F.col("ts").cast("timestamp"), "yyyy-MM-dd")
            .alias("day")
        )
        .agg(
            F.count("*").cast("long").alias("n_statements"),
            F.count_distinct(
                F.when(F.col("subj").startswith("urn:e:"), F.col("subj"))
            ).cast("long").alias("n_entities"),
        )
    )


ORACLES["kg_growth_daily"] = _SEED + """,
r AS (SELECT did, tix,
        strftime(CAST('2024-01-01 00:00:00' AS TIMESTAMP)
                 + to_seconds(CAST(did AS BIGINT)*3600 + tix*60),
                 '%Y-%m-%d') AS day
      FROM t)
SELECT day, CAST(COUNT(*) * 4 AS BIGINT) AS n_statements,
       CAST(COUNT(DISTINCT did) AS BIGINT) AS n_entities
FROM r GROUP BY day
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer Okapi BM25 top-20 for a 3-term query — fraction-
    free scoring (operators/text.bm25_search) so the ranking hashes
    identically in any engine; length normalization uses dl·N/total."""
    from .operators.text import bm25_search

    return bm25_search(
        _docs(spark, sf_dir), "dup merge spark", k=20
    ).select(F.col("doc_id").cast("long"), "score")


ORACLES["bm25_search"] = r"""
WITH x AS (SELECT doc_id,
        unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
               ' ')) AS term
      FROM documents),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM x GROUP BY doc_id),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS total
      FROM dl),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM x WHERE term IN ('dup', 'merge', 'spark') GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
idf AS (SELECT term,
        CAST(1000000 * (2 * (SELECT n FROM g) - 2 * df + 1)
             // (2 * df + 1) AS BIGINT) AS idf FROM df),
s AS (SELECT tf.doc_id,
        CAST(SUM((idf.idf * (tf.tf * 2200 * (SELECT total FROM g)))
             // (tf.tf * 1000 * (SELECT total FROM g)
                 + 300 * (SELECT total FROM g)
                 + 900 * dl.dl * (SELECT n FROM g))) AS BIGINT) AS score
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
      GROUP BY tf.doc_id)
SELECT doc_id, score FROM s ORDER BY score DESC, doc_id ASC LIMIT 20
"""


def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: integer BM25 top-20 ⊕ integer-dot semantic
    top-20 (query = embedding of doc 7), fused by reciprocal-rank
    fusion (text.rrf_fuse) — only 1-based ranks cross the fusion
    boundary, so the lexical and semantic scorers never need
    comparable scales. All-integer end to end (BM25 DIV scoring,
    int8-quantized dot, floor(scale/(c+rank)) fusion), so the fused
    ranking hashes identically in any engine.

    Scale shape: each list is a TakeOrderedAndProject top-m over its
    own index path (the corpus-sized work); the fusion itself is a
    union of two 20-row frames → one groupBy → top-k, corpus-size
    independent. The single query row broadcasts
    (BroadcastNestedLoopJoin over ONE row — a dot-product map, not a
    quadratic pair explosion)."""
    from pyspark.sql.window import Window

    from .operators.text import bm25_search, rrf_fuse

    lex = bm25_search(_docs(spark, sf_dir), "dup merge spark", k=20)
    wl = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    lex_r = lex.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.row_number().over(wl).cast("long").alias("rank"),
    )

    emb = _vectors(spark, sf_dir)
    qz = similarity.quantize_embeddings(emb)
    qa = qz.filter(F.col("vec_id") == 7).select(F.col("qvec").alias("qa"))
    cand = qz.filter(F.col("vec_id") != 7).select(
        F.col("vec_id").cast("long").alias("doc_id"),
        F.col("qvec").alias("qb"),
    )
    dots = cand.crossJoin(F.broadcast(qa)).select(
        "doc_id",
        F.aggregate(
            F.zip_with("qa", "qb", lambda a, b: a.cast("long") * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dot"),
    )
    sem20 = dots.orderBy(F.desc("dot"), F.asc("doc_id")).limit(20)
    ws = Window.orderBy(F.desc("dot"), F.asc("doc_id"))
    sem_r = sem20.select(
        "doc_id", F.row_number().over(ws).cast("long").alias("rank")
    )
    return rrf_fuse([lex_r, sem_r], k=10)


ORACLES["hybrid_search"] = r"""
WITH x AS (SELECT doc_id,
        unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
               ' ')) AS term
      FROM documents),
dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM x GROUP BY doc_id),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS total
      FROM dl),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
       FROM x WHERE term IN ('dup', 'merge', 'spark') GROUP BY 1, 2),
df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
idf AS (SELECT term,
        CAST(1000000 * (2 * (SELECT n FROM g) - 2 * df + 1)
             // (2 * df + 1) AS BIGINT) AS idf FROM df),
s AS (SELECT tf.doc_id,
        CAST(SUM((idf.idf * (tf.tf * 2200 * (SELECT total FROM g)))
             // (tf.tf * 1000 * (SELECT total FROM g)
                 + 300 * (SELECT total FROM g)
                 + 900 * dl.dl * (SELECT n FROM g))) AS BIGINT) AS score
      FROM tf JOIN idf USING (term) JOIN dl USING (doc_id)
      GROUP BY tf.doc_id),
lex AS (SELECT doc_id,
          CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS BIGINT)
            AS rank
        FROM (SELECT doc_id, score FROM s
              ORDER BY score DESC, doc_id ASC LIMIT 20)),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (SELECT vec_id, v, list_max(list_transform(v, y -> abs(y))) AS mx
      FROM e),
qv AS (SELECT vec_id,
         CASE WHEN mx = 0 THEN list_transform(v, y -> 0)
              ELSE list_transform(v,
                     y -> CAST(floor(127.0 * y / mx) AS INT)) END AS qvec
       FROM m),
qa AS (SELECT qvec AS qa FROM qv WHERE vec_id = 7),
dots AS (SELECT c.vec_id AS doc_id,
           list_reduce(
             list_transform(range(1, 65),
                            j -> CAST(qa.qa[j] AS BIGINT) * c.qvec[j]),
             (a, y) -> a + y) AS dot
         FROM qv c CROSS JOIN qa WHERE c.vec_id <> 7),
sem AS (SELECT doc_id,
          CAST(row_number() OVER (ORDER BY dot DESC, doc_id ASC) AS BIGINT)
            AS rank
        FROM (SELECT doc_id, dot FROM dots
              ORDER BY dot DESC, doc_id ASC LIMIT 20)),
u AS (SELECT doc_id, rank FROM lex UNION ALL SELECT doc_id, rank FROM sem),
f AS (SELECT doc_id,
        CAST(SUM(1000000 // (60 + rank)) AS BIGINT) AS rrf_score,
        CAST(COUNT(*) AS INT) AS n_lists,
        CAST(MIN(rank) AS INT) AS best_rank
      FROM u GROUP BY doc_id)
SELECT CAST(doc_id AS BIGINT) AS doc_id, rrf_score, n_lists, best_rank
FROM f ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
"""


# -------------------------------- pivot / grouping-sets surface (r2n)


def q_turn_role_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-conversation turn counts spread into one column per
    role (explicit value list, so the plan is a single aggregation —
    an unlisted-values pivot would need an extra distinct pass)."""
    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    return (
        t.groupBy("conv_id")
        .pivot("role", ["user", "assistant", "tool"])
        .count()
        .select(
            "conv_id",
            F.coalesce("user", F.lit(0)).cast("long").alias("n_user"),
            F.coalesce("assistant", F.lit(0)).cast("long").alias("n_assistant"),
            F.coalesce("tool", F.lit(0)).cast("long").alias("n_tool"),
        )
    )


ORACLES["turn_role_pivot"] = _SEED + """
SELECT 'c'||did AS conv_id,
  CAST(SUM(CASE WHEN tix%3=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
  CAST(SUM(CASE WHEN tix%3=1 THEN 1 ELSE 0 END) AS BIGINT) AS n_assistant,
  CAST(SUM(CASE WHEN tix%3=2 THEN 1 ELSE 0 END) AS BIGINT) AS n_tool
FROM t GROUP BY did
"""


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over events: counts and value sums at
    (event_type, user bucket), per event_type, and grand total in ONE
    aggregation pass (Catalyst Expand) — not three separate scans."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    bucket = F.pmod(F.col("user_id"), F.lit(4)).cast("int")
    return (
        e.select(F.col("event_type"), bucket.alias("user_bucket"), "value")
        .rollup("event_type", "user_bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("value"), 6).alias("value_sum"),
        )
    )


ORACLES["events_cube"] = """
SELECT event_type, CAST(user_bucket AS INT) AS user_bucket,
       CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 6) AS value_sum
FROM (SELECT event_type, user_id % 4 AS user_bucket, value FROM events)
GROUP BY ROLLUP (event_type, user_bucket)
"""


# ------------------------------------- SPARQL text front-end gate (r2o)


def q_kg_sparql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actual SPARQL text executed against the KG: a typed two-hop
    SELECT with FILTER, ORDER BY, LIMIT — parsed on the driver
    (operators/sparql.py) and compiled onto the same Catalyst join tree
    the list-based BGP API produces."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        PREFIX dc: <http://purl.org/dc/terms/>
        SELECT ?a ?c WHERE {
            ?a p:knows ?b .
            ?b dc:relation ?c .
            ?a a <urn:t:Thing> .
            FILTER(strstarts(?c, "urn:e:1"))
        } ORDER BY DESC(?a) LIMIT 40
    """)


ORACLES["kg_sparql"] = _KG_EDGES_SQL + """
SELECT k.src AS a, r.dst AS c
FROM edges k
JOIN edges r ON r.src = k.dst AND r.pred = 'http://purl.org/dc/terms/relation'
JOIN edges t ON t.src = k.src
            AND t.pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
            AND t.dst = 'urn:t:Thing'
WHERE k.pred = 'urn:p:knows' AND r.dst LIKE 'urn:e:1%'
ORDER BY k.src DESC, r.dst ASC LIMIT 40
"""


def q_kg_sparql_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP BY aggregates from query TEXT (COUNT(*) +
    COUNT(DISTINCT)) — parsed and compiled onto the same
    map-side-partial hash aggregation as the list-based API."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        SELECT ?p (COUNT(*) AS ?n) (COUNT(DISTINCT ?b) AS ?n_targets)
        WHERE { ?a p:knows ?b . ?b ?p ?c . } GROUP BY ?p
    """)


ORACLES["kg_sparql_agg"] = _KG_EDGES_SQL + """
SELECT e2.pred AS p, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT e1.dst) AS BIGINT) AS n_targets
FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
WHERE e1.pred = 'urn:p:knows'
GROUP BY e2.pred
"""


def q_kg_sparql_construct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL CONSTRUCT from query TEXT: derive a new graph (forward +
    inverse edges) from a filtered two-hop pattern. Compiles to one BGP
    join tree fanned out through a shuffle-free Union of template
    projections and a single set-semantics distinct."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_construct(edges, """
        PREFIX p: <urn:p:>
        PREFIX dc: <http://purl.org/dc/terms/>
        CONSTRUCT { ?a <urn:d:connected> ?c . ?c <urn:d:connectedBy> ?a . }
        WHERE { ?a p:knows ?b . ?b dc:relation ?c .
                FILTER(strstarts(?c, "urn:e:")) }
    """)


ORACLES["kg_sparql_construct"] = _KG_EDGES_SQL + """
SELECT src, pred, dst FROM (
  SELECT k.src AS src, 'urn:d:connected' AS pred, r.dst AS dst
  FROM edges k JOIN edges r
    ON r.src = k.dst AND r.pred = 'http://purl.org/dc/terms/relation'
  WHERE k.pred = 'urn:p:knows' AND r.dst LIKE 'urn:e:%'
  UNION
  SELECT r.dst AS src, 'urn:d:connectedBy' AS pred, k.src AS dst
  FROM edges k JOIN edges r
    ON r.src = k.dst AND r.pred = 'http://purl.org/dc/terms/relation'
  WHERE k.pred = 'urn:p:knows' AND r.dst LIKE 'urn:e:%'
)
"""


def q_kg_sparql_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL VALUES inline data from query TEXT: the data block joins
    into the solution as a broadcast equi-join (query-text-sized by
    construction — the canonical way to pin a variable to a short list
    without a second scan)."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        SELECT ?a ?p ?c WHERE {
            ?a p:knows ?b . ?b ?p ?c .
            VALUES ?p { <http://purl.org/dc/terms/relation>
                        <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> }
        }
    """)


ORACLES["kg_sparql_values"] = _KG_EDGES_SQL + """
SELECT e1.src AS a, e2.pred AS p, e2.dst AS c
FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
WHERE e1.pred = 'urn:p:knows'
  AND e2.pred IN ('http://purl.org/dc/terms/relation',
                  'http://www.w3.org/1999/02/22-rdf-syntax-ns#type')
"""


def q_kg_sparql_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL property path from query TEXT: ``p:knows{1,3}`` parsed in
    the predicate position and compiled onto the same semi-naive
    bounded minimum-hop closure as the list-level kg_path gate — the
    front-end refuses unbounded ``+`` beyond its explicit hop cap."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        SELECT ?x ?y ?hops WHERE { ?x p:knows{1,3} ?y . }
    """)


ORACLES["kg_sparql_path"] = ORACLES["kg_path"].replace(
    "SELECT a, b,", "SELECT a AS x, b AS y,"
)


def q_kg_sparql_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL sequence path from query TEXT: ``p:knows/dcterms:relation``
    expanded into chained BGP patterns through a fresh internal
    variable (operators/sparql._rewrite_sugar), composed with a plain
    type pattern in the same group — the compiled plan is the same
    statistics-ordered hash-join tree any 3-pattern BGP gets, so the
    sugar adds zero new shuffle machinery. Reference n/a (query-surface
    operator over the constructed KG)."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        PREFIX dcterms: <http://purl.org/dc/terms/>
        PREFIX t: <urn:t:>
        SELECT ?a ?c WHERE {
            ?a p:knows/dcterms:relation ?c .
            ?a a t:Thing .
        }
    """)


ORACLES["kg_sparql_seq"] = _KG_EDGES_SQL + """
SELECT e1.src AS a, e2.dst AS c
FROM edges e1
JOIN edges e2 ON e2.src = e1.dst
             AND e2.pred = 'http://purl.org/dc/terms/relation'
JOIN edges ty ON ty.src = e1.src
             AND ty.pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
             AND ty.dst = 'urn:t:Thing'
WHERE e1.pred = 'urn:p:knows'
"""


def q_kg_sparql_nps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL negated property set from query TEXT:
    ``!(p:knows|rdf:type)`` rewritten to a fresh predicate variable
    plus pushed inequality filters — one filtered scan of the edge
    table, no join, the filters land in the parquet scan's
    PushedFilters at any scale. Reference n/a (query-surface
    operator)."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
        SELECT ?s ?o WHERE { ?s !(p:knows|rdf:type) ?o . }
    """)


ORACLES["kg_sparql_nps"] = _KG_EDGES_SQL + """
SELECT src AS s, dst AS o FROM edges
WHERE pred NOT IN ('urn:p:knows',
                   'http://www.w3.org/1999/02/22-rdf-syntax-ns#type')
"""


def q_kg_sparql_path_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL zero-admitting property path from query TEXT:
    ``p:knows{0,2}`` — the bounded minimum-hop closure unioned with the
    SPARQL zero-length pairs ((t, t, hops=0) for every term of the
    graph: one distinct node projection, O(|V|) extra rows, never a
    closure blow-up) and re-minimized per pair in a single hash
    aggregation. ``p:knows*``/``p:knows?`` ride the same code path
    (star takes the engine's explicit max_hops bound)."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        SELECT ?x ?y ?hops WHERE { ?x p:knows{0,2} ?y . }
    """)


ORACLES["kg_sparql_path_zero"] = _KG_EDGES_SQL + """,
k AS (SELECT DISTINCT src, dst FROM edges WHERE pred = 'urn:p:knows'),
nodes AS (SELECT src AS n FROM edges UNION SELECT dst FROM edges),
h1 AS (SELECT src AS a, dst AS b, 1 AS hops FROM k),
h2 AS (SELECT h1.a, k.dst AS b, 2 AS hops FROM h1 JOIN k ON k.src = h1.b),
hall AS (SELECT n AS a, n AS b, 0 AS hops FROM nodes
         UNION ALL SELECT * FROM h1 UNION ALL SELECT * FROM h2)
SELECT a AS x, b AS y, CAST(MIN(hops) AS INT) AS hops
FROM hall GROUP BY a, b
"""


def q_kg_sparql_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL ASK from query TEXT (sparql_ask): existence compiles to
    SELECT capped with limit(1) — the engine probes one solution, never
    materializing the set. Gated as a one-row frame with a positive and
    a negative probe so BOTH outcomes are oracle-checked (EXISTS
    mirrors in SQL)."""
    edges = _kg_edges(spark, sf_dir)
    pos = sparql_ask(edges, """
        PREFIX p: <urn:p:>
        PREFIX t: <urn:t:>
        ASK WHERE { ?a p:knows ?b . ?a a t:Thing . }
    """)
    neg = sparql_ask(edges, """
        PREFIX p: <urn:p:>
        ASK WHERE { ?a p:knows ?a . }
    """)
    return spark.createDataFrame(
        [(bool(pos), bool(neg))], "ask_pos boolean, ask_neg boolean"
    )


ORACLES["kg_sparql_ask"] = _KG_EDGES_SQL + """
SELECT
  EXISTS(SELECT 1 FROM edges k
         JOIN edges ty ON ty.src = k.src
          AND ty.pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
          AND ty.dst = 'urn:t:Thing'
         WHERE k.pred = 'urn:p:knows') AS ask_pos,
  EXISTS(SELECT 1 FROM edges
         WHERE pred = 'urn:p:knows' AND src = dst) AS ask_neg
"""


def q_kg_reach_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEEDED fixpoint reachability (graph.kleene_closure with
    ``sources``): the closure explores only pairs reachable FROM the
    seed set — the shape a 10^12-edge deployment actually runs (`p+`
    anchored at query constants), where the frontier is seeds-bounded
    instead of graph-bounded. Runs over the diameter-≤4 relation
    subgraph from every 7th entity; the oracle is the same recursive
    set-semantics CTE restricted to the seeds."""
    from .operators.graph import kleene_closure

    edges = _kg_edges(spark, sf_dir)
    seeds = (
        edges.filter(F.col("pred") == "http://purl.org/dc/terms/relation")
        .select(F.col("src").alias("node"))
        .filter(F.substring_index(F.col("node"), ":", -1).cast("int") % 7 == 0)
    )
    return kleene_closure(
        edges, "http://purl.org/dc/terms/relation", sources=seeds
    )


ORACLES["kg_reach_seeded"] = _KG_EDGES_SQL.replace(
    "WITH ids", "WITH RECURSIVE ids", 1
) + """,
k AS (SELECT DISTINCT src, dst FROM edges
      WHERE pred = 'http://purl.org/dc/terms/relation'),
seeds AS (SELECT DISTINCT src FROM k
          WHERE CAST(string_split(src, ':')[-1] AS INT) % 7 = 0),
reach(a, b) AS (
  SELECT k.src, k.dst FROM k JOIN seeds s ON s.src = k.src
  UNION
  SELECT r.a, k.dst FROM reach r JOIN k ON k.src = r.b
)
SELECT a, b FROM reach
"""


def q_kg_sparql_optional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER inside OPTIONAL from query TEXT: the filter scopes to the
    LeftJoin (SPARQL algebra LeftJoin(Ω1, Ω2, expr)) — a knows pair
    whose relation target fails the filter keeps its row with NULL
    padding, which a post-join WHERE would wrongly drop. Over
    group-bound variables the engine prunes the group BEFORE the join
    shuffle (bgp.match_bgp_optional group_filters)."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        PREFIX dcterms: <http://purl.org/dc/terms/>
        SELECT ?a ?b ?d WHERE {
            ?a p:knows ?b .
            OPTIONAL { ?b dcterms:relation ?d . FILTER(strstarts(?d, "urn:e:2")) }
        }
    """)


ORACLES["kg_sparql_optional_filter"] = _KG_EDGES_SQL + """
SELECT k.src AS a, k.dst AS b, r.dst AS d
FROM edges k
LEFT JOIN edges r ON r.src = k.dst
                 AND r.pred = 'http://purl.org/dc/terms/relation'
                 AND r.dst LIKE 'urn:e:2%'
WHERE k.pred = 'urn:p:knows'
"""


def q_kg_sparql_agg_optional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregates over OPTIONAL from query TEXT: COUNT(?d) over the
    LeftJoin solution — SPARQL count semantics skip the NULL padding,
    so non-matching targets report 0. One left join feeding one hash
    aggregation with map-side partials."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        PREFIX dcterms: <http://purl.org/dc/terms/>
        SELECT ?a (COUNT(?d) AS ?n_rel) WHERE {
            ?a p:knows ?b .
            OPTIONAL { ?b dcterms:relation ?d . }
        } GROUP BY ?a
    """)


ORACLES["kg_sparql_agg_optional"] = _KG_EDGES_SQL + """
SELECT k.src AS a, CAST(COUNT(r.dst) AS BIGINT) AS n_rel
FROM edges k
LEFT JOIN edges r ON r.src = k.dst
                 AND r.pred = 'http://purl.org/dc/terms/relation'
WHERE k.pred = 'urn:p:knows'
GROUP BY k.src
"""


def q_kg_sparql_neg_fail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negation by failure from query TEXT — the classic SPARQL 1.0
    idiom OPTIONAL { } FILTER(!bound(?v)): knows pairs whose target has
    NO relation edge. The outer filter runs AFTER the LeftJoin and
    bound() translates to IS NOT NULL, so the plan is a left join
    probed for null padding (the same anti-join shape MINUS compiles
    to, reached through the 1.0 idiom instead)."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        PREFIX dcterms: <http://purl.org/dc/terms/>
        SELECT ?a ?b WHERE {
            ?a p:knows ?b .
            OPTIONAL { ?b dcterms:relation ?d . }
            FILTER(!bound(?d))
        }
    """)


ORACLES["kg_sparql_neg_fail"] = _KG_EDGES_SQL + """
SELECT k.src AS a, k.dst AS b
FROM edges k
LEFT JOIN edges r ON r.src = k.dst
                 AND r.pred = 'http://purl.org/dc/terms/relation'
WHERE k.pred = 'urn:p:knows' AND r.dst IS NULL
"""


def q_kg_sparql_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL pagination from query TEXT: ORDER BY + LIMIT/OFFSET.
    The engine's ORDER BY appends a total tie-break over the remaining
    columns, so the returned PAGE is deterministic at any parallelism
    (SPARQL leaves slice ties implementation-defined; a gated pipeline
    cannot) — and OFFSET without ORDER BY raises rather than returning
    an arbitrary slice. Plan: TakeOrderedAndProject-style top-(k+n)
    then skip, never a global sort materialization."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        SELECT ?a ?b WHERE { ?a p:knows ?b . }
        ORDER BY ?a LIMIT 20 OFFSET 10
    """)


ORACLES["kg_sparql_page"] = _KG_EDGES_SQL + """
SELECT src AS a, dst AS b FROM edges WHERE pred = 'urn:p:knows'
ORDER BY src, dst LIMIT 20 OFFSET 10
"""


def q_kg_comention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-mention graph (graph.comention_edges): an undirected
    weighted edge per pair of entities mentioned in the same
    conversation — discourse-derived relatedness edges the
    link/canonicalize stages don't produce. Per-conv entity sets are
    capped (hot-conversation guard), the pair join is conv-keyed with
    a<b inside the condition (never all-pairs across the corpus). The
    8-turn NTriples corpus mentions {e:did, e:did+1} per conversation."""
    from .operators.graph import comention_edges

    return comention_edges(
        _corpus(spark, sf_dir, turns_per_doc=8, fmt="ntriples")
    )


ORACLES["kg_comention"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents)
SELECT least('urn:e:'||did, 'urn:e:'||(did+1)) AS a,
       greatest('urn:e:'||did, 'urn:e:'||(did+1)) AS b,
       CAST(1 AS BIGINT) AS weight
FROM ids
"""


def q_kg_sparql_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL HAVING from query TEXT: post-aggregation filter over the
    aggregate aliases plus ORDER BY/LIMIT solution modifiers on the
    aggregated result — one hash aggregation, the HAVING predicate
    applied to the partial-merged rows (never re-scanning)."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        SELECT ?p (COUNT(*) AS ?n) WHERE { ?a ?p ?b . }
        GROUP BY ?p HAVING(?n >= 100) ORDER BY DESC(?n) ?p LIMIT 20
    """)


ORACLES["kg_sparql_having"] = _KG_EDGES_SQL + """
SELECT pred AS p, CAST(COUNT(*) AS BIGINT) AS n
FROM edges GROUP BY pred HAVING COUNT(*) >= 100
ORDER BY n DESC, p ASC LIMIT 20
"""


def q_kg_sparql_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE from query TEXT: every edge touching the named
    resources — a single scan with In-filters pushed on both endpoint
    columns, no join."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_describe(edges, """
        PREFIX e: <urn:e:>
        DESCRIBE e:1 e:2 e:3
    """)


ORACLES["kg_sparql_describe"] = _KG_EDGES_SQL + """
SELECT src, pred, dst FROM edges
WHERE src IN ('urn:e:1', 'urn:e:2', 'urn:e:3')
   OR dst IN ('urn:e:1', 'urn:e:2', 'urn:e:3')
"""


def q_stream_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming canonicalization gate: land the ntriples corpus, drain
    it through stream_canonicalize (per-batch knows-block equivalence
    fold via cc_incremental into the batch_id changelog), and return
    the folded canonical_view — it must equal the closed-form batch
    canonicalize oracle exactly (labels are the component-min in both
    the incremental and from-scratch paths)."""
    import tempfile

    from .streaming.stream_kg import canonical_view, stream_canonicalize

    base = tempfile.mkdtemp(prefix="semargl_q_scanon_")
    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    t.repartition(8, "conv_id").write.mode("overwrite").parquet(f"{base}/in")

    def knows_equiv(st):
        src_id = F.regexp_extract("subj", r"urn:e:(\d+)", 1).cast("long")
        return st.filter(
            (F.col("pred") == "urn:p:knows") & (src_id % 16 != 15)
        ).select(F.col("subj").alias("src"), F.col("obj").alias("dst"))

    q = stream_canonicalize(
        spark, f"{base}/in", knows_equiv, f"{base}/out", f"{base}/ckpt"
    )
    _drain(spark, q, "stream_canon")
    return canonical_view(spark, f"{base}/out")


ORACLES["stream_canon"] = ORACLES["canonicalize"]


def q_kg_sparql_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GRAPH clause from query TEXT over the quad-level
    statements (the reference's QuadSink 4th term, QuadSink.java:31-51):
    named-graph matching with the graph bound as a variable —
    default-graph quads (NULL graph) never bind it. RDF dataset set
    semantics via one distinct on the quad projection."""
    st = _corpus(spark, sf_dir, fmt="nquads")
    quads = st.select(
        F.col("subj").alias("src"), "pred", F.col("obj").alias("dst"), "graph"
    ).distinct()
    return sparql_select(quads, """
        SELECT ?g ?s ?o WHERE { GRAPH ?g { ?s <urn:p:name> ?o . } }
    """)


ORACLES["kg_sparql_graph"] = """
WITH t AS (SELECT DISTINCT CAST(doc_id AS INT) AS did FROM documents)
SELECT 'urn:g:'||(did%10) AS g, 'urn:e:'||did AS s, 'Entity '||did AS o
FROM t
"""


def q_kg_sparql_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER EXISTS / NOT EXISTS from query TEXT: one left-semi
    + one left-anti hash join keyed on the shared variable — never a
    per-row subquery; the sub-group is projected onto the shared
    columns before the join so the probe side stays narrow."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        PREFIX dc: <http://purl.org/dc/terms/>
        SELECT ?a ?b WHERE {
            ?a p:knows ?b .
            FILTER EXISTS { ?b dc:relation ?c . }
            FILTER NOT EXISTS { ?a a <urn:t:Thing> . }
        }
    """)


ORACLES["kg_sparql_exists"] = _KG_EDGES_SQL + """
SELECT k.src AS a, k.dst AS b
FROM edges k
WHERE k.pred = 'urn:p:knows'
  AND EXISTS (SELECT 1 FROM edges r
              WHERE r.src = k.dst
                AND r.pred = 'http://purl.org/dc/terms/relation')
  AND NOT EXISTS (SELECT 1 FROM edges t
                  WHERE t.src = k.src
                    AND t.pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
                    AND t.dst = 'urn:t:Thing')
"""


def q_kg_sparql_bind(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL BIND + SELECT DISTINCT from query TEXT: the computed
    column is a row-local Catalyst projection (no shuffle), and
    DISTINCT is one map-side-partial hash aggregation over the already
    projection-narrowed solution."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        SELECT DISTINCT ?p ?tag WHERE {
            ?a p:knows ?b . ?b ?p ?c .
            BIND(CONCAT(?p, "#", SUBSTRING(?c, 1, 6)) AS ?tag)
        }
    """)


ORACLES["kg_sparql_bind"] = _KG_EDGES_SQL + """
SELECT DISTINCT e2.pred AS p,
       e2.pred || '#' || SUBSTRING(e2.dst, 1, 6) AS tag
FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
WHERE e1.pred = 'urn:p:knows'
"""


def q_kg_sparql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL subquery from query TEXT: an aggregated ``{ SELECT ... }``
    compiled recursively and hash-joined into the outer solution on its
    projected shared variable. The subquery is REDUCED (one map-side-
    partial groupBy) before the join — AQE broadcasts the aggregated
    side, so the outer scan is touched once."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        PREFIX p: <urn:p:>
        SELECT ?a ?b ?n WHERE {
            ?a p:knows ?b .
            { SELECT ?b (COUNT(*) AS ?n) WHERE { ?b ?q ?z . } GROUP BY ?b }
            FILTER(?n >= 2)
        }
    """)


ORACLES["kg_sparql_subquery"] = _KG_EDGES_SQL + """
SELECT k.src AS a, k.dst AS b, c.n
FROM edges k
JOIN (SELECT src AS b, CAST(COUNT(*) AS BIGINT) AS n
      FROM edges GROUP BY src) c ON c.b = k.dst
WHERE k.pred = 'urn:p:knows' AND c.n >= 2
"""


def q_render_jsonld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD flat expanded-form rendering (writer-matrix completion;
    the reference parses JSON-LD but never writes it). One node object
    per subject, predicates and object arrays canonically sorted, so
    the output is a pure function of the statement set. All JVM: two
    map-side-partial hash aggregations, no Python in the plan."""
    from .operators.serialize_ops import render_jsonld

    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    st = extract_statements(t)
    return render_jsonld(st)


ORACLES["render_jsonld"] = _SEED + f"""
SELECT 'urn:e:'||did AS subj,
  '{{"@id":"urn:e:'||did||'","urn:p:knows":[{{"@id":"urn:e:'||(did+1)
  ||'"}}],"urn:p:name":[{{"@value":"'||
  CASE WHEN did%10=0
       THEN 'Entity '||{_BS}||'"'||did||{_BS}||'"'||{_BS}||'n'
       ELSE 'Entity '||did END
  ||'"}}],"urn:p:score":[{{"@value":"'||(did%100)
  ||'.5","@type":"http://www.w3.org/2001/XMLSchema#decimal"}}]}}' AS json
FROM (SELECT DISTINCT did FROM t)
UNION ALL
SELECT '_:bc'||did||'_'||tix||'_n0',
  '{{"@id":"_:bc'||did||'_'||tix||'_n0","urn:p:label":[{{"@value":"turn '
  ||tix||'","@language":"en"}}]}}'
FROM t
"""


def q_kg_sparql_agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL FILTER composed with GROUP BY aggregates from query TEXT:
    the filter scopes to the group pattern (pre-aggregation, pushed
    into the scan by Catalyst), distinct from HAVING which scopes to
    the aggregated result."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        SELECT ?p (COUNT(*) AS ?n) WHERE {
            ?a ?p ?b . FILTER(strstarts(?b, "urn:e:1"))
        } GROUP BY ?p
    """)


ORACLES["kg_sparql_agg_filter"] = _KG_EDGES_SQL + """
SELECT pred AS p, CAST(COUNT(*) AS BIGINT) AS n
FROM edges WHERE dst LIKE 'urn:e:1%' GROUP BY pred
"""


def q_kg_sparql_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL GROUP_CONCAT + SAMPLE from query TEXT. SPARQL leaves
    GROUP_CONCAT element order and SAMPLE's pick implementation-
    defined; this engine sorts elements and takes min() so both are
    pure functions of the group — deterministic at any parallelism,
    which a gated pipeline requires."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        SELECT ?b (GROUP_CONCAT(DISTINCT ?p; SEPARATOR="|") AS ?preds)
                  (SAMPLE(?a) AS ?first_src) (COUNT(*) AS ?n)
        WHERE { ?a ?p ?b . } GROUP BY ?b
    """)


ORACLES["kg_sparql_group_concat"] = _KG_EDGES_SQL + """
SELECT dst AS b,
       string_agg(DISTINCT pred, '|' ORDER BY pred) AS preds,
       MIN(src) AS first_src,
       CAST(COUNT(*) AS BIGINT) AS n
FROM edges GROUP BY dst
"""


def q_kg_sparql_describe_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DESCRIBE ?v WHERE { ... } from query TEXT: the WHERE
    compiles through the SELECT pipeline, then every edge touching a
    solution is kept via two left-semi hash joins (src side, dst side)
    against the distinct-reduced solution set — never a per-row
    subquery; AQE broadcasts the solution when small."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_describe(edges, """
        PREFIX p: <urn:p:>
        DESCRIBE ?x WHERE {
            ?x a <urn:t:Thing> . FILTER(strstarts(?x, "urn:e:19"))
        }
    """)


ORACLES["kg_sparql_describe_where"] = _KG_EDGES_SQL + """,
sol AS (
  SELECT DISTINCT src AS x FROM edges
  WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
    AND dst = 'urn:t:Thing' AND src LIKE 'urn:e:19%'
)
SELECT DISTINCT e.src, e.pred, e.dst FROM edges e
WHERE e.src IN (SELECT x FROM sol) OR e.dst IN (SELECT x FROM sol)
"""


def q_kg_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic random-walk corpus over the KG (DeepWalk/node2vec
    skip-gram input): hash-chosen next hops make the walks a pure
    function of the graph — identical at any parallelism, replayable
    for resume. walk_len joins + min-aggregations, frontier cardinality
    nodes×walks regardless of edge count."""
    from .operators.graph import random_walks

    edges = _kg_edges(spark, sf_dir)
    return random_walks(edges, walk_len=3, walks_per_node=2)


_WALKS_WITH = _KG_EDGES_SQL + """,
e AS (SELECT DISTINCT src, dst FROM edges),
w AS (SELECT n.src AS start, t.w AS walk
      FROM (SELECT DISTINCT src FROM e) n
      CROSS JOIN (SELECT unnest([0, 1]) AS w) t),
s0 AS (SELECT start, walk, start AS node FROM w),
s1 AS (SELECT s0.start, s0.walk,
         substr(min(substr(md5(s0.start||'#'||s0.walk||'#1#'||e.dst),1,15)
                    ||'#'||e.dst), 17) AS node
       FROM s0 JOIN e ON e.src = s0.node GROUP BY s0.start, s0.walk),
s2 AS (SELECT s1.start, s1.walk,
         substr(min(substr(md5(s1.start||'#'||s1.walk||'#2#'||e.dst),1,15)
                    ||'#'||e.dst), 17) AS node
       FROM s1 JOIN e ON e.src = s1.node GROUP BY s1.start, s1.walk),
s3 AS (SELECT s2.start, s2.walk,
         substr(min(substr(md5(s2.start||'#'||s2.walk||'#3#'||e.dst),1,15)
                    ||'#'||e.dst), 17) AS node
       FROM s2 JOIN e ON e.src = s2.node GROUP BY s2.start, s2.walk),
walks AS (
  SELECT start, CAST(walk AS INT) AS walk, 0 AS step, node FROM s0
  UNION ALL
  SELECT start, CAST(walk AS INT), 1, node FROM s1
  UNION ALL
  SELECT start, CAST(walk AS INT), 2, node FROM s2
  UNION ALL
  SELECT start, CAST(walk AS INT), 3, node FROM s3
)"""

ORACLES["kg_random_walks"] = _WALKS_WITH + """
SELECT start, walk, step, node FROM walks
"""


def q_kg_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context, weight) pairs from the deterministic
    walk corpus — the word2vec-style training input for node
    embeddings. One walk-keyed self join (bounded per-key blow-up) +
    one pair aggregation."""
    from .operators.graph import random_walks, skipgram_pairs

    edges = _kg_edges(spark, sf_dir)
    return skipgram_pairs(random_walks(edges, walk_len=3, walks_per_node=2),
                          window=2)


ORACLES["kg_skipgram_pairs"] = _WALKS_WITH + """
SELECT a.node AS center, b.node AS context,
       CAST(COUNT(*) AS BIGINT) AS weight
FROM walks a JOIN walks b
  ON a.start = b.start AND a.walk = b.walk
 AND a.step <> b.step AND abs(b.step - a.step) <= 2
GROUP BY a.node, b.node
"""


def q_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence matrix (GloVe prep) over documents: exact
    equi-join on (doc, pos+k) instead of a per-document position-band
    self join — linear in tokens at any document length where the
    band join is quadratic on long docs."""
    return curation.cooccurrence(_docs(spark, sf_dir), window=2).select(
        "w1", "w2", "n"
    )


ORACLES["cooccurrence"] = r"""
WITH t AS (SELECT doc_id AS doc,
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                               ' ') AS w
           FROM documents WHERE length(trim(text)) > 0),
tok AS (SELECT doc, unnest(w) AS word,
               unnest(range(1, len(w) + 1)) AS pos
        FROM t)
SELECT a.word AS w1, b.word AS w2, CAST(COUNT(*) AS BIGINT) AS n
FROM tok a JOIN tok b
  ON b.doc = a.doc AND b.pos BETWEEN a.pos + 1 AND a.pos + 2
GROUP BY a.word, b.word
"""


def q_ppmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPMI association weights over the window-2 co-occurrence matrix:
    fraction-free integer lift (PMI = ln(lift/1e6)) so the scores hash
    identically in any engine; marginals via two vocabulary-sized
    aggregations over a localCheckpointed matrix, never a corpus
    recompute per marginal."""
    return curation.ppmi(
        curation.cooccurrence(_docs(spark, sf_dir), window=2), min_count=2
    ).select("w1", "w2", "n", "lift")


ORACLES["ppmi"] = r"""
WITH t AS (SELECT doc_id AS doc,
                  string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                               ' ') AS w
           FROM documents WHERE length(trim(text)) > 0),
tok AS (SELECT doc, unnest(w) AS word,
               unnest(range(1, len(w) + 1)) AS pos
        FROM t),
cooc AS (SELECT a.word AS w1, b.word AS w2, CAST(COUNT(*) AS BIGINT) AS n
         FROM tok a JOIN tok b
           ON b.doc = a.doc AND b.pos BETWEEN a.pos + 1 AND a.pos + 2
         GROUP BY a.word, b.word),
m1 AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS n1 FROM cooc GROUP BY w1),
m2 AS (SELECT w2, CAST(SUM(n) AS BIGINT) AS n2 FROM cooc GROUP BY w2),
g AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cooc)
SELECT c.w1, c.w2, c.n,
       CAST((1000000 * c.n * (SELECT total FROM g)) // (m1.n1 * m2.n2)
            AS BIGINT) AS lift
FROM cooc c JOIN m1 USING (w1) JOIN m2 USING (w2)
WHERE c.n >= 2
"""


def q_kg_sparql_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL 1.1 Update executed against the KG: a ;-chained request
    (DELETE/INSERT WHERE rewrite of typed knows edges, then an INSERT
    DATA) returning the updated edge set — deletes as left-anti hash
    joins, inserts as a union closed by one distinct, both Modify
    templates instantiated against the pre-update state."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_update(edges, """
        PREFIX p: <urn:p:>
        DELETE { ?a p:knows ?b }
        INSERT { ?a p:contacted ?b . ?b p:contactedBy ?a }
        WHERE { ?a p:knows ?b . ?a a <urn:t:Thing> . } ;
        INSERT DATA { <urn:e:root> a <urn:t:Root> }
    """)


ORACLES["kg_sparql_update"] = _KG_EDGES_SQL + """
, sol AS (
    SELECT k.src AS a, k.dst AS b
    FROM edges k
    JOIN edges t ON t.src = k.src
        AND t.pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
        AND t.dst = 'urn:t:Thing'
    WHERE k.pred = 'urn:p:knows'
),
del AS (SELECT a AS src, 'urn:p:knows' AS pred, b AS dst FROM sol),
ins AS (SELECT a AS src, 'urn:p:contacted' AS pred, b AS dst FROM sol
        UNION
        SELECT b, 'urn:p:contactedBy', a FROM sol)
SELECT src, pred, dst FROM (
    SELECT * FROM edges EXCEPT SELECT * FROM del
    UNION
    SELECT * FROM ins
    UNION
    SELECT 'urn:e:root', 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type',
           'urn:t:Root'
)
"""


# ------------------------------------------------- round-2 curation additions


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic weighted priority sampling (md5 priority
    DIV weight, k lowest) — one projection + TakeOrderedAndProject,
    never a global sort."""
    return curation.weighted_sample(
        _docs(spark, sf_dir), k=200, weight_col="n_chars"
    ).select(F.col("doc_id").cast("long"), "weight", "priority")


ORACLES["weighted_sample"] = rf"""
WITH s AS (SELECT doc_id,
        greatest(CAST(n_chars AS BIGINT), 1) AS weight,
        {_h60("CAST(doc_id AS VARCHAR)||'#ws'")} AS u
      FROM documents)
SELECT doc_id, weight, u // weight AS priority
FROM s ORDER BY priority, doc_id LIMIT 200
"""


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document corpus-uniqueness of word-5-grams (df==1 fraction,
    integer per-mille) — two hash aggregations + a vocabulary-keyed
    equi-join, no pairwise comparison."""
    return curation.ngram_novelty(_docs(spark, sf_dir), n=5).select(
        F.col("doc_id").cast("long"), "n_grams", "n_unique", "novelty_pm"
    )


ORACLES["ngram_novelty"] = r"""
WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
               AS ws
           FROM documents),
g AS (SELECT doc_id,
        list_distinct(CASE WHEN len(ws) < 5 THEN CAST([] AS VARCHAR[])
             ELSE list_transform(range(1, len(ws) - 3),
                                 i -> array_to_string(ws[i:i+4], ' ')) END) AS grams
      FROM w),
e AS (SELECT doc_id, unnest(grams) AS gram FROM g),
df AS (SELECT gram, CAST(COUNT(*) AS INT) AS df FROM e GROUP BY gram),
pd AS (SELECT e.doc_id, CAST(COUNT(*) AS INT) AS n_grams,
         CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS INT) AS n_unique
       FROM e JOIN df USING (gram) GROUP BY e.doc_id)
SELECT d.doc_id,
       COALESCE(pd.n_grams, 0) AS n_grams,
       COALESCE(pd.n_unique, 0) AS n_unique,
       CASE WHEN pd.n_grams IS NOT NULL
            THEN CAST(1000 AS BIGINT) * pd.n_unique // pd.n_grams END AS novelty_pm
FROM documents d LEFT JOIN pd USING (doc_id)
"""


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram lang-ID confusion matrix against the corpus's labeled
    ``lang`` column — row-local prediction (label passed through, no
    self-join) + one tiny-key hash aggregation."""
    return text.lang_confusion(_docs(spark, sf_dir))


ORACLES["lang_id_confusion"] = rf"""
WITH pred AS ({_lang_id_ngram_oracle()}),
lab AS (SELECT doc_id, lang FROM documents)
SELECT lab.lang AS lang_true, pred.lang_pred,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM lab JOIN pred USING (doc_id)
GROUP BY lab.lang, pred.lang_pred
"""


def q_kg_entity_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-canonical-entity mention timeline over the transcript
    corpus: mention count plus first/last mention timestamps (epoch
    micros — the integer form every ts oracle here uses). Linked
    mentions join back to the transcript frame on (conv_id, turn_idx)
    to pick up the real ``ts`` column, then one hash aggregation on
    the entity IRI; mention counts are corpus-scale but the output is
    entity-vocabulary-sized."""
    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    st = triples(extract_statements(t))
    linked = link_entities(st, entity_dictionary(spark, sf_dir))
    return (
        linked.join(
            t.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"]
        )
        .groupBy("canonical_iri")
        .agg(
            F.count("*").cast("long").alias("mentions"),
            F.unix_micros(F.min("ts")).alias("first_ts_us"),
            F.unix_micros(F.max("ts")).alias("last_ts_us"),
        )
    )


ORACLES["kg_entity_timeline"] = _SEED + """,
m AS (SELECT did, CAST((1704067200 + did*3600 + tix*60) AS BIGINT) * 1000000
        AS ts_us FROM t WHERE did % 10 <> 0)
SELECT 'urn:e:'||did AS canonical_iri,
       CAST(COUNT(*) AS BIGINT) AS mentions,
       MIN(ts_us) AS first_ts_us,
       MAX(ts_us) AS last_ts_us
FROM m GROUP BY did
"""


def q_kg_edge_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal provenance per KG edge (assertion count, conversation
    support, first/last assertion epoch-micros) — the temporal-KG
    companion of kg_edges."""
    t = synth_transcripts(spark, sf_dir, fmt="ntriples")
    st = extract_statements(t)
    return materialize.edge_provenance(st, t)


ORACLES["kg_edge_provenance"] = _SEED + """,
m AS (SELECT did, CAST((1704067200 + did*3600 + tix*60) AS BIGINT) * 1000000
        AS ts_us FROM t)
SELECT 'urn:e:'||did AS src, 'urn:p:knows' AS pred,
       'urn:e:'||(did+1) AS dst,
       CAST(COUNT(*) AS BIGINT) AS n_mentions,
       CAST(1 AS BIGINT) AS n_convs,
       MIN(ts_us) AS first_ts_us,
       MAX(ts_us) AS last_ts_us
FROM m GROUP BY did
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k per-language uniform sample (salted md5 coin, skew-safe
    two-phase bottom-k) over the labeled corpus."""
    return curation.stratified_sample(_docs(spark, sf_dir), k=20).select(
        "stratum", F.col("doc_id").cast("long"), "coin", "rank"
    )


ORACLES["stratified_sample"] = rf"""
WITH c AS (SELECT lang AS stratum, doc_id,
        {_h60("CAST(doc_id AS VARCHAR)||'#sts'")} AS coin
      FROM documents),
rk AS (SELECT stratum, doc_id, coin,
         CAST(ROW_NUMBER() OVER (PARTITION BY stratum
                                 ORDER BY coin, doc_id) AS INT) AS rank
       FROM c)
SELECT stratum, doc_id, coin, rank FROM rk WHERE rank <= 20
"""


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide 16-word-segment dedup with cleaned-text
    reconstruction (first corpus occurrence wins) — the
    produce-the-cleaned-corpus counterpart of dedup_substring."""
    return dedup.segment_dedup(_docs(spark, sf_dir), seg_words=16).select(
        F.col("doc_id").cast("long"), "n_segs", "n_kept", "clean_text"
    )


ORACLES["segment_dedup"] = r"""
WITH w AS (SELECT doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
               AS ws
           FROM documents),
s AS (SELECT doc_id, i AS pos,
        array_to_string(ws[(i*16+1):(i*16+16)], ' ') AS seg
      FROM w, unnest(range(0, CAST(ceil(len(ws)/16.0) AS INT))) AS u(i)),
k AS (SELECT doc_id, pos, seg,
        ROW_NUMBER() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
      FROM s),
r AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
        string_agg(seg, ' ' ORDER BY pos) AS clean_text
      FROM k WHERE rn = 1 GROUP BY doc_id),
n AS (SELECT doc_id, CAST(ceil(len(ws)/16.0) AS INT) AS n_segs FROM w)
SELECT n.doc_id, n.n_segs,
       COALESCE(r.n_kept, 0) AS n_kept,
       COALESCE(r.clean_text, '') AS clean_text
FROM n LEFT JOIN r USING (doc_id)
"""


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-named-graph profile over the quads corpus (triple count,
    exact distinct subjects/predicates, bnode-subject count) — the
    graph-dimension sibling of kg_degree_stats, exercising the quads
    surface end-to-end (the reference's QuadSink carries the graph
    through the chain, QuadSink.java; here it is a first-class column).
    One hash aggregation on the graph key with map-side partials and
    two-phase exact distincts; output is graph-vocabulary-sized."""
    st = _corpus(spark, sf_dir, fmt="nquads")
    g = F.coalesce(F.col("graph"), F.lit("urn:default"))
    return st.groupBy(g.alias("graph")).agg(
        F.count("*").cast("long").alias("n_statements"),
        F.countDistinct("subj").cast("long").alias("n_subjects"),
        F.countDistinct("pred").cast("long").alias("n_preds"),
        F.sum(F.col("subj").startswith("_:").cast("int"))
        .cast("long")
        .alias("n_bnode_subj"),
    )


ORACLES["graph_stats"] = _SEED + """,
q AS (
  SELECT 'urn:g:'||(did%10) AS graph, 'urn:e:'||did AS subj,
         'urn:p:name' AS pred FROM t
  UNION ALL
  SELECT 'urn:default', 'urn:e:'||did, 'urn:p:knows' FROM t
  UNION ALL
  SELECT 'urn:g:'||(did%10), '_:bc'||did||'_'||tix||'_n0',
         'urn:p:label' FROM t)
SELECT graph, CAST(COUNT(*) AS BIGINT) AS n_statements,
       CAST(COUNT(DISTINCT subj) AS BIGINT) AS n_subjects,
       CAST(COUNT(DISTINCT pred) AS BIGINT) AS n_preds,
       CAST(SUM(CASE WHEN starts_with(subj, '_:') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bnode_subj
FROM q GROUP BY graph
"""


def q_kg_sparql_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARQL DISTINCT aggregates from query TEXT: COUNT(DISTINCT ?v)
    alongside a plain COUNT in one GROUP BY — compiles to Spark's
    two-phase partial-distinct aggregate (the distinct never funnels a
    predicate's edges through one reducer)."""
    edges = _kg_edges(spark, sf_dir)
    return sparql_select(edges, """
        SELECT ?p (COUNT(DISTINCT ?a) AS ?nsrc) (COUNT(*) AS ?n)
        WHERE { ?a ?p ?b . } GROUP BY ?p ORDER BY ?p
    """)


ORACLES["kg_sparql_count_distinct"] = _KG_EDGES_SQL + """
SELECT pred AS p, CAST(COUNT(DISTINCT src) AS BIGINT) AS nsrc,
       CAST(COUNT(*) AS BIGINT) AS n
FROM edges GROUP BY pred ORDER BY pred
"""


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes over the embeddings (m=4 subspaces x
    16 dims, 8 codewords each, Q20 fixed-point Lloyd's per subspace) +
    summed reconstruction error — the compressed-index storage layer
    that makes a 10^12-vector ANN index RAM-resident. Codes CSV-joined
    for the cross-engine value hash."""
    from .operators.clustering import pq_encode

    out = pq_encode(_embeddings(spark, sf_dir), m=4, sub=16, k=8, iterations=2)
    return out.select(
        F.col("vec_id").cast("long"),
        F.concat_ws(
            ",", F.transform(F.col("codes"), lambda x: x.cast("string"))
        ).alias("codes_csv"),
        "recon_err_fp",
    )


def _pq_oracle(m: int = 4, sub: int = 16, k: int = 8, iters: int = 2) -> str:
    """DuckDB mirror of pq_encode: one shared Q20 position table, then
    an independent kmeans CTE chain per subspace restricted to its
    position range (same init rule, truncating-division centroid
    updates, and (dist, cluster) tie-break as _kmeans_ctes)."""
    sql = """
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                  list_transform(embedding[1:%(d)d],
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
           FROM embeddings),
qpos AS (SELECT vec_id, i AS pos, qv[i] AS val
         FROM q, UNNEST(range(1, len(qv) + 1)) AS t(i))""" % {"d": m * sub}
    finals = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        sql += """,
s%(j)dc0 AS (SELECT CAST(vec_id AS INT) AS cluster, pos, val FROM qpos
             WHERE vec_id < %(k)d AND pos BETWEEN %(lo)d AND %(hi)d)""" % {
            "j": j, "k": k, "lo": lo, "hi": hi}
        for i in range(1, iters + 1):
            sql += """,
s%(j)da%(i)d AS (SELECT p.vec_id, c.cluster,
                   CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT) AS dist
                 FROM qpos p JOIN s%(j)dc%(prev)d c USING (pos)
                 GROUP BY p.vec_id, c.cluster),
s%(j)db%(i)d AS (SELECT vec_id, cluster, dist,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cluster) AS rn
                 FROM s%(j)da%(i)d),
s%(j)dc%(i)d AS (SELECT b.cluster, p.pos,
                   CAST((SUM(p.val) - SUM(p.val) %% COUNT(*)) / COUNT(*) AS BIGINT) AS val
                 FROM s%(j)db%(i)d b JOIN qpos p USING (vec_id)
                 WHERE b.rn = 1 AND p.pos BETWEEN %(lo)d AND %(hi)d
                 GROUP BY b.cluster, p.pos)""" % {
                "j": j, "i": i, "prev": i - 1, "lo": lo, "hi": hi}
        sql += """,
s%(j)daf AS (SELECT p.vec_id, c.cluster,
               CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT) AS dist
             FROM qpos p JOIN s%(j)dc%(last)d c USING (pos)
             GROUP BY p.vec_id, c.cluster),
s%(j)dbf AS (SELECT vec_id, cluster, dist,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dist, cluster) AS rn
             FROM s%(j)daf)""" % {"j": j, "last": iters}
        finals.append(
            "SELECT vec_id, %(j)d AS subspace, cluster, dist "
            "FROM s%(j)dbf WHERE rn = 1" % {"j": j}
        )
    sql += """,
u AS (%s)
SELECT vec_id,
       array_to_string(list(CAST(cluster AS VARCHAR) ORDER BY subspace), ',')
         AS codes_csv,
       CAST(SUM(dist) AS BIGINT) AS recon_err_fp
FROM u GROUP BY vec_id""" % " UNION ALL ".join(finals)
    return sql


ORACLES["pq_encode"] = _pq_oracle()


def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ top-10 for a fixed query vector: per-
    subspace LUT of query-to-codeword Q20 distances, candidate distance
    = sum of m LUT entries selected by the codes (never the raw
    vectors), TakeOrderedAndProject top-k."""
    from .operators.clustering import pq_search

    return pq_search(
        _embeddings(spark, sf_dir), query_id=42, topk=10,
        m=4, sub=16, k=8, iterations=2,
    )


def _pq_search_oracle(
    query_id: int = 42, topk: int = 10,
    m: int = 4, sub: int = 16, k: int = 8, iters: int = 2,
) -> str:
    """Mirror of pq_search: reuse the _pq_oracle subspace chains, then
    per subspace a LUT (query row vs final centroids) and the code
    rows, summed per vector."""
    base = _pq_oracle(m=m, sub=sub, k=k, iters=iters)
    # keep everything up to (and excluding) the final ",\nu AS" assembly
    head = base.split(",\nu AS (")[0]
    luts = []
    codes = []
    for j in range(m):
        luts.append(
            "SELECT %(j)d AS subspace, c.cluster,"
            " CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT) AS ldist"
            " FROM qpos p JOIN s%(j)dc%(last)d c USING (pos)"
            " WHERE p.vec_id = %(qid)d GROUP BY c.cluster"
            % {"j": j, "last": iters, "qid": query_id}
        )
        codes.append(
            "SELECT vec_id, %(j)d AS subspace, cluster FROM s%(j)dbf"
            " WHERE rn = 1" % {"j": j}
        )
    return head + """,
lut AS (%(luts)s),
codes AS (%(codes)s),
s AS (SELECT c.vec_id, CAST(SUM(l.ldist) AS BIGINT) AS adist_fp
      FROM codes c JOIN lut l USING (subspace, cluster)
      GROUP BY c.vec_id)
SELECT vec_id AS neighbor_id, adist_fp FROM s
WHERE vec_id <> %(qid)d
ORDER BY adist_fp, vec_id LIMIT %(topk)d""" % {
        "luts": " UNION ALL ".join(luts),
        "codes": " UNION ALL ".join(codes),
        "qid": query_id,
        "topk": topk,
    }


ORACLES["pq_search"] = _pq_search_oracle()


def q_pq_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed PQ top-10 for a fixed query: coarse 8-cell quantizer,
    nprobe=2 probed cells bound the candidates, asymmetric PQ distance
    ranks only those — the production trillion-vector ANN shape."""
    from .operators.clustering import pq_ivf_search

    return pq_ivf_search(
        _embeddings(spark, sf_dir), query_id=42, topk=10, nprobe=2,
        k_coarse=8, coarse_iterations=2, m=4, sub=16, k=8, iterations=2,
    )


def _pq_ivf_oracle(
    query_id: int = 42, topk: int = 10, nprobe: int = 2,
    k_coarse: int = 8, coarse_iters: int = 2,
    m: int = 4, sub: int = 16, k: int = 8, iters: int = 2,
) -> str:
    """Mirror of pq_ivf_search: the _pq_oracle subspace chains plus a
    full-space coarse chain (prefix g), the nprobe probe list, the cell
    membership, and the candidate-restricted ADC ranking."""
    head = _pq_oracle(m=m, sub=sub, k=k, iters=iters).split(",\nu AS (")[0]
    # coarse kmeans chain over the full position range
    sql = head + """,
gc0 AS (SELECT CAST(vec_id AS INT) AS cluster, pos, val FROM qpos
        WHERE vec_id < %(kc)d)""" % {"kc": k_coarse}
    for i in range(1, coarse_iters + 1):
        sql += """,
ga%(i)d AS (SELECT p.vec_id, c.cluster,
              CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT) AS dist
            FROM qpos p JOIN gc%(prev)d c USING (pos)
            GROUP BY p.vec_id, c.cluster),
gb%(i)d AS (SELECT vec_id, cluster, dist,
              ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist, cluster) AS rn
            FROM ga%(i)d),
gc%(i)d AS (SELECT b.cluster, p.pos,
              CAST((SUM(p.val) - SUM(p.val) %% COUNT(*)) / COUNT(*) AS BIGINT) AS val
            FROM gb%(i)d b JOIN qpos p USING (vec_id)
            WHERE b.rn = 1 GROUP BY b.cluster, p.pos)""" % {
            "i": i, "prev": i - 1}
    sql += """,
gaf AS (SELECT p.vec_id, c.cluster,
          CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT) AS dist
        FROM qpos p JOIN gc%(last)d c USING (pos)
        GROUP BY p.vec_id, c.cluster),
gbf AS (SELECT vec_id, cluster, dist,
          ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY dist, cluster) AS rn
        FROM gaf),
probe AS (SELECT c.cluster
          FROM (SELECT c.cluster,
                  CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT) AS cd
                FROM qpos p JOIN gc%(last)d c USING (pos)
                WHERE p.vec_id = %(qid)d GROUP BY c.cluster) c
          ORDER BY c.cd, c.cluster LIMIT %(np)d),
cand AS (SELECT vec_id FROM gbf
         WHERE rn = 1 AND cluster IN (SELECT cluster FROM probe))""" % {
        "last": coarse_iters, "qid": query_id, "np": nprobe}
    luts = []
    codes = []
    for j in range(m):
        luts.append(
            "SELECT %(j)d AS subspace, c.cluster,"
            " CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT) AS ldist"
            " FROM qpos p JOIN s%(j)dc%(last)d c USING (pos)"
            " WHERE p.vec_id = %(qid)d GROUP BY c.cluster"
            % {"j": j, "last": iters, "qid": query_id}
        )
        codes.append(
            "SELECT vec_id, %(j)d AS subspace, cluster FROM s%(j)dbf"
            " WHERE rn = 1" % {"j": j}
        )
    sql += """,
lut AS (%(luts)s),
codes AS (%(codes)s),
s AS (SELECT c.vec_id, CAST(SUM(l.ldist) AS BIGINT) AS adist_fp
      FROM codes c JOIN lut l USING (subspace, cluster)
      JOIN cand USING (vec_id)
      GROUP BY c.vec_id)
SELECT vec_id AS neighbor_id, adist_fp FROM s
WHERE vec_id <> %(qid)d
ORDER BY adist_fp, vec_id LIMIT %(topk)d""" % {
        "luts": " UNION ALL ".join(luts),
        "codes": " UNION ALL ".join(codes),
        "qid": query_id,
        "topk": topk,
    }
    return sql


ORACLES["pq_ivf_search"] = _pq_ivf_oracle()


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@10 of the PQ and IVF-PQ paths
    against the exact Q20 brute-force ground truth for a fixed query —
    measured, not guessed (at 10^12 vectors the ground-truth side runs
    on an evaluation sample; the methodology and its bit-exact
    replayability are what this gate verifies). One row per method:
    (method, hits, k, recall_pm). Absolute recall is LOW here by
    nature: the synthetic embeddings are near-uniform (little cluster
    structure) and 4×log2(16)=16 bits/vector is severe compression, so
    exact-NN recall at these tiny parameters is noise-dominated —
    tests/test_graph_query.py shows the same code at recall 1.0 on
    structured data, and production tuning moves m/k/nprobe up the
    recall-cost curve."""
    from .operators.clustering import (
        exact_topk_fp, pq_adist, pq_ivf_search, pq_search,
    )

    emb = _embeddings(spark, sf_dir)
    kw = dict(query_id=42, topk=10, m=4, sub=16, k=16, iterations=3)
    # train-once / search-many: one codebook training + ADC pass shared
    # by both evaluated methods (checkpointed — each method branch and
    # its union arm would otherwise replan the m Lloyd's loops)
    shared = pq_adist(
        emb, query_id=42, m=4, sub=16, k=16, iterations=3
    ).localCheckpoint(eager=False)
    # both method branches join against the ground truth; without a
    # checkpoint Catalyst replans the brute-force top-k (the expensive
    # exact side) once per branch — cut it to one computation
    truth = (
        exact_topk_fp(emb, query_id=42, topk=10, dims=64)
        .select("neighbor_id")
        .localCheckpoint(eager=False)
    )
    out = []
    for method, df in (
        ("pq", pq_search(emb, adist=shared, **kw)),
        ("ivf_pq", pq_ivf_search(emb, nprobe=4, k_coarse=8,
                                 coarse_iterations=2, adist=shared, **kw)),
    ):
        hits = df.select("neighbor_id").join(truth, "neighbor_id")
        out.append(
            hits.agg(F.count("*").cast("int").alias("hits")).select(
                F.lit(method).alias("method"),
                "hits",
                F.lit(10).alias("k"),
                F.expr("CAST(1000 AS BIGINT) * hits div 10").alias("recall_pm"),
            )
        )
    return out[0].union(out[1])


def q_kg_cardinality_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-predicate distinct-object cardinality: KMV bottom-64 sketch
    estimate vs the exact distinct, with signed per-mille error
    (operators/sketch.kmv_distinct). The rdf:type predicate (1 distinct
    object) exercises the exact small-set path; the entity predicates
    exercise the order-statistics estimator."""
    from .operators.sketch import kmv_distinct

    edges = _kg_edges(spark, sf_dir)
    sk = kmv_distinct(edges, ["pred"], "dst", k=64)
    exact = edges.groupBy("pred").agg(
        F.countDistinct("dst").cast("long").alias("n_exact")
    )
    return sk.join(exact, "pred").select(
        "pred", "n_hashes", "kth_min", "est_distinct", "n_exact",
        F.expr(
            "CAST(CASE WHEN est_distinct >= n_exact THEN 1 ELSE -1 END"
            " AS BIGINT) * ((1000 * abs(est_distinct - n_exact))"
            " div greatest(n_exact, 1L))"
        ).alias("err_pm"),
    )


ORACLES["kg_cardinality_sketch"] = _KG_EDGES_SQL + """,
h AS (SELECT DISTINCT pred,
        list_reduce(list_transform(range(1, 14), i ->
          CAST(strpos('0123456789abcdef', substr(md5(dst), i, 1)) - 1
               AS BIGINT)), (a, b) -> a * 16 + b) AS h
      FROM edges),
botk AS (SELECT pred, h,
         row_number() OVER (PARTITION BY pred ORDER BY h) AS rn FROM h),
sk AS (SELECT pred, CAST(COUNT(*) AS INT) AS n_hashes,
              MAX(h) AS kth_min
       FROM botk WHERE rn <= 64 GROUP BY pred),
ex AS (SELECT pred, CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_exact
       FROM edges GROUP BY pred)
SELECT s.pred, s.n_hashes, s.kth_min,
       CASE WHEN s.n_hashes < 64 THEN CAST(s.n_hashes AS BIGINT)
            ELSE CAST(283726776524341248 // greatest(s.kth_min, 1)
                      AS BIGINT) END AS est_distinct,
       e.n_exact,
       CAST(CASE WHEN est_distinct >= e.n_exact THEN 1 ELSE -1 END
            AS BIGINT)
       * CAST((1000 * abs(est_distinct - e.n_exact))
              // greatest(e.n_exact, 1) AS BIGINT) AS err_pm
FROM sk s JOIN ex e USING (pred)
"""


def q_kg_asof_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time KG view (materialize.kg_asof): each entity's name
    is re-asserted over time (one assertion per version j at ts
    1000+10j, versions 0..d%4); the view at T=1015 must show exactly
    version min(1, d%4) — later re-assertions don't exist yet."""
    from .operators.materialize import kg_asof

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("d"))
    assertions = d.select(
        "d",
        F.explode(F.sequence(F.lit(0), F.col("d") % 4)).alias("j"),
    ).select(
        F.concat_ws("", F.lit("u"), F.col("d").cast("string")).alias("src"),
        F.lit("urn:p:name").alias("pred"),
        F.concat_ws(
            "", F.lit("v"), F.col("d").cast("string"), F.lit("_"),
            F.col("j").cast("string"),
        ).alias("dst"),
        (F.lit(1000) + F.col("j") * 10).cast("long").alias("ts"),
    )
    return kg_asof(assertions, at_ts=1015)


ORACLES["kg_asof_view"] = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
a AS (SELECT 'u'||d AS src, 'urn:p:name' AS pred, 'v'||d||'_'||j AS dst,
             CAST(1000 + j * 10 AS BIGINT) AS ts
      FROM d, UNNEST(generate_series(0, d % 4)) AS t(j)),
r AS (SELECT src, pred, dst, ts,
             row_number() OVER (PARTITION BY src, pred
                                ORDER BY ts DESC, dst ASC) AS rn
      FROM a WHERE ts <= 1015)
SELECT src, pred, dst, ts AS asserted_ts FROM r WHERE rn = 1
"""


def q_kg_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting reachability (graph.temporal_reachability):
    seeds' 8-hop reach along NON-DECREASING-timestamp paths, with
    earliest arrival and fewest hops. The derived temporal graph makes
    the constraint bite: forward chain edges carry increasing
    timestamps (walkable), while every 7th node's back-edge lands on a
    node whose outgoing timestamps are already in the past — reachable
    but a temporal dead-end, where plain closure would keep going."""
    from .operators.graph import temporal_reachability

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("d"))
    u = lambda c: F.concat_ws("", F.lit("u"), c.cast("string"))  # noqa: E731
    chain = d.select(
        u(F.col("d")).alias("src"),
        u(F.col("d") + 1).alias("dst"),
        (F.col("d") + 1000).alias("ts"),
    )
    back = d.filter((F.col("d") % 7 == 0) & (F.col("d") >= 3)).select(
        u(F.col("d")).alias("src"),
        u(F.col("d") - 3).alias("dst"),
        (F.col("d") + 1000).alias("ts"),
    )
    seeds = d.filter(F.col("d") % 50 == 0).select(
        u(F.col("d")).alias("node")
    )
    return temporal_reachability(chain.union(back), seeds, max_hops=8)


ORACLES["kg_temporal_reach"] = """
WITH RECURSIVE d AS (SELECT CAST(doc_id AS BIGINT) AS d FROM documents),
e AS (SELECT 'u'||d AS src, 'u'||(d+1) AS dst,
             CAST(d + 1000 AS BIGINT) AS ts FROM d
      UNION ALL
      SELECT 'u'||d, 'u'||(d-3), CAST(d + 1000 AS BIGINT)
      FROM d WHERE d % 7 = 0 AND d >= 3),
seeds AS (SELECT 'u'||d AS node FROM d WHERE d % 50 = 0),
walk(origin, node, hops, arr) AS (
  SELECT node, node, 0, CAST(0 AS BIGINT) FROM seeds
  UNION
  SELECT w.origin, e.dst, w.hops + 1, e.ts
  FROM walk w JOIN e ON e.src = w.node AND e.ts >= w.arr
  WHERE w.hops < 8
)
SELECT origin, node, MIN(arr) AS min_arr, CAST(MIN(hops) AS INT) AS min_hops
FROM walk GROUP BY origin, node
"""


def q_stream_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming KMV sketch maintenance (streaming/stream_sketch):
    the documents corpus lands in micro-batches; each foreachBatch
    merges the batch's bottom-64 word-hash sketch into the persisted
    state. Bottom-k merging is order-insensitive and idempotent, so
    the drained sketch equals the batch sketch EXACTLY — which is what
    the oracle checks."""
    import tempfile

    from .streaming.stream_sketch import sketch_estimate, stream_cardinality

    base = tempfile.mkdtemp(prefix="semargl_q_scard_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # 4 input files at maxFilesPerTrigger=2 -> two micro-batches under
    # availableNow: enough to prove the cross-batch merge while keeping
    # the gate's wall dominated by work, not per-batch stream overhead
    docs.repartition(4).write.mode("overwrite").parquet(f"{base}/in")
    q = stream_cardinality(
        spark, f"{base}/in", f"{base}/state", f"{base}/ckpt", k=64
    )
    _drain(spark, q, "stream_cardinality")
    return sketch_estimate(spark, f"{base}/state", k=64)


ORACLES["stream_cardinality"] = r"""
WITH w AS (SELECT unnest(string_split(regexp_replace(
             lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS v
           FROM documents),
dh AS (SELECT DISTINCT
         list_reduce(list_transform(range(1, 14), i ->
           CAST(strpos('0123456789abcdef', substr(md5(v), i, 1)) - 1
                AS BIGINT)), (a, b) -> a * 16 + b) AS h
       FROM w WHERE v <> ''),
botk AS (SELECT h FROM dh ORDER BY h LIMIT 64)
SELECT CAST(COUNT(*) AS INT) AS n_hashes, MAX(h) AS kth_min,
       CASE WHEN COUNT(*) < 64 THEN CAST(COUNT(*) AS BIGINT)
            ELSE CAST(283726776524341248 // greatest(MAX(h), 1) AS BIGINT)
       END AS est_distinct
FROM botk
"""


def q_token_freq_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch frequency estimates for the 20 most frequent
    corpus words, gated against their exact counts
    (sketch.cm_heavy_hitters): the whole corpus frequency table in a
    4×1024 counter grid, est ≥ exact by construction."""
    from .operators.sketch import cm_heavy_hitters

    words = _docs(spark, sf_dir).select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "word"
        )
    )
    return cm_heavy_hitters(words, "word", d=4, w=1024, k=20)


ORACLES["token_freq_sketch"] = r"""
WITH vals AS (SELECT unnest(string_split(regexp_replace(
                 lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS v
              FROM documents),
vv AS (SELECT v FROM vals WHERE v IS NOT NULL AND v <> ''),
rws AS (SELECT v, r,
          list_reduce(list_transform(range(1, 14), i ->
            CAST(strpos('0123456789abcdef',
                 substr(md5(r||'#'||v), i, 1)) - 1 AS BIGINT)),
            (a, b) -> a * 16 + b) % 1024 AS bucket
        FROM vv, UNNEST([0, 1, 2, 3]) AS t(r)),
counters AS (SELECT r, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM rws GROUP BY 1, 2),
top AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_exact FROM vv
        GROUP BY v ORDER BY n_exact DESC, v LIMIT 20),
probes AS (SELECT t.v, t.n_exact, q.r,
             list_reduce(list_transform(range(1, 14), i ->
               CAST(strpos('0123456789abcdef',
                    substr(md5(q.r||'#'||t.v), i, 1)) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 1024 AS bucket
           FROM top t, UNNEST([0, 1, 2, 3]) AS q(r)),
est AS (SELECT v, n_exact, MIN(cnt) AS est
        FROM probes JOIN counters USING (r, bucket) GROUP BY 1, 2)
SELECT v AS value, n_exact, est,
       CAST((1000 * (est - n_exact)) // greatest(n_exact, 1) AS BIGINT)
         AS overest_pm
FROM est
"""


def q_kg_neighborhood_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANF neighborhood function over the KG (sketch.
    neighborhood_function): per node, the estimated r-hop directed
    ball size for r = 1..3 via iterated KMV sketch merging — the
    linear-pass substitute for a transitive-closure join; effective
    diameter reads off where est_reach plateaus."""
    from .operators.sketch import neighborhood_function

    edges = _kg_edges(spark, sf_dir)
    return neighborhood_function(edges, rounds=3, k=16)


def _anf_oracle(rounds: int = 3, k: int = 16) -> str:
    num = (k - 1) * (1 << 52)
    hexfold = (
        "list_reduce(list_transform(range(1, 14), i -> "
        "CAST(strpos('0123456789abcdef', substr(md5(node), i, 1)) - 1 "
        "AS BIGINT)), (a, b) -> a * 16 + b)"
    )
    sql = _KG_EDGES_SQL + f""",
e AS (SELECT DISTINCT src, dst FROM edges),
nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
s0 AS (SELECT node, {hexfold} AS h FROM nodes)"""
    for r in range(1, rounds + 1):
        sql += f""",
m{r} AS (SELECT e.src AS node, s.h FROM e JOIN s{r - 1} s ON s.node = e.dst
         UNION SELECT node, h FROM s{r - 1}),
s{r} AS (SELECT node, h FROM (
           SELECT node, h, row_number() OVER (PARTITION BY node
                                              ORDER BY h) AS rn
           FROM m{r}) WHERE rn <= {k}),
r{r} AS (SELECT node, CAST({r} AS INT) AS r,
                CASE WHEN COUNT(*) < {k} THEN CAST(COUNT(*) AS BIGINT)
                     ELSE CAST({num} // greatest(MAX(h), 1) AS BIGINT)
                END AS est_reach
         FROM s{r} GROUP BY node)"""
    sql += "\nSELECT node, r, est_reach FROM (\n" + "\nUNION ALL\n".join(
        f"SELECT * FROM r{r}" for r in range(1, rounds + 1)
    ) + "\n)"
    return sql


ORACLES["kg_neighborhood_anf"] = _anf_oracle()


def q_vocab_overlap_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set operations over KMV sketches
    (sketch.kmv_overlap): estimated union size, intersection size and
    Jaccard of the word vocabularies of three corpus slices
    (doc_id % 3), joined against the exact intersection counts — the
    join-free scale path for contamination / slice-drift questions."""
    from .operators.sketch import kmv_overlap

    docs = _docs(spark, sf_dir)
    words = docs.select(
        F.concat_ws(
            "", F.lit("b"),
            (F.col("doc_id").cast("long") % 3).cast("string"),
        ).alias("bucket"),
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "word"
        ),
    ).filter(F.col("word") != "")
    sk = kmv_overlap(words, "bucket", "word", k=64)
    ww = words.distinct()
    exact = (
        ww.alias("x")
        .join(ww.alias("y"), F.expr("x.word = y.word AND x.bucket < y.bucket"))
        .groupBy(
            F.col("x.bucket").alias("set_a"),
            F.col("y.bucket").alias("set_b"),
        )
        .agg(F.count("*").cast("long").alias("n_inter_exact"))
    )
    return (
        sk.join(exact, ["set_a", "set_b"], "left")
        .fillna(0, ["n_inter_exact"])
    )


ORACLES["vocab_overlap_sketch"] = r"""
WITH w AS (SELECT 'b'||(CAST(doc_id AS BIGINT) % 3) AS bucket,
                  unnest(string_split(regexp_replace(
                    lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
           FROM documents),
ww AS (SELECT DISTINCT bucket, word FROM w WHERE word <> ''),
dh AS (SELECT DISTINCT bucket,
         list_reduce(list_transform(range(1, 14), i ->
           CAST(strpos('0123456789abcdef', substr(md5(word), i, 1)) - 1
                AS BIGINT)), (a, b) -> a * 16 + b) AS h
       FROM ww),
sk AS (SELECT bucket, h FROM (
         SELECT bucket, h,
                row_number() OVER (PARTITION BY bucket ORDER BY h) AS rn
         FROM dh) WHERE rn <= 64),
sets AS (SELECT DISTINCT bucket FROM sk),
pr AS (SELECT a.bucket AS set_a, s.bucket AS set_b, a.h,
              1 AS in_a, 0 AS in_b
       FROM sk a, sets s WHERE a.bucket < s.bucket
       UNION ALL
       SELECT s.bucket, b.bucket, b.h, 0, 1
       FROM sk b, sets s WHERE s.bucket < b.bucket),
m AS (SELECT set_a, set_b, h, MAX(in_a) AS in_a, MAX(in_b) AS in_b
      FROM pr GROUP BY 1, 2, 3),
uk AS (SELECT * FROM (
         SELECT m.*, row_number() OVER (PARTITION BY set_a, set_b
                                        ORDER BY h) AS rn
         FROM m) WHERE rn <= 64),
ag AS (SELECT set_a, set_b, CAST(COUNT(*) AS INT) AS n_union,
              MAX(h) AS theta, CAST(SUM(in_a * in_b) AS BIGINT) AS c
       FROM uk GROUP BY 1, 2),
est AS (SELECT set_a, set_b, n_union,
               CASE WHEN n_union < 64 THEN CAST(n_union AS BIGINT)
                    ELSE CAST(283726776524341248 // greatest(theta, 1)
                              AS BIGINT) END AS union_est, c
        FROM ag),
ex AS (SELECT x.bucket AS set_a, y.bucket AS set_b,
              CAST(COUNT(*) AS BIGINT) AS n_inter_exact
       FROM ww x JOIN ww y ON y.word = x.word AND x.bucket < y.bucket
       GROUP BY 1, 2)
SELECT e.set_a, e.set_b, e.n_union, e.union_est,
       CAST((e.c * e.union_est) // greatest(e.n_union, 1) AS BIGINT)
         AS inter_est,
       CAST((1000 * e.c) // greatest(e.n_union, 1) AS BIGINT)
         AS jaccard_pm,
       COALESCE(x.n_inter_exact, 0) AS n_inter_exact
FROM est e LEFT JOIN ex x USING (set_a, set_b)
"""


def q_kg_list_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered RDF collection reconstruction (graph.list_members):
    rdf:first/rdf:rest chains → (head, pos, member) via distributed
    list ranking (pointer jumping with distances, O(log L) rounds).
    Chains are derived deterministically from the documents table —
    per doc a chain of length (d%5)+2, every 97th doc a 40-cell chain
    so the log-round doubling is actually exercised."""
    from .operators.graph import list_members

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("d"))
    ln = F.when(F.col("d") % 97 == 0, F.lit(40)).otherwise(
        F.col("d") % 5 + 2
    )
    base = d.select(
        "d",
        ln.alias("len"),
    ).select(
        "d", "len",
        F.explode(F.sequence(F.lit(0), F.col("len") - 1)).alias("j"),
    )
    cell = F.concat_ws(
        "", F.lit("c"), F.col("d").cast("string"), F.lit("_"),
        F.col("j").cast("string"),
    )
    rest = base.filter(F.col("j") < F.col("len") - 1).select(
        cell.alias("cell"),
        F.concat_ws(
            "", F.lit("c"), F.col("d").cast("string"), F.lit("_"),
            (F.col("j") + 1).cast("string"),
        ).alias("nxt"),
    )
    first = base.select(
        cell.alias("cell"),
        F.concat_ws(
            "", F.lit("m"), F.col("d").cast("string"), F.lit("_"),
            F.col("j").cast("string"),
        ).alias("member"),
    )
    return list_members(first, rest)


ORACLES["kg_list_members"] = """
WITH RECURSIVE d AS (SELECT CAST(doc_id AS BIGINT) AS d,
            CASE WHEN CAST(doc_id AS BIGINT) % 97 = 0 THEN 40
                 ELSE CAST(doc_id AS BIGINT) % 5 + 2 END AS len
     FROM documents),
base AS (SELECT d, len, j
         FROM d, UNNEST(generate_series(0, len - 1)) AS t(j)),
rest AS (SELECT 'c'||d||'_'||j AS cell, 'c'||d||'_'||(j+1) AS nxt
         FROM base WHERE j < len - 1),
fst AS (SELECT 'c'||d||'_'||j AS cell, 'm'||d||'_'||j AS member FROM base),
cells AS (SELECT cell FROM rest UNION SELECT nxt FROM rest),
heads AS (SELECT cell FROM cells
          WHERE cell NOT IN (SELECT nxt FROM rest)),
walk(head, cell, pos) AS (
  SELECT cell, cell, 0 FROM heads
  UNION ALL
  SELECT w.head, r.nxt, w.pos + 1 FROM walk w JOIN rest r ON r.cell = w.cell
)
SELECT w.head, CAST(w.pos AS INT) AS pos, f.member
FROM walk w JOIN fst f ON f.cell = w.cell
"""


def q_embedding_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style prefix-dimension ablation: exact recall@10 of
    each embedding prefix (8/16/32/64 dims, Q20 L2) vs the full-dim
    ground truth (clustering.prefix_dim_recall) — the measurement
    behind truncating the embedding column before reaching for PQ."""
    from .operators.clustering import prefix_dim_recall

    return prefix_dim_recall(
        _embeddings(spark, sf_dir), query_id=42, topk=10,
        dims_list=(8, 16, 32, 64), full_dims=64,
    )


def _dim_recall_oracle(
    query_id: int = 42, topk: int = 10,
    dims_list: tuple[int, ...] = (8, 16, 32, 64), full_dims: int = 64,
) -> str:
    sql = """
WITH q AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
                  list_transform(embedding[1:%(fd)d],
                    x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
           FROM embeddings),
qpos AS (SELECT vec_id, i AS pos, qv[i] AS val
         FROM q, UNNEST(range(1, len(qv) + 1)) AS t(i)),
d AS (SELECT p.vec_id, p.pos, (p.val - r.val) * (p.val - r.val) AS sq
      FROM qpos p JOIN qpos r ON r.pos = p.pos AND r.vec_id = %(qid)d
      WHERE p.vec_id <> %(qid)d),
truth AS (SELECT vec_id FROM (
            SELECT vec_id, CAST(SUM(sq) AS BIGINT) AS dist FROM d
            GROUP BY vec_id)
          ORDER BY dist, vec_id LIMIT %(topk)d)""" % {
        "fd": full_dims, "qid": query_id, "topk": topk,
    }
    for dd in dims_list:
        sql += """,
t%(dd)d AS (SELECT vec_id FROM (
              SELECT vec_id, CAST(SUM(sq) AS BIGINT) AS dist FROM d
              WHERE pos <= %(dd)d GROUP BY vec_id)
            ORDER BY dist, vec_id LIMIT %(topk)d),
h%(dd)d AS (SELECT CAST(COUNT(*) AS INT) AS hits
            FROM t%(dd)d JOIN truth USING (vec_id))""" % {
            "dd": dd, "topk": topk,
        }
    sql += "\n" + "\nUNION ALL\n".join(
        "SELECT CAST(%(dd)d AS INT) AS dims, hits, CAST(%(topk)d AS INT) AS k,"
        " CAST(1000 * hits // %(topk)d AS BIGINT) AS recall_pm FROM h%(dd)d"
        % {"dd": dd, "topk": topk}
        for dd in dims_list
    )
    return sql


ORACLES["embedding_dim_recall"] = _dim_recall_oracle()


def _ann_recall_oracle(
    query_id: int = 42, topk: int = 10, nprobe: int = 2,
    k_coarse: int = 8, coarse_iters: int = 2,
    m: int = 4, sub: int = 16, k: int = 8, iters: int = 2,
) -> str:
    """Mirror of q_ann_recall: reuse the IVF-PQ oracle up to its
    candidate CTE, add the unrestricted ADC ranking, the exact
    ground-truth top-k, and the per-method hit counts."""
    base = _pq_ivf_oracle(
        query_id=query_id, topk=topk, nprobe=nprobe,
        k_coarse=k_coarse, coarse_iters=coarse_iters,
        m=m, sub=sub, k=k, iters=iters,
    )
    head = base.split(",\nlut AS (")[0]
    luts = []
    codes = []
    for j in range(m):
        luts.append(
            "SELECT %(j)d AS subspace, c.cluster,"
            " CAST(SUM((p.val - c.val) * (p.val - c.val)) AS BIGINT) AS ldist"
            " FROM qpos p JOIN s%(j)dc%(last)d c USING (pos)"
            " WHERE p.vec_id = %(qid)d GROUP BY c.cluster"
            % {"j": j, "last": iters, "qid": query_id}
        )
        codes.append(
            "SELECT vec_id, %(j)d AS subspace, cluster FROM s%(j)dbf"
            " WHERE rn = 1" % {"j": j}
        )
    return head + """,
lut AS (%(luts)s),
codes AS (%(codes)s),
s AS (SELECT c.vec_id, CAST(SUM(l.ldist) AS BIGINT) AS adist_fp
      FROM codes c JOIN lut l USING (subspace, cluster)
      GROUP BY c.vec_id),
pt AS (SELECT vec_id FROM s WHERE vec_id <> %(qid)d
       ORDER BY adist_fp, vec_id LIMIT %(topk)d),
it AS (SELECT s.vec_id FROM s JOIN cand USING (vec_id)
       WHERE s.vec_id <> %(qid)d
       ORDER BY s.adist_fp, s.vec_id LIMIT %(topk)d),
ex AS (SELECT p.vec_id,
         CAST(SUM((p.val - qq.val) * (p.val - qq.val)) AS BIGINT) AS dist
       FROM qpos p
       JOIN (SELECT pos, val FROM qpos WHERE vec_id = %(qid)d) qq USING (pos)
       GROUP BY p.vec_id),
et AS (SELECT vec_id FROM ex WHERE vec_id <> %(qid)d
       ORDER BY dist, vec_id LIMIT %(topk)d)
SELECT 'pq' AS method,
       CAST((SELECT COUNT(*) FROM pt JOIN et USING (vec_id)) AS INT) AS hits,
       %(topk)d AS k,
       CAST(1000 AS BIGINT)
         * (SELECT COUNT(*) FROM pt JOIN et USING (vec_id)) // %(topk)d
         AS recall_pm
UNION ALL
SELECT 'ivf_pq',
       CAST((SELECT COUNT(*) FROM it JOIN et USING (vec_id)) AS INT),
       %(topk)d,
       CAST(1000 AS BIGINT)
         * (SELECT COUNT(*) FROM it JOIN et USING (vec_id)) // %(topk)d""" % {
        "luts": " UNION ALL ".join(luts),
        "codes": " UNION ALL ".join(codes),
        "qid": query_id,
        "topk": topk,
    }


ORACLES["ann_recall"] = _ann_recall_oracle(nprobe=4, k=16, iters=3)


def q_kg_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed strongly-connected components (bounded-diameter exact)
    over the knows-chain with deterministic back edges (did%3==0 gets
    did+1→did, forming disjoint 2-cycles) — closure + mutual-
    reachability self-join + pointer-jumping CC."""
    from .operators.graph import scc_bounded

    st = _corpus(spark, sf_dir, fmt="ntriples")
    knows = (
        st.filter(F.col("pred") == "urn:p:knows")
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
        # two consumers (forward + reversed back-edges): checkpoint so
        # extraction is planned once, not once per union branch
        .localCheckpoint(eager=False)
    )
    did = F.regexp_extract("src", r"urn:e:(\d+)", 1).cast("long")
    back = knows.filter(did % 3 == 0).select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return scc_bounded(knows.union(back), max_hops=4)


ORACLES["kg_scc"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
nmax AS (SELECT MAX(did) + 1 AS n FROM ids),
nodes AS (SELECT did AS id FROM ids UNION SELECT n FROM nmax)
SELECT 'urn:e:'||id AS node,
       CASE WHEN id % 3 = 0 AND id < (SELECT n FROM nmax)
              THEN LEAST('urn:e:'||id, 'urn:e:'||(id+1))
            WHEN id % 3 = 1 AND id >= 1
              THEN LEAST('urn:e:'||(id-1), 'urn:e:'||id)
            ELSE 'urn:e:'||id END AS component
FROM nodes
"""


# ------------------------------------------- round-2 additions (r2c): fusion


def _fusion_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(did:long) id column of the documents table — the deterministic
    seed the fusion queries derive their assertion corpora from
    (mirrored closed-form by the oracles)."""
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("did")
    )


def q_kg_owl_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OWL 2 RL property-semantics materialization
    (operators/fusion.owl_infer): a 5-axiom ontology — partOf
    transitive with hasPart as inverse, adjacentTo symmetric, capital
    functional, created inverse-functional — entails inverse/symmetric
    mirrors, the partOf fixpoint closure (chains bounded at 3 hops by
    the mod-8 construction), and owl:sameAs conclusions from the
    (inverse-)functional clashes."""
    from .operators.fusion import owl_infer

    d = _fusion_docs(spark, sf_dir)
    n = F.concat(F.lit("urn:n:"), F.col("did"))
    n1 = F.concat(F.lit("urn:n:"), F.col("did") + 1)
    n2 = F.concat(F.lit("urn:n:"), F.col("did") + 2)
    part = d.filter(F.col("did") % 8 < 3).select(
        n.alias("subj"), F.lit("urn:p:partOf").alias("pred"), n1.alias("obj")
    )
    adj = d.filter(F.col("did") % 4 == 0).select(
        n.alias("subj"),
        F.lit("urn:p:adjacentTo").alias("pred"),
        n2.alias("obj"),
    )
    ct = F.concat(F.lit("urn:ct:"), F.col("did"))
    cap = d.filter(F.col("did") % 10 == 0)
    caps = cap.select(
        ct.alias("subj"),
        F.lit("urn:p:capital").alias("pred"),
        F.concat(F.lit("urn:c:"), F.col("did")).alias("obj"),
    ).unionByName(
        cap.select(
            ct.alias("subj"),
            F.lit("urn:p:capital").alias("pred"),
            F.concat(F.lit("urn:cc:"), F.col("did")).alias("obj"),
        )
    )
    created = d.filter(F.col("did") % 9 == 0).select(
        F.concat(F.lit("urn:u:"), F.col("did")).alias("subj"),
        F.lit("urn:p:created").alias("pred"),
        F.concat(
            F.lit("urn:w:"), F.col("did") - F.col("did") % 18
        ).alias("obj"),
    )
    g = (
        part.unionByName(adj)
        .unionByName(caps)
        .unionByName(created)
        # four rule joins + the closure loop read this; plan the
        # parquet-derived union once
        .localCheckpoint(eager=False)
    )
    return owl_infer(
        g,
        inverse=[("urn:p:partOf", "urn:p:hasPart")],
        symmetric=["urn:p:adjacentTo"],
        transitive=["urn:p:partOf"],
        functional=["urn:p:capital"],
        inverse_functional=["urn:p:created"],
    )


ORACLES["kg_owl_infer"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
e AS (SELECT 'urn:n:'||did AS s, 'urn:n:'||(did+1) AS o FROM ids
      WHERE did % 8 < 3),
e2 AS (SELECT a.s, b.o FROM e a JOIN e b ON a.o = b.s),
e3 AS (SELECT a.s, b.o FROM e2 a JOIN e b ON a.o = b.s),
clo_extra AS (SELECT s, o FROM e2 UNION SELECT s, o FROM e3
              EXCEPT SELECT s, o FROM e),
adj AS (SELECT 'urn:n:'||did AS s, 'urn:n:'||(did+2) AS o FROM ids
        WHERE did % 4 = 0),
cap AS (SELECT did FROM ids WHERE did % 10 = 0),
cr AS (SELECT 'urn:u:'||did AS s, 'urn:w:'||(did - did % 18) AS o
       FROM ids WHERE did % 9 = 0),
inf AS (
  SELECT o AS subj, 'urn:p:hasPart' AS pred, s AS obj FROM e
  UNION
  SELECT o, 'urn:p:adjacentTo', s FROM adj
  UNION
  SELECT s, 'urn:p:partOf', o FROM clo_extra
  UNION
  SELECT LEAST('urn:c:'||did, 'urn:cc:'||did),
         'http://www.w3.org/2002/07/owl#sameAs',
         GREATEST('urn:c:'||did, 'urn:cc:'||did) FROM cap
  UNION
  SELECT LEAST(a.s, b.s), 'http://www.w3.org/2002/07/owl#sameAs',
         GREATEST(a.s, b.s)
  FROM cr a JOIN cr b ON a.o = b.o AND a.s < b.s)
SELECT subj, pred, obj FROM inf
"""


def q_kg_sameas_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity fusion (operators/fusion.sameas_fuse): sameAs chains
    urn:e:d ~ urn:dup:d (~ urn:alt:d) are closed transitively by
    connected components, every class collapses to its lexicographic
    minimum, and the alias-mentioning triple corpus is rewritten
    through the mapping — the dedup step between entity linking and
    MERGE-materialization."""
    from .operators.fusion import sameas_fuse

    d = _fusion_docs(spark, sf_dir)
    e = F.concat(F.lit("urn:e:"), F.col("did"))
    dup = F.concat(F.lit("urn:dup:"), F.col("did"))
    alt = F.concat(F.lit("urn:alt:"), F.col("did"))
    sameas = (
        d.filter(F.col("did") % 3 == 0)
        .select(e.alias("src"), dup.alias("dst"))
        .unionByName(
            d.filter(F.col("did") % 6 == 0).select(
                dup.alias("src"), alt.alias("dst")
            )
        )
    )
    mention = F.when(F.col("did") % 6 == 0, alt).when(
        F.col("did") % 3 == 0, dup
    ).otherwise(e)
    g = d.select(
        mention.alias("subj"),
        F.lit("urn:p:knows").alias("pred"),
        F.concat(F.lit("urn:e:"), F.col("did") + 1).alias("obj"),
    ).unionByName(
        d.select(
            mention.alias("subj"),
            F.lit("http://www.w3.org/1999/02/22-rdf-syntax-ns#type").alias(
                "pred"
            ),
            F.lit("urn:t:Thing").alias("obj"),
        )
    )
    return sameas_fuse(g, sameas)


ORACLES["kg_sameas_fuse"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
nmax AS (SELECT MAX(did) AS mx FROM ids),
fused AS (
  SELECT CASE WHEN did % 6 = 0 THEN 'urn:alt:'||did
              WHEN did % 3 = 0 THEN 'urn:dup:'||did
              ELSE 'urn:e:'||did END AS subj,
         'urn:p:knows' AS pred,
         CASE WHEN (did+1) <= (SELECT mx FROM nmax) AND (did+1) % 6 = 0
                THEN 'urn:alt:'||(did+1)
              WHEN (did+1) <= (SELECT mx FROM nmax) AND (did+1) % 3 = 0
                THEN 'urn:dup:'||(did+1)
              ELSE 'urn:e:'||(did+1) END AS obj
  FROM ids
  UNION
  SELECT CASE WHEN did % 6 = 0 THEN 'urn:alt:'||did
              WHEN did % 3 = 0 THEN 'urn:dup:'||did
              ELSE 'urn:e:'||did END,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#type', 'urn:t:Thing'
  FROM ids)
SELECT subj, pred, obj FROM fused
"""


def q_kg_truth_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truth discovery (operators/fusion.truth_discovery, 2 rounds):
    five sources assert conflicting bornIn objects — three truthful
    (silent on did%5==1), one 25%-accurate, one never right. Round 1
    is plain majority; round 2 reweights by round-1 agreement, so on
    the rows where only the unreliable sources speak the winner flips
    from the lexicographic tie-break to the claim of the source that
    agreed with the majority elsewhere."""
    from .operators.fusion import truth_discovery

    d = _fusion_docs(spark, sf_dir)
    subj = F.concat(F.lit("urn:e:"), F.col("did"))
    city = lambda c: F.concat(F.lit("urn:city:"), c)  # noqa: E731
    pred = F.lit("urn:p:bornIn").alias("pred")
    truthful = (
        d.filter(F.col("did") % 5 != 1)
        .select(
            F.explode(
                F.array(
                    F.lit("urn:src:0"), F.lit("urn:src:1"), F.lit("urn:src:2")
                )
            ).alias("source"),
            subj.alias("subj"),
            pred,
            city(F.col("did") % 7).alias("obj"),
        )
    )
    s3 = d.select(
        F.lit("urn:src:3").alias("source"),
        subj.alias("subj"),
        pred,
        city(
            F.when(F.col("did") % 4 == 0, F.col("did") % 7).otherwise(
                (F.col("did") + 1) % 7
            )
        ).alias("obj"),
    )
    s4 = d.select(
        F.lit("urn:src:4").alias("source"),
        subj.alias("subj"),
        pred,
        city((F.col("did") + 2) % 7).alias("obj"),
    )
    a = truthful.unionByName(s3).unionByName(s4)
    return truth_discovery(a, rounds=2).select(
        "subj", "pred", "obj", F.col("score").cast("long").alias("score")
    )


ORACLES["kg_truth_vote"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
a AS (
  SELECT 'urn:src:'||s AS source, 'urn:e:'||did AS subj,
         'urn:city:'||(did % 7) AS obj
  FROM ids CROSS JOIN (SELECT unnest(range(0, 3)) AS s)
  WHERE did % 5 <> 1
  UNION ALL
  SELECT 'urn:src:3', 'urn:e:'||did,
         'urn:city:'||(CASE WHEN did % 4 = 0 THEN did % 7
                            ELSE (did + 1) % 7 END)
  FROM ids
  UNION ALL
  SELECT 'urn:src:4', 'urn:e:'||did, 'urn:city:'||((did + 2) % 7)
  FROM ids),
r1 AS (SELECT subj, obj, COUNT(*) AS score FROM a GROUP BY subj, obj),
w1 AS (SELECT subj, obj FROM (
         SELECT subj, obj,
                row_number() OVER (PARTITION BY subj
                                   ORDER BY score DESC, obj ASC) AS rn
         FROM r1) t WHERE rn = 1),
agree AS (SELECT a.source, COUNT(*) AS n FROM a
          JOIN w1 ON a.subj = w1.subj AND a.obj = w1.obj
          GROUP BY a.source),
rel AS (SELECT s.source, 1 + COALESCE(agree.n, 0) AS w
        FROM (SELECT DISTINCT source FROM a) s
        LEFT JOIN agree ON s.source = agree.source),
r2 AS (SELECT a.subj, a.obj, SUM(rel.w) AS score FROM a
       JOIN rel ON a.source = rel.source GROUP BY a.subj, a.obj),
w2 AS (SELECT subj, obj, score FROM (
         SELECT subj, obj, score,
                row_number() OVER (PARTITION BY subj
                                   ORDER BY score DESC, obj ASC) AS rn
         FROM r2) t WHERE rn = 1)
SELECT subj, 'urn:p:bornIn' AS pred, obj, CAST(score AS BIGINT) AS score
FROM w2
"""


def q_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece tokenizer training, 8 merge rounds → the ordered merge
    table with quantized likelihood scores (text.wordpiece_train):
    BPE's trainer with the argmax switched to
    count(ab)/(count(a)·count(b)), exact integer arithmetic."""
    return text.wordpiece_train(_docs(spark, sf_dir), n_merges=8)


q_wordpiece_train_batched = q_wordpiece_train


def _wordpiece_train_oracle(n_merges: int = 8, precision: int = 10**12) -> str:
    """Unrolled WordPiece rounds: per round a pair-count CTE, a
    symbol-count CTE, the HUGEINT-exact quantized likelihood score,
    a 1-row argmax, and the same greedy merge fold as BPE."""
    sql = r"""
WITH wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c
            FROM (SELECT unnest(string_split(regexp_replace(
                            lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word
                  FROM documents)
            WHERE regexp_matches(word, '^[a-z0-9]+$') AND length(word) >= 2
            GROUP BY word),
v0 AS (SELECT trim(regexp_replace(word, '(.)', '\1 ', 'g')) AS s, c FROM wf)"""
    for i in range(1, n_merges + 1):
        sql += f""",
y{i} AS MATERIALIZED (SELECT s, string_split(s, ' ') AS sy, c FROM v{i - 1}),
p{i} AS (SELECT pair, string_split(pair, ' ')[1] AS a,
                string_split(pair, ' ')[2] AS b,
                CAST(SUM(c) AS BIGINT) AS n
         FROM (SELECT unnest(list_transform(generate_series(1, len(sy) - 1),
                                            i -> sy[i] || ' ' || sy[i + 1])) AS pair, c
               FROM y{i} WHERE len(sy) >= 2)
         GROUP BY pair),
m{i} AS MATERIALIZED (SELECT sym, CAST(SUM(c) AS BIGINT) AS m
         FROM (SELECT unnest(sy) AS sym, c FROM y{i}) GROUP BY sym),
best{i} AS (SELECT p.pair, p.a, p.b, p.n,
                   CAST(CAST(p.n AS HUGEINT) * {precision}
                        // (CAST(ma.m AS HUGEINT) * mb.m) AS BIGINT) AS q
            FROM p{i} p JOIN m{i} ma ON ma.sym = p.a
                        JOIN m{i} mb ON mb.sym = p.b
            ORDER BY q DESC, p.pair LIMIT 1),
v{i} AS (SELECT CASE WHEN len(y.sy) < 2 OR b.a IS NULL THEN y.s ELSE
                list_reduce(y.sy, (acc, x) ->
                  CASE WHEN (acc = b.a OR ends_with(acc, ' ' || b.a))
                            AND x = b.b
                       THEN acc || b.b ELSE acc || ' ' || x END) END AS s, c
         FROM y{i} y LEFT JOIN best{i} b ON true)"""
    return (
        sql
        + "\n"
        + "\nUNION ALL\n".join(
            f"SELECT {i} AS step, pair, replace(pair, ' ', '') AS merged,"
            f" q AS score_q, n FROM best{i}"
            for i in range(1, n_merges + 1)
        )
    )


ORACLES["wordpiece_train"] = _wordpiece_train_oracle()
ORACLES["wordpiece_train_batched"] = _wordpiece_train_oracle()


def q_kg_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bisimulation-quotient KG summary (graph.quotient_graph over
    2-round WL colors): color classes contract to super-nodes, edges
    aggregate to (src_color, pred, dst_color) super-edges with member
    edge/endpoint counts — the whole-graph view a 10^12-edge KG is
    explored through."""
    from .operators.graph import quotient_graph, wl_colors

    edges = _kg_edges(spark, sf_dir).localCheckpoint(eager=False)
    return quotient_graph(edges, wl_colors(edges, rounds=2))


ORACLES["kg_quotient"] = None  # assembled below from the WL oracle


def q_kg_pred_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extensional predicate alignment (fusion.predicate_align)
    between two extraction vocabularies over the same entities:
    knows↔friendOf overlap on the even half (jaccard 500‰),
    rel↔linked coincide exactly (1000‰), and the disjoint predicates
    produce no candidate row."""
    from .operators.fusion import predicate_align

    d = _fusion_docs(spark, sf_dir)
    e = lambda off: F.concat(F.lit("urn:e:"), F.col("did") + off)  # noqa: E731

    def tri(flt, pred, off):
        src = d.filter(flt) if flt is not None else d
        return src.select(
            e(0).alias("subj"), F.lit(pred).alias("pred"), e(off).alias("obj")
        )

    g1 = tri(None, "urn:p:knows", 1).unionByName(
        tri(F.col("did") % 3 != 0, "urn:p:rel", 2)
    )
    g2 = (
        tri(F.col("did") % 2 == 0, "urn:q:friendOf", 1)
        .unionByName(tri(F.col("did") % 3 != 0, "urn:q:linked", 2))
        .unionByName(tri(None, "urn:q:knowsAbout", 5))
    )
    return predicate_align(g1, g2)


ORACLES["kg_pred_align"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
g1 AS (
  SELECT 'urn:e:'||did AS subj, 'urn:p:knows' AS pred,
         'urn:e:'||(did+1) AS obj FROM ids
  UNION ALL
  SELECT 'urn:e:'||did, 'urn:p:rel', 'urn:e:'||(did+2) FROM ids
  WHERE did % 3 <> 0),
g2 AS (
  SELECT 'urn:e:'||did AS subj, 'urn:q:friendOf' AS pred,
         'urn:e:'||(did+1) AS obj FROM ids WHERE did % 2 = 0
  UNION ALL
  SELECT 'urn:e:'||did, 'urn:q:linked', 'urn:e:'||(did+2) FROM ids
  WHERE did % 3 <> 0
  UNION ALL
  SELECT 'urn:e:'||did, 'urn:q:knowsAbout', 'urn:e:'||(did+5) FROM ids),
e1 AS (SELECT DISTINCT subj, pred, obj FROM g1),
e2 AS (SELECT DISTINCT subj, pred, obj FROM g2),
i AS (SELECT e1.pred AS pred1, e2.pred AS pred2,
             CAST(COUNT(*) AS BIGINT) AS inter
      FROM e1 JOIN e2 ON e1.subj = e2.subj AND e1.obj = e2.obj
      GROUP BY e1.pred, e2.pred),
n1 AS (SELECT pred AS pred1, CAST(COUNT(*) AS BIGINT) AS n1
       FROM e1 GROUP BY pred),
n2 AS (SELECT pred AS pred2, CAST(COUNT(*) AS BIGINT) AS n2
       FROM e2 GROUP BY pred)
SELECT pred1, pred2, n1, n2, inter,
       CAST(1000 * inter // (n1 + n2 - inter) AS BIGINT) AS jaccard_pm
FROM i JOIN n1 USING (pred1) JOIN n2 USING (pred2)
WHERE inter >= 1
"""

ORACLES["kg_quotient"] = ORACLES["kg_wl_colors"].replace(
    "SELECT node, color FROM c2",
    """, qe AS (SELECT e.src, e.pred, e.dst, cs.color AS src_color,
               cd.color AS dst_color
        FROM e JOIN c2 cs ON cs.node = e.src
               JOIN c2 cd ON cd.node = e.dst)
SELECT src_color, pred, dst_color, CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(COUNT(DISTINCT src) AS BIGINT) AS n_src,
       CAST(COUNT(DISTINCT dst) AS BIGINT) AS n_dst
FROM qe GROUP BY src_color, pred, dst_color""",
)


def q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min maintenance (streaming/stream_sketch.
    stream_heavy_hitters): each micro-batch persists its own counter
    grid (replay-idempotent overwrite of its batch partition); the
    summed grids equal the batch sketch because counter addition
    commutes across batch boundaries — so the drained estimates for
    the exact top-20 words match token_freq_sketch's oracle exactly."""
    import tempfile

    from .operators.sketch import cm_probe
    from .streaming.stream_sketch import hh_counters, stream_heavy_hitters

    base = tempfile.mkdtemp(prefix="semargl_q_shh_")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    # two micro-batches under availableNow (4 files, 2 per trigger):
    # proves the cross-batch counter sum without per-batch overhead
    # dominating the gate
    docs.repartition(4).write.mode("overwrite").parquet(f"{base}/in")
    q = stream_heavy_hitters(
        spark, f"{base}/in", f"{base}/state", f"{base}/ckpt", d=4, w=1024
    )
    _drain(spark, q, "stream_heavy_hitters")
    vals = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("v")
    ).filter(F.col("v") != "")
    top = (
        vals.groupBy("v")
        .agg(F.count("*").cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("v"))
        .limit(20)
    )
    return cm_probe(hh_counters(spark, f"{base}/state"), top, d=4, w=1024)


ORACLES["stream_heavy_hitters"] = ORACLES["token_freq_sketch"]


def q_kg_weighted_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded weighted shortest paths (graph.weighted_paths,
    distributed Bellman-Ford, 4 relaxation rounds): BIGINT edge costs
    over the chain (weight did%3+1) plus cheap did%7 shortcut edges
    (weight 2), seeded from the did%11 nodes — the shortcut beats the
    3-step chain wherever it exists, which is what the min must find."""
    from .operators.graph import weighted_paths

    d = _fusion_docs(spark, sf_dir)
    n = lambda off: F.concat(F.lit("urn:e:"), F.col("did") + off)  # noqa: E731
    chain = d.select(
        n(0).alias("src"), n(1).alias("dst"),
        (F.col("did") % 3 + 1).cast("long").alias("weight"),
    )
    shortcut = d.filter(F.col("did") % 7 == 0).select(
        n(0).alias("src"), n(3).alias("dst"),
        F.lit(2).cast("long").alias("weight"),
    )
    seeds = d.filter(F.col("did") % 11 == 0).select(n(0).alias("node"))
    return weighted_paths(
        chain.unionByName(shortcut), max_hops=4, sources=seeds
    )


ORACLES["kg_weighted_path"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
e AS (
  SELECT 'urn:e:'||did AS a, 'urn:e:'||(did+1) AS b,
         CAST(did % 3 + 1 AS BIGINT) AS w FROM ids
  UNION ALL
  SELECT 'urn:e:'||did, 'urn:e:'||(did+3), CAST(2 AS BIGINT) FROM ids
  WHERE did % 7 = 0),
p1 AS (SELECT e.a, e.b, e.w AS c FROM e
       JOIN (SELECT 'urn:e:'||did AS a FROM ids WHERE did % 11 = 0) s
       USING (a)),
p2 AS (SELECT p.a, e.b, p.c + e.w AS c FROM p1 p JOIN e ON e.a = p.b),
p3 AS (SELECT p.a, e.b, p.c + e.w AS c FROM p2 p JOIN e ON e.a = p.b),
p4 AS (SELECT p.a, e.b, p.c + e.w AS c FROM p3 p JOIN e ON e.a = p.b),
allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
         UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4)
SELECT a, b, CAST(MIN(c) AS BIGINT) AS min_cost FROM allp GROUP BY a, b
"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores (curation.dsir_scores): hashed word
    uni+bigram likelihood-ratio of every document against the
    deterministic doc_id % 7 == 0 target slice, 256 md5 buckets,
    integer micro-units throughout so the external gate recomputes the
    exact same scores."""
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    target = docs.where(F.col("doc_id") % 7 == 0)
    return curation.dsir_scores(docs, target, n_buckets=256)


ORACLES["dsir_select"] = rf"""
WITH w AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
             string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')
               AS ws
           FROM documents),
g AS (SELECT doc_id,
        list_concat(ws,
          CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
               ELSE list_transform(range(1, len(ws)),
                                   i -> array_to_string(ws[i:i+1], ' ')) END)
          AS grams
      FROM w),
fb AS (SELECT doc_id, {_h60("gram || '#dsir'")} % 256 AS b,
              CAST(count(*) AS BIGINT) AS c
       FROM (SELECT doc_id, unnest(grams) AS gram FROM g)
       GROUP BY doc_id, b),
tb AS (SELECT b, SUM(c) AS t FROM fb WHERE doc_id % 7 = 0 GROUP BY b),
raw AS (SELECT b, SUM(c) AS r FROM fb GROUP BY b),
tot AS (SELECT (SELECT SUM(r) FROM raw) AS R_tot,
               (SELECT COALESCE(SUM(t), 0) FROM tb) AS T_tot),
ratio AS (SELECT b,
            (CAST(1000000 AS HUGEINT) * (COALESCE(t, 0) + 1) * (R_tot + 256))
              // (CAST(r + 1 AS HUGEINT) * (T_tot + 256)) AS rm
          FROM raw LEFT JOIN tb USING (b) CROSS JOIN tot),
sc AS (SELECT doc_id, SUM(c) AS n_feats,
              SUM(CAST(c AS HUGEINT) * rm) // SUM(c) AS score_micro
       FROM fb JOIN ratio USING (b) GROUP BY doc_id)
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       CAST(COALESCE(sc.n_feats, 0) AS BIGINT) AS n_feats,
       CAST(sc.score_micro AS BIGINT) AS score_micro
FROM documents d LEFT JOIN sc ON CAST(d.doc_id AS BIGINT) = sc.doc_id
"""


def q_kg_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded harmonic closeness (graph.harmonic_closeness) over
    the same chain + did%7 shortcut graph as kg_weighted_path, origins
    seeded at the did % 11 == 0 nodes: per origin, the count of nodes
    reached within 4 hops and the exact per-mille harmonic sum
    sum(1000 div hops)."""
    from .operators.graph import harmonic_closeness

    d = _fusion_docs(spark, sf_dir)
    n = lambda off: F.concat(F.lit("urn:e:"), F.col("did") + off)  # noqa: E731
    edges = d.select(n(0).alias("src"), n(1).alias("dst")).unionByName(
        d.filter(F.col("did") % 7 == 0).select(
            n(0).alias("src"), n(3).alias("dst")
        )
    )
    seeds = d.filter(F.col("did") % 11 == 0).select(n(0).alias("node"))
    return harmonic_closeness(edges, max_hops=4, sources=seeds)


ORACLES["kg_harmonic"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
e AS (
  SELECT 'urn:e:'||did AS a, 'urn:e:'||(did+1) AS b FROM ids
  UNION ALL
  SELECT 'urn:e:'||did, 'urn:e:'||(did+3) FROM ids WHERE did % 7 = 0),
p1 AS (SELECT e.a, e.b, 1 AS c FROM e
       JOIN (SELECT 'urn:e:'||did AS a FROM ids WHERE did % 11 = 0) s
       USING (a)),
p2 AS (SELECT p.a, e.b, p.c + 1 AS c FROM p1 p JOIN e ON e.a = p.b),
p3 AS (SELECT p.a, e.b, p.c + 1 AS c FROM p2 p JOIN e ON e.a = p.b),
p4 AS (SELECT p.a, e.b, p.c + 1 AS c FROM p3 p JOIN e ON e.a = p.b),
allp AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2
         UNION ALL SELECT * FROM p3 UNION ALL SELECT * FROM p4),
d AS (SELECT a, b, MIN(c) AS dist FROM allp WHERE a <> b GROUP BY a, b)
SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS n_reachable,
       CAST(SUM(1000 // dist) AS BIGINT) AS harmonic_pm
FROM d GROUP BY a
"""


def q_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM seed piece inventory (text.unigram_vocab): corpus
    substrings of length ≤3, all single chars + top-64 multi-char by
    (cnt desc, piece asc)."""
    return text.unigram_vocab(_docs(spark, sf_dir), n_pieces=64,
                              max_piece_len=3)


def q_unigram_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece-style Viterbi segmentation (text.unigram_segment)
    of every distinct corpus word ≤16 chars under the 64-piece
    inventory; the gate checks the exact DP optimum (piece count and
    frequency sum — the segmented string itself is covered by the
    Python-mirror unit tests, the oracle replays the cost DP as 16
    unrolled relaxation rounds like kg_weighted_path's)."""
    return text.unigram_segment(
        _docs(spark, sf_dir), n_pieces=64, max_piece_len=3, max_word_len=16
    ).select("word", "n_pieces", "piece_cnt_sum", "c")


_UNI_VOCAB_CTES = r"""
wf AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS c FROM
    (SELECT unnest(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS word FROM documents)
  WHERE regexp_matches(word, '^[a-z0-9]+$') GROUP BY word),
agg AS MATERIALIZED (
  SELECT piece, CAST(SUM(c) AS BIGINT) AS cnt FROM
    (SELECT unnest(list_transform(range(1, len(word) - l + 2),
                                  i -> substr(word, i, l))) AS piece, c
     FROM wf CROSS JOIN (SELECT unnest([1,2,3]) AS l) WHERE len(word) >= l)
  GROUP BY piece),
v AS MATERIALIZED (
  SELECT piece, cnt FROM agg WHERE len(piece) = 1
  UNION ALL
  SELECT piece, cnt FROM (SELECT piece, cnt FROM agg WHERE len(piece) >= 2
                          ORDER BY cnt DESC, piece ASC LIMIT 64))
"""

ORACLES["unigram_vocab"] = "WITH " + _UNI_VOCAB_CTES + \
    "SELECT piece, cnt FROM v"


def _unigram_segment_oracle() -> str:
    """Cost-DP replay: positions are lattice nodes, vocab pieces are
    edges of cost C - cnt (C=10^12 >> any frequency sum, so MIN(cost)
    is lexicographic (pieces asc, cnt-sum desc) in one BIGINT); 16
    materialized relaxation rounds cover every word ≤16 chars."""
    C = 10**12
    rounds = "\n".join(
        f"d{k} AS MATERIALIZED (SELECT word, p, MIN(cost) AS cost FROM ("
        f"SELECT d.word, e.t AS p, d.cost + {C} - e.cnt AS cost "
        f"FROM d{k-1} d JOIN e ON e.word = d.word AND e.s = d.p "
        f"UNION ALL SELECT word, p, cost FROM d{k-1}) GROUP BY word, p),"
        for k in range(1, 17)
    )
    return (
        "WITH " + _UNI_VOCAB_CTES + "," + r"""
wrds AS MATERIALIZED (SELECT word, c FROM wf WHERE len(word) <= 16),
e AS MATERIALIZED (
  SELECT p.word, p.s, p.s + l AS t, v.cnt
  FROM (SELECT word, unnest(CAST(range(1, len(word) + 1) AS BIGINT[])) AS s FROM wrds) p
  CROSS JOIN (SELECT unnest([1,2,3]) AS l)
  JOIN v ON v.piece = substr(p.word, CAST(p.s AS INT), l)
  WHERE p.s + l <= len(p.word) + 1),
d0 AS (SELECT word, CAST(1 AS BIGINT) AS p, CAST(0 AS BIGINT) AS cost FROM wrds),
""" + rounds + f"""
fin AS (SELECT d.word, d.cost FROM d16 d JOIN wrds USING (word)
        WHERE d.p = len(d.word) + 1)
SELECT w2.word,
       CAST((f.cost + {C} - 1) // {C} AS INT) AS n_pieces,
       CAST(((f.cost + {C} - 1) // {C}) * {C} - f.cost AS BIGINT) AS piece_cnt_sum,
       w2.c
FROM wrds w2 LEFT JOIN fin f USING (word)
"""
    )


ORACLES["unigram_segment"] = _unigram_segment_oracle()


def q_kg_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resource-allocation link prediction (graph.resource_allocation)
    over the chain + did%7 shortcut graph: candidate pairs share a
    neighbor, scored Σ 10^6 div deg(common neighbor) in exact integer
    micro-units."""
    from .operators.graph import resource_allocation

    d = _fusion_docs(spark, sf_dir)
    n = lambda off: F.concat(F.lit("urn:e:"), F.col("did") + off)  # noqa: E731
    edges = d.select(n(0).alias("src"), n(1).alias("dst")).unionByName(
        d.filter(F.col("did") % 7 == 0).select(
            n(0).alias("src"), n(3).alias("dst")
        )
    )
    return resource_allocation(edges, max_nbr_degree=64)


ORACLES["kg_link_predict"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
raw AS (
  SELECT 'urn:e:'||did AS s, 'urn:e:'||(did+1) AS t FROM ids
  UNION ALL
  SELECT 'urn:e:'||did, 'urn:e:'||(did+3) FROM ids WHERE did % 7 = 0),
und AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        FROM raw WHERE s <> t),
adj AS (SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node),
piv AS (SELECT node AS nbr, deg AS pdeg FROM deg WHERE deg <= 64),
w AS (SELECT adj.nbr, piv.pdeg, adj.node FROM adj JOIN piv USING (nbr))
SELECT wx.node AS x, wy.node AS y,
       CAST(count(*) AS BIGINT) AS n_common,
       CAST(SUM(1000000 // wx.pdeg) AS BIGINT) AS ra_micro
FROM w wx JOIN w wy ON wx.nbr = wy.nbr AND wx.node < wy.node
GROUP BY wx.node, wy.node
"""


def _c14n_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form per-doc statement set with two DISTINGUISHABLE bnodes
    (_:x anchored by "x{did}", _:y by "y{did%5}", linked x→y, plus an
    IRI owner edge) — first-degree hashes differ, so the oracle can
    replay RDFC-1.0 as two sha256 calls and a comparison."""
    d = _fusion_docs(spark, sf_dir)
    conv = F.concat(F.lit("c"), F.col("did"))
    V = F.lit(None).cast("string")
    rows = [
        d.select(conv.alias("conv_id"), F.lit(0).alias("turn_idx"),
                 F.lit("_:x").alias("subj"), F.lit("urn:p:label").alias("pred"),
                 F.concat(F.lit("x"), F.col("did")).alias("obj"),
                 F.lit("literal").alias("obj_kind"), V.alias("lang"),
                 V.alias("dtype"), V.alias("graph")),
        d.select(conv.alias("conv_id"), F.lit(0).alias("turn_idx"),
                 F.lit("_:y").alias("subj"), F.lit("urn:p:label").alias("pred"),
                 F.concat(F.lit("y"), F.col("did") % 5).alias("obj"),
                 F.lit("literal").alias("obj_kind"), V.alias("lang"),
                 V.alias("dtype"), V.alias("graph")),
        d.select(conv.alias("conv_id"), F.lit(0).alias("turn_idx"),
                 F.lit("_:x").alias("subj"), F.lit("urn:p:knows").alias("pred"),
                 F.lit("_:y").alias("obj"), F.lit("bnode").alias("obj_kind"),
                 V.alias("lang"), V.alias("dtype"), V.alias("graph")),
        d.select(conv.alias("conv_id"), F.lit(0).alias("turn_idx"),
                 F.concat(F.lit("urn:e:"), F.col("did")).alias("subj"),
                 F.lit("urn:p:owner").alias("pred"),
                 F.lit("_:x").alias("obj"), F.lit("bnode").alias("obj_kind"),
                 V.alias("lang"), V.alias("dtype"), V.alias("graph")),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def q_kg_c14n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RDFC-1.0 canonical bnode labels (operators/c14n_ops.c14n_labels)
    per closed-form document; the gate recomputes both first-degree
    hashes in SQL and checks the hash-order label assignment."""
    from .operators.c14n_ops import c14n_labels

    return c14n_labels(_c14n_docs(spark, sf_dir))


def q_kg_c14n_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical N-Quads document sha256 (c14n_ops.c14n_doc_hashes) —
    the isomorphism-invariant content address; oracle rebuilds the
    exact canonical document text per hash-order branch."""
    from .operators.c14n_ops import c14n_doc_hashes

    return c14n_doc_hashes(_c14n_docs(spark, sf_dir))


_C14N_HX = ("sha256('<urn:e:'||did||'> <urn:p:owner> _:a .'||chr(10)"
            "||'_:a <urn:p:knows> _:z .'||chr(10)"
            "||'_:a <urn:p:label> \"x'||did||'\" .'||chr(10))")
_C14N_HY = ("sha256('_:a <urn:p:label> \"y'||(did%5)||'\" .'||chr(10)"
            "||'_:z <urn:p:knows> _:a .'||chr(10))")

ORACLES["kg_c14n"] = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
h AS (SELECT did, {_C14N_HX} AS hx, {_C14N_HY} AS hy FROM ids)
SELECT 'c'||did AS conv_id, 0 AS turn_idx, '_:x' AS label,
       CASE WHEN hx < hy THEN '_:c14n0' ELSE '_:c14n1' END AS canon,
       CAST(NULL AS VARCHAR) AS error
FROM h
UNION ALL
SELECT 'c'||did, 0, '_:y',
       CASE WHEN hy < hx THEN '_:c14n0' ELSE '_:c14n1' END,
       CAST(NULL AS VARCHAR)
FROM h
"""

ORACLES["kg_c14n_hash"] = f"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
h AS (SELECT did, {_C14N_HX} AS hx, {_C14N_HY} AS hy FROM ids),
doc AS (SELECT did, CASE WHEN hx < hy THEN
  '<urn:e:'||did||'> <urn:p:owner> _:c14n0 .'||chr(10)
  ||'_:c14n0 <urn:p:knows> _:c14n1 .'||chr(10)
  ||'_:c14n0 <urn:p:label> "x'||did||'" .'||chr(10)
  ||'_:c14n1 <urn:p:label> "y'||(did%5)||'" .'||chr(10)
ELSE
  '<urn:e:'||did||'> <urn:p:owner> _:c14n1 .'||chr(10)
  ||'_:c14n0 <urn:p:label> "y'||(did%5)||'" .'||chr(10)
  ||'_:c14n1 <urn:p:knows> _:c14n0 .'||chr(10)
  ||'_:c14n1 <urn:p:label> "x'||did||'" .'||chr(10)
END AS body FROM h)
SELECT 'c'||did AS conv_id, 0 AS turn_idx, 4 AS n_quads,
       sha256(body) AS doc_sha256, CAST(NULL AS VARCHAR) AS error
FROM doc
"""


def q_stream_c14n_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming content-address dedup: closed-form docs whose RDFC-1.0
    canonical form depends only on did % 10 (10 planted duplicate
    classes), landed doc-colocated, drained through stream_c14n
    (per-batch canonical hashing, batch_id overwrite), then resolved
    read-time to (doc_sha256, keep_conv, n_docs). Replay or duplicate
    emission would inflate n_docs — the exactly-once check."""
    import tempfile

    from .streaming.stream_c14n import c14n_first_seen, stream_c14n

    base = tempfile.mkdtemp(prefix="semargl_q_sc14n_")
    d = _fusion_docs(spark, sf_dir)
    conv = F.concat(F.lit("c"), F.col("did"))
    r = F.col("did") % 10
    V = F.lit(None).cast("string")
    rows = [
        d.select(conv.alias("conv_id"), F.lit(0).alias("turn_idx"),
                 F.lit("_:x").alias("subj"), F.lit("urn:p:label").alias("pred"),
                 F.concat(F.lit("x"), r).alias("obj"),
                 F.lit("literal").alias("obj_kind"), V.alias("lang"),
                 V.alias("dtype"), V.alias("graph")),
        d.select(conv.alias("conv_id"), F.lit(0).alias("turn_idx"),
                 F.lit("_:y").alias("subj"), F.lit("urn:p:label").alias("pred"),
                 F.concat(F.lit("y"), r % 5).alias("obj"),
                 F.lit("literal").alias("obj_kind"), V.alias("lang"),
                 V.alias("dtype"), V.alias("graph")),
        d.select(conv.alias("conv_id"), F.lit(0).alias("turn_idx"),
                 F.lit("_:x").alias("subj"), F.lit("urn:p:knows").alias("pred"),
                 F.lit("_:y").alias("obj"), F.lit("bnode").alias("obj_kind"),
                 V.alias("lang"), V.alias("dtype"), V.alias("graph")),
        d.select(conv.alias("conv_id"), F.lit(0).alias("turn_idx"),
                 F.concat(F.lit("urn:e:"), r).alias("subj"),
                 F.lit("urn:p:owner").alias("pred"),
                 F.lit("_:x").alias("obj"), F.lit("bnode").alias("obj_kind"),
                 V.alias("lang"), V.alias("dtype"), V.alias("graph")),
    ]
    st = rows[0]
    for x in rows[1:]:
        st = st.unionByName(x)
    # doc-colocated landing: 4 files, 2 per trigger → 2 micro-batches
    st.repartition(4, "conv_id", "turn_idx").write.mode("overwrite").parquet(
        f"{base}/in"
    )
    q = stream_c14n(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
    _drain(spark, q, "stream_c14n_dedup")
    return c14n_first_seen(spark, f"{base}/out")


ORACLES["stream_c14n_dedup"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
cls AS (SELECT did % 10 AS r, MIN(did) AS keep_did,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM ids GROUP BY did % 10),
h AS (SELECT r, keep_did, n_docs,
  sha256('<urn:e:'||r||'> <urn:p:owner> _:a .'||chr(10)
         ||'_:a <urn:p:knows> _:z .'||chr(10)
         ||'_:a <urn:p:label> "x'||r||'" .'||chr(10)) AS hx,
  sha256('_:a <urn:p:label> "y'||(r%5)||'" .'||chr(10)
         ||'_:z <urn:p:knows> _:a .'||chr(10)) AS hy
  FROM cls)
SELECT CASE WHEN hx < hy THEN
  sha256('<urn:e:'||r||'> <urn:p:owner> _:c14n0 .'||chr(10)
         ||'_:c14n0 <urn:p:knows> _:c14n1 .'||chr(10)
         ||'_:c14n0 <urn:p:label> "x'||r||'" .'||chr(10)
         ||'_:c14n1 <urn:p:label> "y'||(r%5)||'" .'||chr(10))
ELSE
  sha256('<urn:e:'||r||'> <urn:p:owner> _:c14n1 .'||chr(10)
         ||'_:c14n0 <urn:p:label> "y'||(r%5)||'" .'||chr(10)
         ||'_:c14n1 <urn:p:knows> _:c14n0 .'||chr(10)
         ||'_:c14n1 <urn:p:label> "x'||r||'" .'||chr(10))
END AS doc_sha256,
'c'||keep_did AS keep_conv, n_docs
FROM h
"""


def q_conv_topic_shifts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-cohesion topic segmentation (conversation.topic_shifts):
    4-turn conversations whose word sets repeat within a 2-turn topic
    block and swap one token across blocks — consecutive-turn Jaccard
    is 1000 inside a block, 714 across, so boundary 800 marks exactly
    the block transitions."""
    from .operators.conversation import topic_shifts

    d = _fusion_docs(spark, sf_dir)
    t = d.select(
        F.concat(F.lit("c"), F.col("did")).alias("conv_id"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("turn_idx"),
        F.col("did"),
    ).select(
        "conv_id",
        "turn_idx",
        F.format_string(
            "w%d shared common words turn %d",
            F.col("did") % 3, F.floor(F.col("turn_idx") / 2).cast("int"),
        ).alias("text"),
    )
    return topic_shifts(t, boundary_permille=800)


ORACLES["conv_topic_shifts"] = r"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
t AS (SELECT 'c'||did AS conv_id, tix,
             'w'||(did%3)||' shared common words turn '||(tix // 2) AS text
      FROM ids CROSS JOIN (SELECT unnest(generate_series(0,3)) AS tix)),
l AS (SELECT conv_id, tix, list_distinct(string_split(text, ' ')) AS ws
      FROM t),
p AS (SELECT conv_id, tix, ws,
             lag(ws) OVER (PARTITION BY conv_id ORDER BY tix) AS prev
      FROM l),
j AS (SELECT conv_id, tix,
        CASE WHEN prev IS NULL THEN NULL
             WHEN len(list_distinct(list_concat(ws, prev))) = 0 THEN 1000
             ELSE (len(list_intersect(ws, prev)) * 1000)
                  // len(list_distinct(list_concat(ws, prev))) END AS jac
      FROM p)
SELECT conv_id, CAST(tix AS INT) AS turn_idx,
       CAST(jac AS BIGINT) AS jaccard_pm,
       CAST(CASE WHEN jac IS NOT NULL AND jac < 800 THEN 1 ELSE 0 END AS INT)
         AS is_shift
FROM j
"""


def q_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-code ANN (similarity.binarize_embeddings → hamming_topk):
    sign-bit packing of the 64-dim embeddings into one BIGINT word,
    exact XOR+popcount top-5 for the vec_id % 50 == 0 queries — the
    32×-compressed first tier of a trillion-vector serving stack."""
    from .operators.similarity import binarize_embeddings, hamming_topk

    emb = _embeddings(spark, sf_dir)
    b = binarize_embeddings(emb, dim=64)
    queries = emb.filter(F.col("vec_id") % 50 == 0).select("vec_id")
    return hamming_topk(b, queries, k=5)


ORACLES["hamming_topk"] = """
WITH b AS (SELECT vec_id,
        list_reduce(list_transform(range(1, 65),
          j -> CAST(CASE WHEN embedding[j] > 0 THEN 1 ELSE 0 END AS HUGEINT)),
          (a, x) -> a * 2 + x) AS h
      FROM embeddings),
bw AS (SELECT vec_id,
        CAST(h - CASE WHEN h >= CAST('9223372036854775808' AS HUGEINT)
                  THEN CAST('18446744073709551616' AS HUGEINT)
                  ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS w
       FROM b),
p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             bit_count(xor(q.w, c.w)) AS hamming
      FROM bw q JOIN bw c ON c.vec_id <> q.vec_id
      WHERE q.vec_id % 50 = 0),
r AS (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY hamming, neighbor_id) AS rn
      FROM p)
SELECT query_id, neighbor_id, CAST(hamming AS BIGINT) AS hamming
FROM r WHERE rn <= 5
"""


def q_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template rendering with SFT loss-mask spans
    (conversation.chat_render): the prose transcript corpus flattened
    to one training document per conversation under the fixed
    ``<|role|>\\n{text}\\n<|end|>\\n`` template, with ``;``-joined
    ``start-end`` character spans over the assistant turn bodies —
    the transcripts→pretraining-text exit the packing and
    context-window stages consume."""
    from .operators.conversation import chat_render

    return chat_render(synth_transcripts(spark, sf_dir, fmt="text"))


ORACLES["chat_render"] = r"""
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
t AS (SELECT 'c'||did AS conv_id, tix,
        CASE WHEN tix%3=0 THEN 'user' WHEN tix%3=1 THEN 'assistant'
             ELSE 'tool' END AS role,
        'the quick brown fox jumps over turn '||tix
          ||' of conversation '||did AS text
      FROM ids CROSS JOIN (SELECT unnest(generate_series(0,3)) AS tix)),
p AS (SELECT conv_id, tix, role, text,
        '<|'||role||'|>'||chr(10)||text||chr(10)||'<|end|>'||chr(10)
          AS piece,
        length(role) + 5 AS hlen, length(text) AS tlen
      FROM t),
o AS (SELECT *,
        COALESCE(SUM(length(piece)) OVER (
          PARTITION BY conv_id ORDER BY tix
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM p)
SELECT conv_id,
  string_agg(piece, '' ORDER BY tix) AS rendered,
  CAST(SUM(length(piece)) AS BIGINT) AS n_chars,
  CAST(COUNT(*) FILTER (WHERE role = 'assistant') AS INT) AS n_mask,
  COALESCE(string_agg(
      CASE WHEN role = 'assistant'
           THEN (off + hlen)||'-'||(off + hlen + tlen) END,
      ';' ORDER BY tix), '') AS mask_spans
FROM o GROUP BY conv_id
"""


def q_preference_bt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry reward strengths (curation.bradley_terry): a
    deterministic comparison tournament over the document corpus —
    each doc plays its +1 and +3 neighbors, the winner chosen by a
    fixed modular upset rule — collapsed to per-item fixed-point
    strengths by two MM rounds. Two unrolled rounds keep the external
    replay readable; the operator itself iterates arbitrarily."""
    from .operators.curation import bradley_terry

    ids = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("a")
    )
    mx = ids.agg(F.max("a").alias("m"))
    p = (
        ids.select(
            "a", F.explode(F.array(F.lit(1), F.lit(3))).alias("k")
        )
        .crossJoin(F.broadcast(mx))
        .filter(F.col("a") + F.col("k") <= F.col("m"))
        .select("a", (F.col("a") + F.col("k")).alias("b"))
    )
    upset = (F.col("a") * 7 + F.col("b") * 13) % 5 < 3
    pairs = p.select(
        F.when(upset, F.col("a")).otherwise(F.col("b")).alias("chosen_id"),
        F.when(upset, F.col("b")).otherwise(F.col("a")).alias(
            "rejected_id"
        ),
    )
    return bradley_terry(pairs, rounds=2)


ORACLES["preference_bt"] = r"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
mx AS (SELECT MAX(did) AS m FROM ids),
p AS (SELECT did AS a, did + k AS b
      FROM ids CROSS JOIN (SELECT unnest([1,3]) AS k) CROSS JOIN mx
      WHERE did + k <= m),
d0 AS (SELECT CASE WHEN (a*7+b*13)%5 < 3 THEN a ELSE b END AS w,
              CASE WHEN (a*7+b*13)%5 < 3 THEN b ELSE a END AS l
       FROM p),
dn AS (SELECT w AS a, l AS b, COUNT(*) AS n FROM d0 GROUP BY 1, 2),
und AS (SELECT least(a,b) AS u, greatest(a,b) AS v, SUM(n) AS n
        FROM dn GROUP BY 1, 2),
wins AS (SELECT a AS item_id, SUM(n) AS wins FROM dn GROUP BY 1),
items AS (SELECT item_id, SUM(n) AS games FROM (
            SELECT u AS item_id, n FROM und
            UNION ALL SELECT v, n FROM und) GROUP BY 1),
it AS (SELECT i.item_id, COALESCE(w.wins, 0) AS wins, i.games
       FROM items i LEFT JOIN wins w USING (item_id)),
w0 AS (SELECT item_id, CAST(1000000 AS HUGEINT) AS w FROM it),
t1 AS (SELECT u, v,
         (n * CAST(1000000000000 AS HUGEINT)) // (wu.w + wv.w) AS t
       FROM und JOIN w0 wu ON wu.item_id = und.u
                JOIN w0 wv ON wv.item_id = und.v),
d1 AS (SELECT item_id, SUM(t) AS den FROM (
         SELECT u AS item_id, t FROM t1
         UNION ALL SELECT v, t FROM t1) GROUP BY 1),
w1 AS (SELECT it.item_id,
         ((it.wins + 1) * CAST(1000000000000 AS HUGEINT))
           // (d1.den + (2 * CAST(1000000000000 AS HUGEINT))
               // (w0.w + 1000000)) AS w
       FROM it JOIN d1 USING (item_id) JOIN w0 USING (item_id)),
t2 AS (SELECT u, v,
         (n * CAST(1000000000000 AS HUGEINT)) // (wu.w + wv.w) AS t
       FROM und JOIN w1 wu ON wu.item_id = und.u
                JOIN w1 wv ON wv.item_id = und.v),
d2 AS (SELECT item_id, SUM(t) AS den FROM (
         SELECT u AS item_id, t FROM t2
         UNION ALL SELECT v, t FROM t2) GROUP BY 1),
w2 AS (SELECT it.item_id,
         ((it.wins + 1) * CAST(1000000000000 AS HUGEINT))
           // (d2.den + (2 * CAST(1000000000000 AS HUGEINT))
               // (w1.w + 1000000)) AS w
       FROM it JOIN d2 USING (item_id) JOIN w1 USING (item_id))
SELECT it.item_id, CAST(it.wins AS BIGINT) AS wins,
       CAST(it.games AS BIGINT) AS games,
       CAST(w2.w AS BIGINT) AS strength_mu
FROM it JOIN w2 USING (item_id)
"""


def q_conv_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level near-dup pairs (dedup.conv_near_dups): the
    8-turn prose corpus unioned with a forked copy of every session
    (last turn perturbed → turn-shingle jaccard 0.75), pushed through
    turn-hash 2-shingles → md5 minhash → banded LSH → exact verify.
    The oracle replays the full chain, so candidate generation (which
    bands fire) is value-checked, not just the verified survivors."""
    from .operators.dedup import conv_near_dups

    t = synth_transcripts(spark, sf_dir, turns_per_doc=8, fmt="text")
    forked = t.withColumn(
        "text",
        F.when(
            F.col("turn_idx") == 7, F.concat(F.col("text"), F.lit(" tail"))
        ).otherwise(F.col("text")),
    ).withColumn(
        "conv_id",
        F.concat(F.lit("d"), F.expr("substring(conv_id, 2)")),
    )
    corpus = t.unionByName(forked)
    return conv_near_dups(
        corpus, threshold=0.5, hash_method="md5"
    ).select("conv_a", "conv_b", F.round("jaccard", 6).alias("jaccard"))


ORACLES["conv_near_dup"] = r"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
base AS (SELECT did, tix,
        CASE WHEN tix%3=0 THEN 'user' WHEN tix%3=1 THEN 'assistant'
             ELSE 'tool' END AS role,
        'the quick brown fox jumps over turn '||tix
          ||' of conversation '||did AS text
      FROM ids CROSS JOIN (SELECT unnest(generate_series(0,7)) AS tix)),
turns AS (
  SELECT 'c'||did AS conv_id, tix, role, text FROM base
  UNION ALL
  SELECT 'd'||did, tix, role,
         CASE WHEN tix = 7 THEN text||' tail' ELSE text END FROM base),
h AS (SELECT conv_id, tix, md5(role||chr(31)||text) AS h FROM turns),
hl AS (SELECT conv_id, list(h ORDER BY tix) AS hs FROM h GROUP BY conv_id),
sh AS (SELECT conv_id,
        list_distinct(CASE WHEN len(hs) < 2 THEN [hs[1]]
          ELSE list_transform(range(1, len(hs)),
                              i -> hs[i]||' '||hs[i+1]) END) AS s
       FROM hl),
shx AS (SELECT conv_id, unnest(s) AS x FROM sh),
hh AS (SELECT conv_id, (list_reduce(list_transform(range(1,16),
         i -> CAST(strpos('0123456789abcdef', substr(md5(x), i, 1)) - 1
              AS BIGINT)), (a,b) -> a*16+b)) % 2147483647 AS b FROM shx),
sig AS (SELECT conv_id,
  MIN((506952117 * b + 1025862119) % 2147483647) AS m0,
  MIN((506952119 * b + 1224539839) % 2147483647) AS m1,
  MIN((506952121 * b + 1423217559) % 2147483647) AS m2,
  MIN((506952123 * b + 1621895279) % 2147483647) AS m3,
  MIN((506952125 * b + 1820572999) % 2147483647) AS m4,
  MIN((506952127 * b + 2019250719) % 2147483647) AS m5,
  MIN((506952129 * b + 70444792) % 2147483647) AS m6,
  MIN((506952131 * b + 269122512) % 2147483647) AS m7,
  MIN((506952133 * b + 467800232) % 2147483647) AS m8,
  MIN((506952135 * b + 666477952) % 2147483647) AS m9,
  MIN((506952137 * b + 865155672) % 2147483647) AS m10,
  MIN((506952139 * b + 1063833392) % 2147483647) AS m11,
  MIN((506952141 * b + 1262511112) % 2147483647) AS m12,
  MIN((506952143 * b + 1461188832) % 2147483647) AS m13,
  MIN((506952145 * b + 1659866552) % 2147483647) AS m14,
  MIN((506952147 * b + 1858544272) % 2147483647) AS m15
  FROM hh GROUP BY conv_id),
banded AS (
  SELECT conv_id, 0 AS band, array_to_string([m0,m1,m2,m3], ',') AS key
    FROM sig
  UNION ALL
  SELECT conv_id, 1, array_to_string([m4,m5,m6,m7], ',') FROM sig
  UNION ALL
  SELECT conv_id, 2, array_to_string([m8,m9,m10,m11], ',') FROM sig
  UNION ALL
  SELECT conv_id, 3, array_to_string([m12,m13,m14,m15], ',') FROM sig),
cand AS (SELECT DISTINCT a.conv_id AS conv_a, b.conv_id AS conv_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.key = b.key AND a.conv_id < b.conv_id),
j AS (SELECT conv_a, conv_b,
        len(list_intersect(x.s, y.s)) /
          greatest(len(list_distinct(list_concat(x.s, y.s))), 1) AS jac
      FROM cand
      JOIN sh x ON x.conv_id = cand.conv_a
      JOIN sh y ON y.conv_id = cand.conv_b)
SELECT conv_a, conv_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5
"""


def q_pipeline_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end SFT exit: the transcript corpus plus an exact replay
    of every session ('d'-prefixed fork) → conversation-level minhash
    dedup (dedup.conv_near_dups, threshold 0.99) → CC keeper selection
    (dedup.survivors, min-id keeps the 'c' original) → chat-template
    rendering (conversation.chat_render) → greedy sequence packing
    (curation.pack_sequences, capacity 256 whitespace tokens).  Every
    stage is the already-gated operator; this gate checks the SEAMS —
    id plumbing across dedup→render→pack — the way pipeline_training
    does for the pretraining path."""
    from .operators.conversation import chat_render
    from .operators.curation import pack_sequences
    from .operators.dedup import conv_near_dups, survivors

    t = synth_transcripts(spark, sf_dir, fmt="text")
    replay = t.withColumn(
        "conv_id", F.concat(F.lit("d"), F.expr("substring(conv_id, 2)"))
    )
    corpus = t.unionByName(replay)
    dup_pairs = conv_near_dups(
        corpus, threshold=0.99, hash_method="md5"
    ).select(
        F.col("conv_a").alias("doc_a"), F.col("conv_b").alias("doc_b")
    )
    kept = survivors(corpus, dup_pairs, id_col="conv_id")
    rendered = chat_render(kept)
    staged = rendered.select(
        F.expr("CAST(substring(conv_id, 2) AS BIGINT)").alias("conv_num"),
        "rendered",
    )
    return pack_sequences(
        staged, capacity=256, n_shards=8,
        id_col="conv_num", text_col="rendered",
    )


ORACLES["pipeline_sft"] = r"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
t AS (SELECT did, tix,
        CASE WHEN tix%3=0 THEN 'user' WHEN tix%3=1 THEN 'assistant'
             ELSE 'tool' END AS role,
        'the quick brown fox jumps over turn '||tix
          ||' of conversation '||did AS text
      FROM ids CROSS JOIN (SELECT unnest(generate_series(0,3)) AS tix)),
-- identical-replay forks are always LSH-caught (equal shingle sets ⇒
-- equal signatures ⇒ every band fires, jaccard 1.0) and the min-id
-- keeper retains the 'c' original, so survivors = the base corpus
p AS (SELECT did, tix,
        '<|'||role||'|>'||chr(10)||text||chr(10)||'<|end|>'||chr(10)
          AS piece
      FROM t),
ren AS (SELECT did AS conv_num,
          string_agg(piece, '' ORDER BY tix) AS rendered
        FROM p GROUP BY did),
tok AS (SELECT conv_num,
          CASE WHEN length(trim(rendered)) = 0 THEN 0
               ELSE len(string_split(regexp_replace(
                      lower(trim(rendered)), '\s+', ' ', 'g'), ' ')) END
            AS n_tokens
        FROM ren),
o AS (SELECT conv_num, CAST(conv_num % 8 AS INT) AS shard, n_tokens,
        COALESCE(SUM(n_tokens) OVER (
          PARTITION BY conv_num % 8 ORDER BY conv_num
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM tok)
SELECT conv_num, shard, CAST(n_tokens AS INT) AS n_tokens,
       CAST(prev // 256 AS INT) AS bin_id,
       CAST(prev % 256 AS INT) AS offset_in_bin
FROM o
"""


def q_kg_node2vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order biased walk corpus (graph.node2vec_walks) over the
    symmetrized KG edge set — the p/q-interpolated skip-gram input
    (w_return:w_common:w_out = 1:4:2 → p=4, q=2: homophily-leaning).
    Symmetrization gives every hop a live return/common/out choice;
    the oracle replays the integer Efraimidis–Spirakis draw exactly,
    membership join included."""
    from .operators.graph import node2vec_walks

    edges = _kg_edges(spark, sf_dir)
    # symmetrize entity-entity edges only: reversing the rdf:type edges
    # would hand urn:t:Thing a corpus-sized out-degree and every walk
    # parked there a |corpus| candidate fan-out per hop (measured 20x
    # the whole query at sf0.1) — the class hub stays a sink, exactly
    # like the directed random_walks corpus
    sym = edges.select("src", "dst").unionByName(
        edges.filter(F.col("dst").startswith("urn:e:")).select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    return node2vec_walks(sym, walk_len=3, walks_per_node=2)


ORACLES["kg_node2vec"] = _KG_EDGES_SQL + """,
e AS (SELECT DISTINCT src, dst FROM (
        SELECT src, dst FROM edges
        UNION ALL SELECT dst, src FROM edges
                  WHERE dst LIKE 'urn:e:%')),
w AS (SELECT n.src AS start, t.w AS walk
      FROM (SELECT DISTINCT src FROM e) n
      CROSS JOIN (SELECT unnest([0, 1]) AS w) t),
s0 AS (SELECT start, walk, CAST(NULL AS VARCHAR) AS prev, start AS node
       FROM w),
s1 AS (SELECT f.start, f.walk, f.node AS prev,
         substr(min(lpad(CAST(
           (list_reduce(list_transform(range(1,16),
              i -> CAST(strpos('0123456789abcdef',
                   substr(md5(f.start||'#'||f.walk||'#1#'||e.dst), i, 1))
                   - 1 AS BIGINT)), (a,b) -> a*16+b)) // 4
           AS VARCHAR), 20, '0')||'#'||e.dst), 22) AS node
       FROM s0 f JOIN e ON e.src = f.node
       GROUP BY f.start, f.walk, f.node),
s2 AS (SELECT f.start, f.walk, f.node AS prev,
         substr(min(lpad(CAST(
           (list_reduce(list_transform(range(1,16),
              i -> CAST(strpos('0123456789abcdef',
                   substr(md5(f.start||'#'||f.walk||'#2#'||e.dst), i, 1))
                   - 1 AS BIGINT)), (a,b) -> a*16+b)) //
           (CASE WHEN e.dst = f.prev THEN 1
                 WHEN m.src IS NOT NULL THEN 4 ELSE 2 END)
           AS VARCHAR), 20, '0')||'#'||e.dst), 22) AS node
       FROM s1 f JOIN e ON e.src = f.node
       LEFT JOIN e m ON m.src = f.prev AND m.dst = e.dst
       GROUP BY f.start, f.walk, f.node),
s3 AS (SELECT f.start, f.walk, f.node AS prev,
         substr(min(lpad(CAST(
           (list_reduce(list_transform(range(1,16),
              i -> CAST(strpos('0123456789abcdef',
                   substr(md5(f.start||'#'||f.walk||'#3#'||e.dst), i, 1))
                   - 1 AS BIGINT)), (a,b) -> a*16+b)) //
           (CASE WHEN e.dst = f.prev THEN 1
                 WHEN m.src IS NOT NULL THEN 4 ELSE 2 END)
           AS VARCHAR), 20, '0')||'#'||e.dst), 22) AS node
       FROM s2 f JOIN e ON e.src = f.node
       LEFT JOIN e m ON m.src = f.prev AND m.dst = e.dst
       GROUP BY f.start, f.walk, f.node)
SELECT start, CAST(walk AS INT) AS walk, 0 AS step, node FROM s0
UNION ALL SELECT start, CAST(walk AS INT), 1, node FROM s1
UNION ALL SELECT start, CAST(walk AS INT), 2, node FROM s2
UNION ALL SELECT start, CAST(walk AS INT), 3, node FROM s3
"""


def q_kg_link_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered MRR / Hits@k of the resource-allocation link predictor
    (graph.ranking_metrics over graph.resource_allocation): held-out
    positives are the 2-hop closures (did, did+2) for did%3==0, scored
    against every RA candidate pair keyed by its x endpoint — the
    standard KG link-prediction evaluation, integer-exact."""
    from .operators.graph import ranking_metrics, resource_allocation

    d = _fusion_docs(spark, sf_dir)
    n = lambda off: F.concat(F.lit("urn:e:"), F.col("did") + off)  # noqa: E731
    edges = d.select(n(0).alias("src"), n(1).alias("dst")).unionByName(
        d.filter(F.col("did") % 7 == 0).select(
            n(0).alias("src"), n(3).alias("dst")
        )
    )
    scored = resource_allocation(edges, max_nbr_degree=64)
    truth = d.filter(F.col("did") % 3 == 0).select(
        F.least(n(0), n(2)).alias("x"), F.greatest(n(0), n(2)).alias("y")
    )
    return ranking_metrics(
        scored, truth, query_col="x", cand_col="y", score_col="ra_micro"
    )


ORACLES["kg_link_ranking"] = r"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
raw AS (
  SELECT 'urn:e:'||did AS s, 'urn:e:'||(did+1) AS t FROM ids
  UNION ALL
  SELECT 'urn:e:'||did, 'urn:e:'||(did+3) FROM ids WHERE did % 7 = 0),
und AS (SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
        FROM raw WHERE s <> t),
adj AS (SELECT a AS node, b AS nbr FROM und
        UNION ALL SELECT b, a FROM und),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node),
piv AS (SELECT node AS nbr, deg AS pdeg FROM deg WHERE deg <= 64),
wdg AS (SELECT adj.nbr, piv.pdeg, adj.node FROM adj JOIN piv USING (nbr)),
sc AS (SELECT wx.node AS x, wy.node AS y,
         CAST(SUM(1000000 // wx.pdeg) AS BIGINT) AS ra_micro
       FROM wdg wx JOIN wdg wy ON wx.nbr = wy.nbr AND wx.node < wy.node
       GROUP BY wx.node, wy.node),
tru AS (SELECT DISTINCT
          least('urn:e:'||did, 'urn:e:'||(did+2)) AS x,
          greatest('urn:e:'||did, 'urn:e:'||(did+2)) AS y
        FROM ids WHERE did % 3 = 0),
m AS (SELECT sc.x, sc.y, sc.ra_micro,
        CASE WHEN tru.x IS NOT NULL THEN 1 ELSE 0 END AS ist
      FROM sc LEFT JOIN tru ON tru.x = sc.x AND tru.y = sc.y),
r AS (SELECT x, y, ist,
        row_number() OVER (PARTITION BY x
          ORDER BY ra_micro DESC, y ASC) AS rn,
        COALESCE(SUM(ist) OVER (PARTITION BY x
          ORDER BY ra_micro DESC, y ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ta
      FROM m),
tr AS (SELECT x, y, rn - ta AS rnk FROM r WHERE ist = 1),
ev AS (SELECT tru.x, tru.y, tr.rnk FROM tru LEFT JOIN tr USING (x, y)),
a AS (SELECT COUNT(*) AS n_truth, COUNT(rnk) AS n_ranked,
        COALESCE(SUM(1000000 // rnk), 0) AS srr,
        COALESCE(SUM(CASE WHEN rnk <= 1 THEN 1 END), 0) AS h1,
        COALESCE(SUM(CASE WHEN rnk <= 3 THEN 1 END), 0) AS h3,
        COALESCE(SUM(CASE WHEN rnk <= 10 THEN 1 END), 0) AS h10
      FROM ev)
SELECT CAST(n_truth AS BIGINT) AS n_truth,
       CAST(n_ranked AS BIGINT) AS n_ranked,
       CAST(srr // n_truth AS BIGINT) AS mrr_micro,
       CAST((1000 * h1) // n_truth AS BIGINT) AS hits1_pm,
       CAST((1000 * h3) // n_truth AS BIGINT) AS hits3_pm,
       CAST((1000 * h10) // n_truth AS BIGINT) AS hits10_pm
FROM a
"""


def q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin packing manifest (curation.pack_manifest): ordered
    ``id:offset`` member lists + fill per 256-token bin — the
    attention-reset metadata a training data loader reads alongside
    the packed corpus."""
    return curation.pack_manifest(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        ),
        capacity=256,
        n_shards=8,
    )


ORACLES["pack_manifest"] = rf"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                  CAST(doc_id % 8 AS INT) AS shard,
                  {_WS_TOKENS_SQL} AS n_tokens
           FROM documents),
p AS (SELECT *, COALESCE(SUM(n_tokens) OVER (
        PARTITION BY shard ORDER BY doc_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      FROM t),
b AS (SELECT doc_id, shard, n_tokens,
        CAST(prev // 256 AS INT) AS bin_id,
        CAST(prev % 256 AS INT) AS off
      FROM p)
SELECT shard, bin_id,
  CAST(COUNT(*) AS INT) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS fill_tokens,
  string_agg(doc_id||':'||off, ';' ORDER BY off, doc_id) AS members
FROM b GROUP BY shard, bin_id
"""


def q_kg_transitive_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded transitive reduction (graph.transitive_reduction2) of a
    chain + shortcut graph: did→did+2 shortcuts (did%4==0) carry an
    explicit 2-hop witness through did+1 and are dropped; did→did+5
    shortcuts (did%6==0) have no 2-path and survive — the redundant-
    assertion cleanup a transitive predicate accumulates."""
    from .operators.graph import transitive_reduction2

    d = _fusion_docs(spark, sf_dir)
    n = lambda off: F.concat(F.lit("urn:e:"), F.col("did") + off)  # noqa: E731
    edges = (
        d.select(n(0).alias("src"), n(1).alias("dst"))
        .unionByName(
            d.filter(F.col("did") % 4 == 0).select(
                n(0).alias("src"), n(2).alias("dst")
            )
        )
        .unionByName(
            d.filter(F.col("did") % 6 == 0).select(
                n(0).alias("src"), n(5).alias("dst")
            )
        )
    )
    return transitive_reduction2(edges)


ORACLES["kg_transitive_reduce"] = r"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
edges AS (
  SELECT DISTINCT * FROM (
    SELECT 'urn:e:'||did AS src, 'urn:e:'||(did+1) AS dst FROM ids
    UNION ALL
    SELECT 'urn:e:'||did, 'urn:e:'||(did+2) FROM ids WHERE did % 4 = 0
    UNION ALL
    SELECT 'urn:e:'||did, 'urn:e:'||(did+5) FROM ids WHERE did % 6 = 0)),
simple AS (SELECT src, dst FROM edges WHERE src <> dst),
outd AS (SELECT src AS b, COUNT(*) AS o FROM simple GROUP BY src),
ind AS (SELECT dst AS b, COUNT(*) AS i FROM simple GROUP BY dst),
ok AS (SELECT outd.b FROM outd JOIN ind USING (b)
       WHERE i * o <= 1048576),
candidates AS (SELECT DISTINCT l.src, r.dst
               FROM simple l
               JOIN ok ON ok.b = l.dst
               JOIN simple r ON r.src = l.dst
               WHERE l.src <> r.dst
                 AND EXISTS (SELECT 1 FROM edges e
                             WHERE e.src = l.src AND e.dst = r.dst)),
kept AS (SELECT s.src, s.dst FROM simple s
         LEFT JOIN candidates c ON c.src = s.src AND c.dst = s.dst
         WHERE c.src IS NULL),
condemned AS (SELECT DISTINCT l.src, r.dst
              FROM kept l
              JOIN ok ON ok.b = l.dst
              JOIN kept r ON r.src = l.dst
              WHERE l.src <> r.dst
                AND EXISTS (SELECT 1 FROM candidates c
                            WHERE c.src = l.src AND c.dst = r.dst))
SELECT e.src, e.dst FROM edges e
LEFT JOIN condemned m ON m.src = e.src AND m.dst = e.dst
WHERE m.src IS NULL
"""


def q_embedding_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised corpus labeling (graph.seeded_label_propagation
    over similarity.knn_graph): the vec_id%5==0 sliver keeps its human
    label, everything else adopts the plurality label of its
    already-labeled kNN neighbors over two monotone frontier rounds —
    hand-label 20%, propagate to the corpus."""
    from .operators.graph import seeded_label_propagation

    emb = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        "label",
    )
    g = similarity.knn_graph(emb, dim=64, k=3, n_planes=8).select(
        F.col("src_id").alias("src"), F.col("dst_id").alias("dst")
    )
    seeds = emb.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("node"),
        F.col("label").cast("int").alias("label"),
    )
    out = seeded_label_propagation(g, seeds, rounds=2)
    return out.select(
        F.col("node").cast("long").alias("node"),
        F.col("label").cast("int").alias("label"),
        F.col("round").cast("int").alias("round"),
    )


def _embedding_label_prop_oracle() -> str:
    return _KNN_GRAPH_WITH + """,
g AS (SELECT DISTINCT a, b FROM (
        SELECT src_id AS a, dst_id AS b FROM und
        UNION ALL SELECT dst_id, src_id FROM und)),
a0 AS (SELECT vec_id AS node, CAST(label AS INT) AS label, 0 AS rnd
       FROM embeddings WHERE vec_id % 5 = 0),
m1 AS (SELECT g.a AS node, x.label, COUNT(*) AS c
       FROM g JOIN a0 x ON x.node = g.b GROUP BY g.a, x.label),
p1 AS (SELECT node, label FROM (
         SELECT node, label, row_number() OVER (
           PARTITION BY node ORDER BY c DESC, label ASC) AS rn
         FROM m1) WHERE rn = 1),
n1 AS (SELECT p1.node, p1.label, 1 AS rnd FROM p1
       LEFT JOIN a0 ON a0.node = p1.node WHERE a0.node IS NULL),
a1 AS (SELECT * FROM a0 UNION ALL SELECT * FROM n1),
m2 AS (SELECT g.a AS node, x.label, COUNT(*) AS c
       FROM g JOIN a1 x ON x.node = g.b GROUP BY g.a, x.label),
p2 AS (SELECT node, label FROM (
         SELECT node, label, row_number() OVER (
           PARTITION BY node ORDER BY c DESC, label ASC) AS rn
         FROM m2) WHERE rn = 1),
n2 AS (SELECT p2.node, p2.label, 2 AS rnd FROM p2
       LEFT JOIN a1 ON a1.node = p2.node WHERE a1.node IS NULL),
a2 AS (SELECT * FROM a1 UNION ALL SELECT * FROM n2)
SELECT CAST(node AS BIGINT) AS node, label,
       CAST(rnd AS INT) AS "round"
FROM a2
"""


ORACLES["embedding_label_prop"] = _embedding_label_prop_oracle()


def q_render_trig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TriG rendering (serialize_ops.render_trig_docs): the nquads
    corpus re-serialized as one TriG document per turn — default-graph
    statements bare, named graphs as first-appearance-ordered blocks.
    Byte-exact oracle from the closed-form corpus (the writer-side
    completion of the extract_trig reader; reference writes Turtle
    only, TurtleSerializer.java:32)."""
    from .operators.serialize_ops import render_trig_docs

    t = synth_transcripts(spark, sf_dir, fmt="nquads")
    return render_trig_docs(t, fmt="nquads")


ORACLES["render_trig"] = _SEED + """
SELECT 'c'||did AS conv_id, tix AS turn_idx,
  '@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .'
  ||chr(10)||chr(10)
  ||'<urn:e:'||did||'> <urn:p:knows> <urn:e:'||(did+1)||'> .'||chr(10)
  ||'<urn:g:'||(did%10)||'> {'||chr(10)
  ||'<urn:e:'||did||'> <urn:p:name> "Entity '||did||'" .'||chr(10)
  ||'_:bc'||did||'_'||tix||'_n0 <urn:p:label> "g"@en .'||chr(10)
  ||'}'||chr(10) AS trig
FROM t
"""


def q_transcripts_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input-contract validation (conversation.validate_transcripts)
    over a corpus with planted violations: dropped turns (did%10),
    duplicated turns (did%7), an unknown role (did%9), blank text
    (did%11), and a timestamp regression (did%13) — the schema-on-read
    gate an ingest runs before extraction; conforming rows emit
    nothing."""
    from .operators.conversation import validate_transcripts

    t = synth_transcripts(spark, sf_dir, fmt="text")
    did = F.expr("CAST(substring(conv_id, 2) AS BIGINT)")
    t = t.withColumn("_did", did)
    t = t.filter(
        ~((F.col("_did") % 10 == 0) & (F.col("turn_idx") == 2))
    )
    dup = t.filter((F.col("_did") % 7 == 0) & (F.col("turn_idx") == 1))
    t = t.unionByName(dup)
    t = (
        t.withColumn(
            "role",
            F.when(
                (F.col("_did") % 9 == 0) & (F.col("turn_idx") == 0),
                F.lit("narrator"),
            ).otherwise(F.col("role")),
        )
        .withColumn(
            "text",
            F.when(
                (F.col("_did") % 11 == 0) & (F.col("turn_idx") == 3),
                F.lit("  "),
            ).otherwise(F.col("text")),
        )
        .withColumn(
            "ts",
            F.when(
                (F.col("_did") % 13 == 0) & (F.col("turn_idx") == 2),
                F.col("ts") - F.expr("INTERVAL 300 SECONDS"),
            ).otherwise(F.col("ts")),
        )
        .drop("_did")
    )
    return validate_transcripts(t)


ORACLES["transcripts_validate"] = r"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents),
base AS (SELECT did, tix
         FROM ids CROSS JOIN (SELECT unnest(generate_series(0,3)) AS tix)
         WHERE NOT (did % 10 = 0 AND tix = 2)),
rows0 AS (SELECT did, tix FROM base
          UNION ALL
          SELECT did, tix FROM base WHERE did % 7 = 0 AND tix = 1),
r AS (SELECT 'c'||did AS conv_id, CAST(tix AS INT) AS turn_idx,
        CASE WHEN did % 9 = 0 AND tix = 0 THEN 'narrator'
             WHEN tix%3=0 THEN 'user' WHEN tix%3=1 THEN 'assistant'
             ELSE 'tool' END AS role,
        CASE WHEN did % 11 = 0 AND tix = 3 THEN '  '
             ELSE 'the quick brown fox jumps over turn '||tix
                  ||' of conversation '||did END AS text,
        (did*3600 + tix*60
         + CASE WHEN did % 13 = 0 AND tix = 2 THEN -300 ELSE 0 END) AS ts_s
      FROM rows0),
w AS (SELECT *,
        lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts_s)
          AS prev_i,
        lag(ts_s) OVER (PARTITION BY conv_id ORDER BY turn_idx, ts_s)
          AS prev_ts,
        COUNT(*) OVER (PARTITION BY conv_id, turn_idx) AS n_dup
      FROM r)
SELECT conv_id, turn_idx, 'null_text' AS "check", 'empty' AS detail
FROM w WHERE text IS NULL OR length(trim(text)) = 0
UNION ALL
SELECT conv_id, turn_idx, 'dup_turn', 'n='||n_dup
FROM w WHERE n_dup > 1
UNION ALL
SELECT conv_id, turn_idx, 'turn_gap',
       'expected='||COALESCE(prev_i + 1, 0)
FROM w WHERE CASE WHEN prev_i IS NULL THEN turn_idx <> 0
                  ELSE turn_idx <> prev_i + 1 END
UNION ALL
SELECT conv_id, turn_idx, 'bad_role', COALESCE(role, 'NULL')
FROM w WHERE role IS NULL
         OR role NOT IN ('user', 'assistant', 'tool', 'system')
UNION ALL
SELECT conv_id, turn_idx, 'ts_regress', 'ts<prev'
FROM w WHERE prev_ts IS NOT NULL AND ts_s < prev_ts
"""


def q_textrank_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-passage extraction (text.textrank_segments): each document's
    10-word segments form a Jaccard similarity graph, integer-exact
    PageRank runs two rounds over all documents' graphs in ONE batched
    plan, top-2 segments per document survive — the batched-tiny-graphs
    pattern at corpus scale."""
    from .operators.text import textrank_segments

    return textrank_segments(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        ),
        chunk_words=10, max_chunks=8, threshold_pm=100,
        rounds=2, top_k=2,
    )


ORACLES["textrank_summary"] = r"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        list_filter(string_split(regexp_replace(lower(trim(text)),
                    '\s+', ' ', 'g'), ' '), x -> x <> '') AS w
      FROM documents),
nz AS (SELECT * FROM t WHERE len(w) > 0),
sg AS (SELECT doc_id, w,
        unnest(range(0, least((len(w)+9)//10, 8))) AS sid
       FROM nz),
seg AS (SELECT doc_id, CAST(sid AS INT) AS sid,
         array_to_string(w[sid*10+1 : sid*10+10], ' ') AS segment
        FROM sg),
ws AS (SELECT doc_id, sid,
        list_distinct(string_split(segment, ' ')) AS ws
       FROM seg),
e AS (SELECT a.doc_id, a.sid AS i, b.sid AS j
      FROM ws a JOIN ws b
        ON a.doc_id = b.doc_id AND a.sid <> b.sid
      WHERE (1000 * len(list_intersect(a.ws, b.ws)))
            // greatest(len(list_distinct(list_concat(a.ws, b.ws))), 1)
            >= 100),
deg AS (SELECT doc_id, i AS j, COUNT(*) AS deg FROM e GROUP BY 1, 2),
n0 AS (SELECT doc_id, sid, CAST(1000000 AS BIGINT) AS r FROM ws),
f1 AS (SELECT e.doc_id, e.i AS sid, SUM(r0.r // deg.deg) AS inflow
       FROM e JOIN n0 r0 ON r0.doc_id = e.doc_id AND r0.sid = e.j
              JOIN deg ON deg.doc_id = e.doc_id AND deg.j = e.j
       GROUP BY 1, 2),
n1 AS (SELECT n0.doc_id, n0.sid,
         150000 + (85 * COALESCE(f1.inflow, 0)) // 100 AS r
       FROM n0 LEFT JOIN f1 USING (doc_id, sid)),
f2 AS (SELECT e.doc_id, e.i AS sid, SUM(r1.r // deg.deg) AS inflow
       FROM e JOIN n1 r1 ON r1.doc_id = e.doc_id AND r1.sid = e.j
              JOIN deg ON deg.doc_id = e.doc_id AND deg.j = e.j
       GROUP BY 1, 2),
n2 AS (SELECT n1.doc_id, n1.sid,
         150000 + (85 * COALESCE(f2.inflow, 0)) // 100 AS r
       FROM n1 LEFT JOIN f2 USING (doc_id, sid)),
rk AS (SELECT doc_id, sid, r,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY r DESC, sid ASC) AS rn
       FROM n2)
SELECT rk.doc_id, rk.sid, CAST(rk.r AS BIGINT) AS score_micro,
       seg.segment
FROM rk JOIN seg ON seg.doc_id = rk.doc_id AND seg.sid = rk.sid
WHERE rk.rn <= 2
"""


def q_kg_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss cohesive edges (graph.ktruss, k=3, two peeling rounds)
    over the materialized KG — the triangle-reinforced core that cuts
    tightly-knit alias/community clusters out of the noisy edge set;
    strictly stronger than k-core."""
    from .operators.graph import ktruss

    edges = _kg_edges(spark, sf_dir)
    return ktruss(edges, k=3, rounds=2)


ORACLES["kg_ktruss"] = _KG_EDGES_SQL + """,
p0 AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
       FROM edges WHERE src <> dst),
t1 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       FROM p0 e1
       JOIN p0 e2 ON e2.a = e1.b
       JOIN p0 e3 ON e3.a = e1.a AND e3.b = e2.b),
m1 AS (SELECT x AS a, y AS b FROM t1
       UNION ALL SELECT x, z FROM t1
       UNION ALL SELECT y, z FROM t1),
s1 AS (SELECT a, b, COUNT(*) AS s FROM m1 GROUP BY a, b),
p1 AS (SELECT p0.a, p0.b FROM p0 LEFT JOIN s1 USING (a, b)
       WHERE COALESCE(s1.s, 0) >= 1),
t2 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       FROM p1 e1
       JOIN p1 e2 ON e2.a = e1.b
       JOIN p1 e3 ON e3.a = e1.a AND e3.b = e2.b),
m2 AS (SELECT x AS a, y AS b FROM t2
       UNION ALL SELECT x, z FROM t2
       UNION ALL SELECT y, z FROM t2),
s2 AS (SELECT a, b, COUNT(*) AS s FROM m2 GROUP BY a, b),
p2 AS (SELECT p1.a, p1.b FROM p1 LEFT JOIN s2 USING (a, b)
       WHERE COALESCE(s2.s, 0) >= 1),
t3 AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       FROM p2 e1
       JOIN p2 e2 ON e2.a = e1.b
       JOIN p2 e3 ON e3.a = e1.a AND e3.b = e2.b),
m3 AS (SELECT x AS a, y AS b FROM t3
       UNION ALL SELECT x, z FROM t3
       UNION ALL SELECT y, z FROM t3),
s3 AS (SELECT a, b, COUNT(*) AS s FROM m3 GROUP BY a, b)
SELECT p2.a, p2.b, CAST(COALESCE(s3.s, 0) AS BIGINT) AS support
FROM p2 LEFT JOIN s3 USING (a, b)
"""


def q_stream_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SFT exit (streaming/stream_sft.py): turns of every
    conversation arrive SPREAD ACROSS micro-batches (files partitioned
    by turn range), the per-conversation state buffers them, and each
    conversation emits its chat-rendered document with loss-mask spans
    exactly once on completion — the drained stream must equal the
    batch chat_render oracle byte-for-byte."""
    import tempfile
    import uuid

    from .streaming.stream_extract import read_transcript_stream
    from .streaming.stream_sft import stream_chat_render

    base = tempfile.mkdtemp(prefix="semargl_q_stream_sft_")
    t = synth_transcripts(spark, sf_dir, fmt="text")
    # one file per TURN bucket: every conversation spans several files,
    # so completion genuinely happens mid-stream, batches apart
    t.repartition(8, "conv_id", "turn_idx").write.mode(
        "overwrite"
    ).parquet(f"{base}/in")
    stream = read_transcript_stream(spark, f"{base}/in")
    rendered = stream_chat_render(stream, expected_turns=4)
    sink = f"q_stream_sft_{uuid.uuid4().hex[:8]}"
    q = (
        rendered.writeStream.format("memory")
        .queryName(sink)
        .outputMode("update")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    _drain(spark, q, "stream_sft")
    return spark.table(sink).select(
        "conv_id", "rendered", "n_chars", "n_mask", "mask_spans"
    )


ORACLES["stream_sft"] = ORACLES["chat_render"]


def q_events_allen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allen interval-algebra census (asof.allen_relations): per-user
    view spans (10 min) × click spans (5 min) classified into the 13
    exhaustive temporal relations — the interval-interaction audit
    companion of events_asof / events_interval."""
    from .operators.asof import allen_relations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("s")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("s").alias("start"),
        (F.col("s") + 600).alias("end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("s").alias("start"),
        (F.col("s") + 300).alias("end"),
    )
    return allen_relations(views, clicks)


ORACLES["events_allen"] = r"""
WITH ev AS (SELECT user_id, event_type,
              -- floor, not round: Spark's unix_timestamp truncates
              -- sub-second parts, and a half-second difference flips
              -- meets/equals at the boundary
              CAST(floor(epoch(ts)) AS BIGINT) AS s FROM events),
a AS (SELECT user_id, s AS ls, s + 600 AS le FROM ev
      WHERE event_type = 'view'),
b AS (SELECT user_id, s AS rs, s + 300 AS re FROM ev
      WHERE event_type = 'click'),
p AS (SELECT CASE
        WHEN ls IS NULL OR le IS NULL OR rs IS NULL OR re IS NULL
             OR ls >= le OR rs >= re THEN 'invalid'
        WHEN le < rs THEN 'precedes'
        WHEN re < ls THEN 'preceded_by'
        WHEN le = rs THEN 'meets'
        WHEN re = ls THEN 'met_by'
        WHEN ls = rs AND le = re THEN 'equals'
        WHEN ls = rs AND le < re THEN 'starts'
        WHEN ls = rs AND le > re THEN 'started_by'
        WHEN le = re AND ls > rs THEN 'finishes'
        WHEN le = re AND ls < rs THEN 'finished_by'
        WHEN ls > rs AND le < re THEN 'during'
        WHEN ls < rs AND le > re THEN 'contains'
        WHEN ls < rs AND le < re THEN 'overlaps'
        ELSE 'overlapped_by' END AS relation
      FROM a JOIN b USING (user_id))
SELECT relation, CAST(COUNT(*) AS BIGINT) AS n FROM p GROUP BY relation
"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between two deterministic corpus slices
    (clustering.centroid_drift over vec_id parity): exact Q20 mean
    vectors, integer dot product, and signed squared cosine in
    micro-units — the between-deliveries drift monitor."""
    from .operators.clustering import centroid_drift

    emb = _embeddings(spark, sf_dir).select(
        "vec_id", "embedding", F.col("label").cast("int").alias("label")
    )
    return centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        dim=64,
    )


ORACLES["embedding_drift"] = r"""
WITH e AS (SELECT vec_id, CAST(label AS INT) AS label,
             CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qa AS (SELECT label, u.d AS dim,
         CAST(floor(v[u.d + 1] * 1048576) AS BIGINT) AS q
       FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS d) u
       WHERE vec_id % 2 = 0),
qb AS (SELECT label, u.d AS dim,
         CAST(floor(v[u.d + 1] * 1048576) AS BIGINT) AS q
       FROM e CROSS JOIN (SELECT unnest(range(0, 64)) AS d) u
       WHERE vec_id % 2 = 1),
ma AS (SELECT label, dim,
         CAST((SUM(q) - SUM(q) % COUNT(*)) / COUNT(*) AS BIGINT) AS ma,
         COUNT(*) AS n_a
       FROM qa GROUP BY label, dim),
mb AS (SELECT label, dim,
         CAST((SUM(q) - SUM(q) % COUNT(*)) / COUNT(*) AS BIGINT) AS mb,
         COUNT(*) AS n_b
       FROM qb GROUP BY label, dim),
g AS (SELECT label,
        MAX(n_a) AS n_a, MAX(n_b) AS n_b,
        SUM(ma * mb) AS dot_q,
        SUM(ma * ma) AS na2, SUM(mb * mb) AS nb2
      FROM ma JOIN mb USING (label, dim) GROUP BY label)
SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  CAST(dot_q AS BIGINT) AS dot_q,
  CAST(CASE WHEN dot_q < 0 THEN
    -((CAST(abs(dot_q) AS HUGEINT) * abs(dot_q) * 1000000)
      // greatest(CAST(na2 AS HUGEINT) * nb2, 1))
  ELSE
    ((CAST(abs(dot_q) AS HUGEINT) * abs(dot_q) * 1000000)
      // greatest(CAST(na2 AS HUGEINT) * nb2, 1))
  END AS BIGINT) AS cos2_signed_micro
FROM g
"""


def q_kg_sparql_cbd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concise Bounded Description (sparql.concise_bounded_description)
    over a PRE-canonicalization statement set with bnode-structured
    values: described entities pull their literal/IRI statements plus
    the transitive closure through blank-node objects (address → geo
    chains), the spec-faithful DESCRIBE for raw extraction output."""
    d = _fusion_docs(spark, sf_dir)
    did = F.col("did")
    e = F.concat(F.lit("urn:e:"), did)
    a = F.concat(F.lit("_:a"), did)
    g = F.concat(F.lit("_:g"), did)

    def rows(subj, pred, obj, kind, cond=None):
        x = d if cond is None else d.filter(cond)
        return x.select(
            subj.alias("subj"), F.lit(pred).alias("pred"),
            obj.alias("obj"), F.lit(kind).alias("obj_kind"),
        )

    st = (
        rows(e, "urn:p:addr", a, "bnode")
        .unionByName(rows(
            e, "urn:p:name",
            F.concat(F.lit("entity "), did), "literal"))
        .unionByName(rows(
            a, "urn:p:city",
            F.concat(F.lit("c"), did % 10), "literal"))
        .unionByName(rows(a, "urn:p:geo", g, "bnode", did % 2 == 0))
        .unionByName(rows(
            g, "urn:p:lat", (did % 90).cast("string"), "literal",
            did % 2 == 0))
    )
    return concise_bounded_description(
        st, ["urn:e:5", "urn:e:10", "urn:e:11"]
    )


ORACLES["kg_sparql_cbd"] = r"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS did FROM documents
             WHERE doc_id IN (5, 10, 11))
SELECT * FROM (
  SELECT 'urn:e:'||did AS subj, 'urn:p:addr' AS pred,
         '_:a'||did AS obj, 'bnode' AS obj_kind FROM ids
  UNION ALL
  SELECT 'urn:e:'||did, 'urn:p:name', 'entity '||did, 'literal' FROM ids
  UNION ALL
  SELECT '_:a'||did, 'urn:p:city', 'c'||(did%10), 'literal' FROM ids
  UNION ALL
  SELECT '_:a'||did, 'urn:p:geo', '_:g'||did, 'bnode' FROM ids
  WHERE did % 2 = 0
  UNION ALL
  SELECT '_:g'||did, 'urn:p:lat', CAST(did%90 AS VARCHAR), 'literal'
  FROM ids WHERE did % 2 = 0)
"""


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption pairs (curation.span_corruption) over the
    document corpus: 15% deterministic word masking, consecutive masks
    merged into sentinel spans, corrupted input + sentinel-delimited
    targets — the denoising-objective generator, zero shuffles."""
    return curation.span_corruption(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )


ORACLES["span_corruption"] = r"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        list_filter(string_split(regexp_replace(trim(text),
                    '\s+', ' ', 'g'), ' '), x -> x <> '') AS w
      FROM documents),
nz AS (SELECT * FROM t WHERE len(w) > 0),
u AS (SELECT doc_id, len(w) AS n,
        unnest(range(0, len(w))) AS pos, w FROM nz),
pw AS (SELECT doc_id, n, pos, w[pos+1] AS word,
        ((list_reduce(list_transform(range(1,16),
            i -> CAST(strpos('0123456789abcdef',
                 substr(md5(doc_id||'#'||pos), i, 1)) - 1 AS BIGINT)),
            (a,b) -> a*16+b)) % 1000 < 150) AS m
      FROM u),
f AS (SELECT *, CASE WHEN m AND NOT COALESCE(
        lag(m) OVER (PARTITION BY doc_id ORDER BY pos), FALSE)
        THEN 1 ELSE 0 END AS opens FROM pw),
g AS (SELECT *, SUM(opens) OVER (PARTITION BY doc_id
        ORDER BY pos) AS k FROM f),
agg AS (SELECT doc_id, MAX(n) AS n_words,
         SUM(CASE WHEN m THEN 1 ELSE 0 END) AS n_masked,
         SUM(opens) AS n_spans,
         string_agg(CASE WHEN NOT m THEN word
                         WHEN opens = 1 THEN '<extra_id_'||(k-1)||'>'
                    END, ' ' ORDER BY pos) AS corrupted,
         string_agg(CASE WHEN opens = 1
                         THEN '<extra_id_'||(k-1)||'> '||word
                         WHEN m THEN word END, ' ' ORDER BY pos) AS tgt
        FROM g GROUP BY doc_id)
SELECT doc_id, CAST(n_words AS INT) AS n_words,
  CAST(n_masked AS INT) AS n_masked,
  CAST(n_spans AS INT) AS n_spans,
  COALESCE(corrupted, '') AS corrupted,
  CASE WHEN n_spans = 0 THEN '<extra_id_0>'
       ELSE tgt||' <extra_id_'||n_spans||'>' END AS targets
FROM agg
"""


def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle pairs (curation.fim_transform): deterministic
    md5 cut points split each document into prefix/middle/suffix,
    re-emitted in PSM sentinel order — the infilling objective beside
    span_corruption; zero shuffles."""
    return curation.fim_transform(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        )
    )


ORACLES["fim_transform"] = r"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        list_filter(string_split(regexp_replace(trim(text),
                    '\s+', ' ', 'g'), ' '), x -> x <> '') AS w
      FROM documents),
nz AS (SELECT doc_id, w, len(w) AS n FROM t WHERE len(w) > 0),
c AS (SELECT doc_id, w, n,
        (list_reduce(list_transform(range(1,16),
           i -> CAST(strpos('0123456789abcdef',
                substr(md5(doc_id||'#cut0'), i, 1)) - 1 AS BIGINT)),
           (a,b) -> a*16+b)) % (n + 1) AS c0,
        (list_reduce(list_transform(range(1,16),
           i -> CAST(strpos('0123456789abcdef',
                substr(md5(doc_id||'#cut1'), i, 1)) - 1 AS BIGINT)),
           (a,b) -> a*16+b)) % (n + 1) AS c1
      FROM nz),
s AS (SELECT doc_id, w, n,
        least(c0, c1) AS a, greatest(c0, c1) AS b FROM c)
SELECT doc_id, CAST(n AS INT) AS n_words,
  CAST(a AS INT) AS cut_a, CAST(b AS INT) AS cut_b,
  -- COALESCE: DuckDB's array_to_string yields NULL on empty slices
  '<|fim_pre|> '||COALESCE(array_to_string(w[1:a], ' '), '')
  ||' <|fim_suf|> '||COALESCE(array_to_string(w[b+1:n], ' '), '')
  ||' <|fim_mid|> '||COALESCE(array_to_string(w[a+1:b], ' '), '') AS fim
FROM s
"""


def q_instruction_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instruction-tuning pair mining (conversation.instruction_pairs):
    every user→assistant adjacency in the stable turn ordering becomes
    one (instruction, response) row — the single-turn SFT table beside
    chat_render's whole-conversation exit."""
    from .operators.conversation import instruction_pairs

    return instruction_pairs(synth_transcripts(spark, sf_dir, fmt="text"))


ORACLES["instruction_pairs"] = r"""
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents)
SELECT 'c'||did AS conv_id, 1 AS turn_idx,
  'the quick brown fox jumps over turn 0 of conversation '||did
    AS instruction,
  'the quick brown fox jumps over turn 1 of conversation '||did
    AS response
FROM ids
"""


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order (curation.curriculum_order): documents
    bucketed by length thresholds (200/400 chars), longest bucket
    first, hash-shuffled within — the anneal-from-clean ordering on
    the global_shuffle machinery (composite order-preserving blocks,
    never a one-partition row_number)."""
    return curation.curriculum_order(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.col("n_chars").cast("long").alias("n_chars"),
        ),
        "n_chars",
        thresholds=(200, 400),
    )


ORACLES["curriculum_order"] = r"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        (CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END
         + CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) AS bucket,
        md5('cur:'||CAST(doc_id AS VARCHAR)) AS h
      FROM documents)
SELECT doc_id, CAST(bucket AS INT) AS bucket,
  CAST(row_number() OVER (ORDER BY (2 - bucket), h, doc_id) - 1
       AS BIGINT) AS pos
FROM t
"""


# --------------------------------------- round-3 additions (r3): skew gates
#
# Every other gate runs on uniform synthetic data; these four feed the
# zipf-skewed corpus (sources/transcripts.synth_transcripts_zipf — hot
# conversations, a hub entity absorbing half of all mentions, geometric
# duplicate-cluster sizes, one dominant language) through the operators
# whose skew machinery only unit tests exercised before: hub absorption
# in connected_components, LSH band buckets with a 500× hot bucket,
# the salted two-phase top-k, and the broadcast-side hot dictionary key.
# Oracles stay closed-form: zipf_level is one CASE expression.

def _zipf_sql(v: str) -> str:
    from .sources.transcripts import zipf_level_sql

    return zipf_level_sql(v)


def q_canonicalize_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the zipf corpus's turn-0 mention edges:
    entity urn:z:0 is a hub star absorbing HALF the corpus (one giant
    component, geometric tail of small ones) — the skewed shape where a
    naive CC implementation funnels the hub's whole neighborhood
    through one reducer. Each doc contributes exactly one turn-0 edge,
    so the oracle computes components in closed form."""
    t = synth_transcripts_zipf(spark, sf_dir)
    st = triples(extract_statements(t))
    edges = (
        st.filter(
            (F.col("pred") == "urn:p:mentions") & (F.col("turn_idx") == 0)
        )
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    return connected_components(edges)


ORACLES["canonicalize_skew"] = f"""
WITH d AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
e0 AS (SELECT did, {_zipf_sql('(did * 31) % 64')} AS eid FROM d),
nodes AS (SELECT 'urn:e:'||did AS node, eid FROM e0
          UNION SELECT DISTINCT 'urn:z:'||eid, eid FROM e0),
r AS (SELECT eid, MIN(node) AS root FROM nodes GROUP BY eid)
SELECT n.node, r.root AS component FROM nodes n JOIN r USING (eid)
"""


def _zipf_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster corpus with geometric cluster sizes: within
    every 64-doc block the docs split into clusters of size
    [32, 16, 8, 4, 2, 1, 1] (zipf_level over did % 64); cluster members
    share 7 of 8 words (a ``var{did%2}`` token differs), so
    within-cluster Jaccard ≥ 5/7 and cross-cluster is 0. The size-32
    cluster's band bucket carries ~500× the candidate pairs of the
    median — the hot-bucket shape of boilerplate at corpus scale."""
    from .sources.transcripts import zipf_level

    did = F.col("doc_id").cast("long")
    c = (
        F.floor(did / 64) * 7 + zipf_level(did % 64)
    ).cast("string")
    text = F.concat_ws(
        " ",
        *[F.concat(F.lit("tok"), c, F.lit(ch)) for ch in "abcdefg"],
        F.concat(F.lit("var"), (did % 2).cast("string")),
    )
    return _docs(spark, sf_dir).select(
        did.alias("doc_id"), text.alias("text")
    )


def q_dedup_minhash_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup over the geometric-cluster corpus (md5 hash
    method → the oracle replays shingle→minhash→band→verify exactly).
    Verifies the banded pipeline keeps exact pair semantics when one
    bucket is pathologically hot."""
    corpus = _zipf_dedup_corpus(spark, sf_dir)
    return dedup.near_dedup_minhash(
        corpus, threshold=0.5, hash_method="md5"
    ).select(
        F.col("doc_a").cast("long"), F.col("doc_b").cast("long"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _minhash_skew_oracle() -> str:
    from .operators.dedup import _MH_A, _MH_B, _MH_P

    sig_cols = ", ".join(
        f"MIN(({_MH_A[j]} * b + {_MH_B[j]}) % {_MH_P}) AS m{j}"
        for j in range(16)
    )
    bands = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, "
        f"array_to_string([m{4*b}, m{4*b+1}, m{4*b+2}, m{4*b+3}], ',') AS key "
        "FROM sig"
        for b in range(4)
    )
    lvl = _zipf_sql("(doc_id % 64)")
    words = " ".join(
        "tok'||c||'" + ch for ch in "abcdefg"
    )
    return rf"""
WITH corpus AS (
  SELECT doc_id, '{words} var'||(doc_id % 2) AS text
  FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id,
               (CAST(doc_id AS BIGINT) // 64) * 7 + ({lvl}) AS c
        FROM documents)),
t AS (SELECT doc_id, {_NORM_W} AS w FROM corpus),
sh AS (SELECT doc_id,
       list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w[1:3], ' ')]
            ELSE list_transform(range(1, len(w)-1),
                                i -> w[i]||' '||w[i+1]||' '||w[i+2]) END) AS s
       FROM t),
shx AS (SELECT doc_id, unnest(s) AS x FROM sh),
hh AS (SELECT doc_id, ({_h60('x')}) % {_MH_P} AS b FROM shx),
sig AS (SELECT doc_id, {sig_cols} FROM hh GROUP BY doc_id),
banded AS (
{bands}),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM banded a JOIN banded b
           ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
j AS (SELECT doc_a, doc_b,
      len(list_intersect(x.s, y.s)) /
          greatest(len(list_distinct(list_concat(x.s, y.s))), 1) AS jac
      FROM cand
      JOIN sh x ON x.doc_id = cand.doc_a
      JOIN sh y ON y.doc_id = cand.doc_b)
SELECT doc_a, doc_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.5
"""


ORACLES["dedup_minhash_skew"] = _minhash_skew_oracle()


def q_quality_topk_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality top-5 where language mass is geometric
    (en 50%, de 25%, es 12.5%, fr ~6%, und tail — the real shape of a
    web corpus, where English funnels through one window partition
    unless salted). Texts are closed-form: two unambiguous stopwords of
    the language plus did%4 unique filler words, so quality and rank
    replay exactly in SQL."""
    did = F.col("doc_id").cast("long")
    v = did % 16
    sw = (
        F.when(v < 8, "the and")
        .when(v < 12, "der ist")
        .when(v < 14, "el los")
        .when(v == 14, "les des")
        .otherwise("zz qq")
    )
    fillers = F.concat_ws(
        " ",
        *[
            F.when(
                did % 4 > k,
                F.concat(
                    F.lit("f"), did.cast("string"), F.lit(f"w{k}")
                ),
            )
            for k in range(3)
        ],
    )
    text = F.trim(F.concat_ws(" ", sw, fillers))
    docs = _docs(spark, sf_dir).select(
        did.alias("doc_id"), text.alias("text")
    )
    return curation.quality_topk(docs, k=5, n_salts=16)


ORACLES["quality_topk_skew"] = rf"""
WITH base AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
    trim(CASE WHEN doc_id % 16 < 8 THEN 'the and'
              WHEN doc_id % 16 < 12 THEN 'der ist'
              WHEN doc_id % 16 < 14 THEN 'el los'
              WHEN doc_id % 16 = 14 THEN 'les des'
              ELSE 'zz qq' END
      || CASE WHEN doc_id % 4 > 0 THEN ' f'||doc_id||'w0' ELSE '' END
      || CASE WHEN doc_id % 4 > 1 THEN ' f'||doc_id||'w1' ELSE '' END
      || CASE WHEN doc_id % 4 > 2 THEN ' f'||doc_id||'w2' ELSE '' END
    ) AS text
  FROM documents),
t AS (SELECT doc_id, text,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS wall,
        list_distinct(string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ')) AS w
      FROM base),
s AS (SELECT doc_id, wall, w,
  len(list_intersect(w, {_sql_list(_SW['en'])})) AS en,
  len(list_intersect(w, {_sql_list(_SW['de'])})) AS de,
  len(list_intersect(w, {_sql_list(_SW['es'])})) AS es,
  len(list_intersect(w, {_sql_list(_SW['fr'])})) AS fr
  FROM t),
l AS (SELECT doc_id, wall, w,
  CASE WHEN greatest(en, de, es, fr) = 0 THEN 'und'
       WHEN en >= de AND en >= es AND en >= fr THEN 'en'
       WHEN de >= es AND de >= fr THEN 'de'
       WHEN es >= fr THEN 'es'
       ELSE 'fr' END AS lang
  FROM s),
m AS (SELECT doc_id, lang,
  round(least(len(wall) / 64.0, 1.0) * 0.4 +
        least((len(list_filter(wall, x -> list_contains({_ALL_SW}, x))) /
               greatest(len(wall), 1)) * 4, 1.0) * 0.3 +
        (len(list_distinct(wall)) / greatest(len(wall), 1)) * 0.3, 6) AS quality
  FROM l),
rk AS (SELECT lang, doc_id, quality,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY quality DESC, doc_id) AS INT) AS rank
       FROM m)
SELECT lang, doc_id, quality, rank FROM rk WHERE rank <= 5
"""


def q_entity_link_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity linking where mention popularity is geometric: half of
    all mention surfaces name the hub entity ("Entity 0") — the hot
    dictionary key that melts a shuffle join and is exactly why
    link_entities broadcasts the dictionary. Four turns per doc, each
    asserting one name mention; the oracle enumerates the expected
    links in closed form."""
    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("int").alias("did"))
    turns = d.select(
        "did",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("turn_idx"),
    )
    did, tix = F.col("did"), F.col("turn_idx")
    from .sources.transcripts import EPOCH_2024, zipf_level

    e = zipf_level((did * 31 + tix * 17) % 64)
    s = lambda c: c.cast("string")  # noqa: E731
    text = F.concat(
        F.lit("<urn:m:"), s(did), F.lit("_"), s(tix),
        F.lit('> <urn:p:name> "Entity '), s(e), F.lit('" .\n'),
    )
    t = turns.select(
        F.concat(F.lit("c"), s(did)).alias("conv_id"),
        tix.cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        text.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_seconds(
            F.lit(EPOCH_2024) + did * 3600 + tix * 60
        ).alias("ts"),
        F.lit("ntriples").alias("fmt"),
    )
    st = triples(extract_statements(t))
    return link_entities(st, entity_dictionary(spark, sf_dir)).select(
        "conv_id", "turn_idx", "mention_node", "canonical_iri",
        F.col("score").cast("double").alias("score"),
    )


ORACLES["entity_link_skew"] = f"""
WITH d AS (SELECT CAST(doc_id AS INT) AS did FROM documents),
t AS (SELECT did, CAST(tix AS INT) AS tix
      FROM d CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS tix))
SELECT 'c'||did AS conv_id, tix AS turn_idx,
       'urn:m:'||did||'_'||tix AS mention_node,
       'urn:e:'||({_zipf_sql('(did * 31 + tix * 17) % 64')}) AS canonical_iri,
       1.0 AS score
FROM t
"""


def _structured_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered synthetic embeddings with an exact-duplicate planted
    neighbor set: vector v = one-hot block of its cluster ``v % 8``
    (dims [8c, 8c+8)) plus a jitter ``((v*13 + d*7) % 5) * 0.01`` whose
    pattern repeats with period lcm(5, 8)=40 — so the vectors
    ``v ≡ 42 (mod 40)`` are EXACT copies of query 42's vector and
    everything else differs by ≥ 0.01 somewhere. The exact top-10 of
    query 42 is therefore the 10 smallest-id other copies, in closed
    form, and a correct PQ/IVF-PQ path must recall all of them (15
    distinct patterns per 16-dim subspace < k=16 codewords)."""
    v = F.col("vec_id")
    arr = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda d: F.when(
            F.floor(d / F.lit(8)) == v % 8, F.lit(1.0)
        ).otherwise(F.lit(0.0))
        + ((v * 13 + d * 7) % 5).cast("double") * 0.01,
    )
    return _embeddings(spark, sf_dir).select(
        "vec_id", arr.alias("embedding")
    )


def q_ann_recall_structured(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall gate on CLUSTERED data where retrieval quality is
    decidable: unlike ``ann_recall`` (whose near-uniform corpus makes
    absolute recall noise-dominated by design), the structured corpus
    plants 12 exact duplicates of the query vector, so both the PQ and
    IVF-PQ paths must achieve recall@10 = 1.0 and the oracle asserts
    that constant — a drop below the 0.9 floor also flips the gated
    ``meets_floor`` flag. Same evaluation code and parameters as
    ann_recall."""
    from .operators.clustering import (
        exact_topk_fp, pq_adist, pq_ivf_search, pq_search,
    )

    emb = _structured_embeddings(spark, sf_dir)
    kw = dict(query_id=42, topk=10, m=4, sub=16, k=16, iterations=3)
    shared = pq_adist(
        emb, query_id=42, m=4, sub=16, k=16, iterations=3
    ).localCheckpoint(eager=False)
    truth = (
        exact_topk_fp(emb, query_id=42, topk=10, dims=64)
        .select("neighbor_id")
        .localCheckpoint(eager=False)
    )
    out = []
    for method, df in (
        ("pq", pq_search(emb, adist=shared, **kw)),
        ("ivf_pq", pq_ivf_search(emb, nprobe=4, k_coarse=8,
                                 coarse_iterations=2, adist=shared, **kw)),
    ):
        hits = df.select("neighbor_id").join(truth, "neighbor_id")
        out.append(
            hits.agg(F.count("*").cast("int").alias("hits")).select(
                F.lit(method).alias("method"),
                "hits",
                F.lit(10).alias("k"),
                F.expr("CAST(1000 AS BIGINT) * hits div 10").alias(
                    "recall_pm"
                ),
                F.expr(
                    "CAST(1000 AS BIGINT) * hits div 10 >= 900"
                ).alias("meets_floor"),
            )
        )
    return out[0].union(out[1])


# closed-form assertion, not a replay: the planted-duplicate corpus has
# a decidable answer (the 10 lowest-id exact copies), so the oracle pins
# perfect recall — any quantizer/ranking regression fails the gate
ORACLES["ann_recall_structured"] = """
SELECT 'pq' AS method, CAST(10 AS INT) AS hits, 10 AS k,
       CAST(1000 AS BIGINT) AS recall_pm, TRUE AS meets_floor
UNION ALL
SELECT 'ivf_pq', CAST(10 AS INT), 10, CAST(1000 AS BIGINT), TRUE
"""


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC + control-strip + whitespace-collapse normalization
    (text.normalize_text): each document gets a closed-form dirty
    suffix — a combining acute that NFC composes into é, a BEL control
    that must vanish, an ﬁ ligature NFC must preserve, and doubled
    spaces that collapse — so the oracle replays the exact pass with
    DuckDB's nfc_normalize + RE2 regexes."""
    from .operators.text import normalize_text

    dirty = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.col("text"),
            # explicit combining sequence (e + U+0301): the Python NFC
            # pass must COMPOSE it, not just pass through a precomposed
            F.lit(" e\u0301 \x07 \ufb01  y\t\tz"),
        ).alias("text"),
    )
    return normalize_text(dirty)


ORACLES["text_normalize"] = r"""
WITH dirty AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         text || ' e' || chr(769) || ' ' || chr(7) || ' '
              || chr(64257) || '  y' || chr(9) || chr(9) || 'z' AS text
  FROM documents),
n AS (
  SELECT doc_id, text,
    trim(regexp_replace(
      regexp_replace(nfc_normalize(text), '[\x00-\x08\x0b-\x1f\x7f]',
                     '', 'g'),
      '[ \t]+', ' ', 'g')) AS text_norm
  FROM dirty)
SELECT doc_id, text_norm, text_norm <> text AS changed,
       CAST(length(text) AS INT) AS n_chars_raw,
       CAST(length(text_norm) AS INT) AS n_chars_norm
FROM n
"""


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (curation.domain_cap): synthetic URLs put ~1/7 of
    the corpus on each registered domain (zipf-free but hot enough to
    need the salted two-phase) — keep the quality top-10 per domain,
    the RefinedWeb guard against a crawler-friendly site dominating
    the mix."""
    from .operators.curation import domain_cap

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.lit("https://sub"),
            (F.col("doc_id") % 13).cast("string"),
            F.lit(".site"),
            (F.col("doc_id") % 7).cast("string"),
            F.element_at(
                F.array(F.lit(".com"), F.lit(".org"), F.lit(".net")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ),
            F.lit("/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        "text",
    )
    return domain_cap(docs, k=10)


ORACLES["domain_cap"] = rf"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
        'site' || (doc_id % 7) ||
        CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.org'
                        ELSE '.net' END AS domain,
        string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS w
      FROM documents),
q AS (SELECT doc_id, domain,
  round(least(len(w) / 64.0, 1.0) * 0.4 +
        least((len(list_filter(w, x -> list_contains({_ALL_SW}, x))) /
               greatest(len(w), 1)) * 4, 1.0) * 0.3 +
        (len(list_distinct(w)) / greatest(len(w), 1)) * 0.3, 6) AS quality
  FROM t),
rk AS (SELECT domain, doc_id, quality,
         CAST(ROW_NUMBER() OVER (PARTITION BY domain
                                 ORDER BY quality DESC, doc_id) AS INT) AS rank
       FROM q)
SELECT domain, doc_id, quality, rank FROM rk WHERE rank <= 10
"""


def q_jsonld_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD expansion API (operators/jsonld_api_ops.py): each
    document becomes a deterministic JSON-LD doc exercising terms,
    CURIEs, @id coercion, a @list container, and a native integer; the
    oracle writes the canonical expanded form closed-form. The API's
    semantics are separately property-tested against the vendored
    json-ld-org toRdf corpus (toRdf(expand(doc)) isomorphic to
    toRdf(doc), tests/test_jsonld_api.py)."""
    from .operators.jsonld_api_ops import jsonld_api_transform

    d = F.col("doc_id").cast("long")
    docs = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit('{"@context":{"ex":"urn:ex:","name":"urn:p:name",'
                  '"knows":{"@id":"urn:p:knows","@type":"@id"},'
                  '"rank":"urn:p:rank",'
                  '"tags":{"@id":"urn:p:tag","@container":"@list"}},'
                  '"@id":"urn:e:'),
            d.cast("string"),
            F.lit('","@type":"ex:Doc","name":"Entity '),
            d.cast("string"),
            F.lit('","knows":"urn:e:'),
            (d + 1).cast("string"),
            F.lit('","tags":["a'),
            (d % 3).cast("string"),
            F.lit('","b"],"rank":'),
            (d % 5).cast("string"),
            F.lit("}"),
        ).alias("text"),
    )
    return jsonld_api_transform(docs, "expand")


ORACLES["jsonld_expand"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  '[{"@id":"urn:e:' || doc_id || '","@type":["urn:ex:Doc"],'
  || '"urn:p:knows":[{"@id":"urn:e:' || (doc_id + 1) || '"}],'
  || '"urn:p:name":[{"@value":"Entity ' || doc_id || '"}],'
  || '"urn:p:rank":[{"@value":' || (doc_id % 5) || '}],'
  || '"urn:p:tag":[{"@list":[{"@value":"a' || (doc_id % 3)
  || '"},{"@value":"b"}]}]}]' AS json,
  CAST(1 AS INT) AS n_nodes, CAST(0 AS INT) AS n_errors
FROM documents
"""


def q_jsonld_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD flattening API: a doc with a nested anonymous node and a
    leaf reference flattens to a node map with issuer-assigned _:b0,
    deterministic @id ordering, and reference-only nodes surfaced —
    the closed-form oracle pins the exact canonical JSON."""
    from .operators.jsonld_api_ops import jsonld_api_transform

    d = F.col("doc_id").cast("long")
    docs = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit('{"@context":{"name":"urn:p:name","child":"urn:p:child"},'
                  '"@id":"urn:e:'),
            d.cast("string"),
            F.lit('","name":"Entity '),
            d.cast("string"),
            F.lit('","child":{"name":"Kid '),
            d.cast("string"),
            F.lit('","child":{"@id":"urn:e:'),
            d.cast("string"),
            F.lit('x"}}}'),
        ).alias("text"),
    )
    return jsonld_api_transform(docs, "flatten")


ORACLES["jsonld_flatten"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  '[{"@id":"_:b0","urn:p:child":[{"@id":"urn:e:' || doc_id || 'x"}],'
  || '"urn:p:name":[{"@value":"Kid ' || doc_id || '"}]},'
  || '{"@id":"urn:e:' || doc_id || '","urn:p:child":[{"@id":"_:b0"}],'
  || '"urn:p:name":[{"@value":"Entity ' || doc_id || '"}]},'
  || '{"@id":"urn:e:' || doc_id || 'x"}]' AS json,
  CAST(3 AS INT) AS n_nodes, CAST(0 AS INT) AS n_errors
FROM documents
"""


def q_jsonld_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD compaction API: expanded-form input compacts against an
    application context — term selection for the @id-coerced property,
    CURIE fallback for the uncovered predicate, vocab-style @type
    compaction, singleton-array collapse. Compaction is conservative
    by construction (a term is selected only when re-expansion provably
    reproduces the value) and every chosen key is verified by
    re-expansion, so toRdf is invariant."""
    from .operators.jsonld_api_ops import jsonld_api_transform

    context = {
        "ex": "urn:ex:",
        "name": "urn:p:name",
        "knows": {"@id": "urn:p:knows", "@type": "@id"},
    }
    d = F.col("doc_id").cast("long")
    docs = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit('[{"@id":"urn:e:'),
            d.cast("string"),
            F.lit('","@type":["urn:ex:Doc"],"urn:p:name":[{"@value":"Entity '),
            d.cast("string"),
            F.lit('"}],"urn:p:knows":[{"@id":"urn:e:'),
            (d + 1).cast("string"),
            F.lit('"}],"urn:ex:extra":[{"@value":7}]}]'),
        ).alias("text"),
    )
    return jsonld_api_transform(docs, "compact", context=context)


ORACLES["jsonld_compact"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  '{"@context":{"ex":"urn:ex:","knows":{"@id":"urn:p:knows","@type":"@id"},'
  || '"name":"urn:p:name"},"@id":"urn:e:' || doc_id
  || '","@type":"ex:Doc","ex:extra":7,"knows":"urn:e:' || (doc_id + 1)
  || '","name":"Entity ' || doc_id || '"}' AS json,
  CAST(1 AS INT) AS n_nodes, CAST(0 AS INT) AS n_errors
FROM documents
"""


def q_kg_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located join over the bucketed edge layout
    (operators/bucketing.py): the extracted KG edges are persisted
    bucketed+sorted by src, then the knows×relation per-subject
    self-join runs over the bucketing-aware scans — exchange-free on
    both sides (plan-asserted in tests/test_pipeline.py::
    test_bucketed_join_is_shuffle_free; this gate pins the VALUES so
    the layout path stays correct, not just shuffle-free)."""
    import tempfile
    import uuid

    from .operators.bucketing import read_bucketed, write_bucketed

    edges = _kg_edges(spark, sf_dir)
    tag = uuid.uuid4().hex[:8]
    base = tempfile.mkdtemp(prefix="semargl_q_bj_")
    write_bucketed(edges, f"q_bj_{tag}", f"{base}/edges", key="src", buckets=16)
    b = read_bucketed(spark, f"q_bj_{tag}")
    knows = b.filter(F.col("pred") == "urn:p:knows").select("src", "dst")
    rel = b.filter(
        F.col("pred") == "http://purl.org/dc/terms/relation"
    ).select("src", F.col("dst").alias("rel_dst"))
    return knows.join(rel.hint("merge"), "src").select("src", "dst", "rel_dst")


ORACLES["kg_bucketed_join"] = """
WITH ids AS (SELECT CAST(doc_id AS INT) AS did FROM documents)
SELECT 'urn:e:'||did AS src, 'urn:e:'||(did+1) AS dst,
       'urn:e:'||(did+1) AS rel_dst
FROM ids WHERE did % 5 <> 4
"""


def q_jsonld_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-LD framing API: each document carries a two-node graph
    (a typed Book referencing its Author); framing by @type embeds the
    author at its use site and compacts under the frame's context —
    the closed-form oracle pins the exact reshaped JSON. Framing
    fidelity is separately property-tested (trivial frame ≡ toRdf,
    tests/test_jsonld_api.py)."""
    from .operators.jsonld_api_ops import jsonld_api_transform

    frame_doc = {
        "@context": {
            "name": "urn:p:name",
            "author": {"@id": "urn:p:author", "@type": "@id"},
        },
        "@type": "urn:t:Book",
    }
    d = F.col("doc_id").cast("long")
    docs = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit('{"@context":{"name":"urn:p:name",'
                  '"author":{"@id":"urn:p:author","@type":"@id"},'
                  '"Book":"urn:t:Book"},"@graph":['
                  '{"@id":"urn:b:'),
            d.cast("string"),
            F.lit('","@type":"Book","name":"Book '),
            d.cast("string"),
            F.lit('","author":"urn:a:'),
            d.cast("string"),
            F.lit('"},{"@id":"urn:a:'),
            d.cast("string"),
            F.lit('","name":"Author '),
            d.cast("string"),
            F.lit('"}]}'),
        ).alias("text"),
    )
    return jsonld_api_transform(docs, "frame", context=frame_doc)


ORACLES["jsonld_frame"] = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
  '{"@context":{"author":{"@id":"urn:p:author","@type":"@id"},'
  || '"name":"urn:p:name"},"@id":"urn:b:' || doc_id
  || '","@type":"urn:t:Book","author":{"@id":"urn:a:' || doc_id
  || '","name":"Author ' || doc_id || '"},"name":"Book ' || doc_id
  || '"}' AS json,
  CAST(1 AS INT) AS n_nodes, CAST(0 AS INT) AS n_errors
FROM documents
"""


_LS_EN = "the cat and the dog went to the house in the morning"
_LS_DE = "der hund und die katze gehen nicht in das haus"
_LS_FR = "le chien et le chat vont dans la maison ce matin"


def q_lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual-document segmentation (text.lang_segments): each
    document carries six lines in language pairs cycling en/de/fr with
    a per-document phase, so runs of length 2 must survive the RLE and
    boundaries must land exactly; the oracle replays the trigram
    scoring AND the gaps-and-islands collapse."""
    from .operators.text import lang_segments

    line = ", ".join(
        f"element_at(array('{_LS_EN}', '{_LS_DE}', '{_LS_FR}'), "
        f"cast((doc_id + {i}) div 2 % 3 + 1 as int))"
        for i in range(6)
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.expr(f"concat_ws('\\n', {line})").alias("text"),
    )
    return lang_segments(docs)


def _lang_segments_oracle() -> str:
    from .operators.text import _TRIGRAM_PROFILES

    langs = list(_TRIGRAM_PROFILES)

    def lst(lang):
        inner = ", ".join(
            "'" + g.replace("'", "''") + "'" for g in _TRIGRAM_PROFILES[lang]
        )
        return f"[{inner}]"

    score_exprs = ", ".join(
        f"len(list_filter(tris, x -> list_contains({lst(lang)}, x)))"
        for lang in langs
    )
    lang_list = "[" + ", ".join(f"'{lang}'" for lang in langs) + "]"
    return rf"""
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
lines AS (SELECT doc_id, i,
       CASE ((doc_id + i) // 2) % 3 WHEN 0 THEN '{_LS_EN}'
            WHEN 1 THEN '{_LS_DE}' ELSE '{_LS_FR}' END AS line
       FROM ids CROSS JOIN (SELECT unnest(generate_series(0,5)) AS i)),
g AS (SELECT doc_id, i,
       ' '||regexp_replace(lower(trim(line)), '\s+', ' ', 'g')||' ' AS pt
       FROM lines),
tr AS (SELECT doc_id, i,
       list_transform(range(1, greatest(length(pt)-2, 1)+1),
                      x -> substr(pt, CAST(x AS INT), 3)) AS tris FROM g),
s AS (SELECT doc_id, i, [{score_exprs}] AS scores FROM tr),
p AS (SELECT doc_id, i AS seg_idx,
       CASE WHEN list_max(scores) = 0 THEN 'und'
            ELSE {lang_list}[list_position(scores, list_max(scores))]
       END AS lang FROM s),
x AS (SELECT doc_id, seg_idx, lang,
       CASE WHEN LAG(lang) OVER (PARTITION BY doc_id ORDER BY seg_idx)
                 IS DISTINCT FROM lang THEN 1 ELSE 0 END AS chg FROM p),
r AS (SELECT doc_id, seg_idx, lang,
       SUM(chg) OVER (PARTITION BY doc_id ORDER BY seg_idx) AS grp FROM x)
SELECT doc_id, CAST(grp - 1 AS INT) AS run_idx, lang,
       CAST(MIN(seg_idx) AS INT) AS seg_start,
       CAST(MAX(seg_idx) AS INT) AS seg_end,
       CAST(COUNT(*) AS INT) AS n_segs
FROM r GROUP BY doc_id, grp, lang
"""


ORACLES["lang_segments"] = _lang_segments_oracle()


def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction (text.html_main_blocks): each document
    is wrapped in a crawl-page shape — link-dense nav header, the
    document's prose as the body paragraph, link-dense footer — and the
    oracle replays the full block split / tag strip / entity unescape /
    anchor-density chain, pinning both the verdicts and the normalized
    block texts."""
    from .operators.text import html_main_blocks

    d = F.col("doc_id").cast("long")
    docs = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit('<div><a href="/a">Home</a> <a href="/b">About</a> '
                  '<a href="/c">Contact</a></div><p>'),
            F.col("text"),
            F.lit(" tail "),
            d.cast("string"),
            F.lit('</p><div>&copy; 2026 <a href="/d">Site</a></div>'),
        ).alias("text"),
    )
    return html_main_blocks(docs)


def _html_main_oracle() -> str:
    norm = (
        "trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace("
        "regexp_replace({src}, '<[^>]+>', ' ', 'g'),"
        "'&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '\"'),"
        "'&#39;', chr(39)), '&amp;', '&'),"
        r"'\s+', ' ', 'g'))"
    )
    return rf"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        '<div><a href="/a">Home</a> <a href="/b">About</a> '
        || '<a href="/c">Contact</a></div><p>' || text || ' tail '
        || doc_id || '</p><div>&copy; 2026 <a href="/d">Site</a></div>'
          AS html FROM documents),
parts AS (SELECT doc_id,
        string_split_regex(html,
          '(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|section|article|header|footer|nav|blockquote)[^>]*>')
          AS ps FROM t),
idx AS (SELECT doc_id, unnest(range(1, len(ps)+1)) AS i, ps FROM parts),
b AS (SELECT doc_id, CAST(i - 1 AS INT) AS block_idx, ps[CAST(i AS INT)] AS raw
      FROM idx),
n AS (SELECT doc_id, block_idx,
        {norm.format(src='raw')} AS block_text,
        COALESCE(list_sum(list_transform(
          regexp_extract_all(raw, '(?is)<a[^>]*>(.*?)</a>', 1),
          x -> length({norm.format(src='x')}))), 0) AS link_len
      FROM b)
SELECT doc_id, block_idx, block_text,
       CAST(length(block_text) AS INT) AS text_len,
       CAST(1000 * link_len // greatest(length(block_text), 1) AS BIGINT)
         AS link_pm,
       length(block_text) >= 25
         AND 1000 * link_len // greatest(length(block_text), 1) <= 330
         AS kept
FROM n WHERE length(block_text) > 0
"""


ORACLES["html_main_content"] = _html_main_oracle()


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (curation.url_canonicalize): uppercase
    scheme/host, default port, trailing slash, fragment, tracking
    params and unsorted query params all collapse to one spelling; a
    quarter of the rows are scheme-less strings that must pass through
    unchanged. Closed-form expected values."""
    from .operators.curation import url_canonicalize

    d = F.col("doc_id").cast("long")
    docs = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.when(
            d % 4 == 0, F.concat(F.lit("doc-"), d.cast("string"))
        ).otherwise(
            F.concat(
                F.lit("HTTPS://Sub"),
                (d % 5).cast("string"),
                F.lit(".Example.COM:443/p/"),
                d.cast("string"),
                F.lit("/?utm_campaign=c&z="),
                d.cast("string"),
                F.lit("&a=1#s"),
            )
        ).alias("url"),
    )
    return url_canonicalize(docs)


ORACLES["url_canonicalize"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents)
SELECT doc_id, 'doc-'||doc_id AS url, 'doc-'||doc_id AS url_canon,
       '' AS host, FALSE AS is_valid, FALSE AS changed
FROM ids WHERE doc_id % 4 = 0
UNION ALL
SELECT doc_id,
       'HTTPS://Sub'||(doc_id%5)||'.Example.COM:443/p/'||doc_id
         ||'/?utm_campaign=c&z='||doc_id||'&a=1#s',
       'https://sub'||(doc_id%5)||'.example.com/p/'||doc_id
         ||'?a=1&z='||doc_id,
       'sub'||(doc_id%5)||'.example.com', TRUE, TRUE
FROM ids WHERE doc_id % 4 <> 0
"""


def q_pipeline_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl curation: URL canonicalization → HTML
    main-content extraction → canonical-URL dedup (keep lowest doc_id).
    Documents arrive in pairs sharing one page under two URL spellings
    (tracker params + uppercase host on the odd twin), wrapped in
    link-dense nav/footer boilerplate; the pipeline must collapse each
    pair to one clean prose row. Composes url_canonicalize,
    html_main_blocks and a two-column window dedup — the crawl
    front-end that feeds every downstream quality/dedup family."""
    from pyspark.sql.window import Window

    from .operators.curation import url_canonicalize
    from .operators.text import html_main_blocks

    d = F.col("doc_id").cast("long")
    grp = (d / 2).cast("long")
    docs = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.when(
            d % 2 == 0,
            F.concat(F.lit("https://site.example/p/"), grp.cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("HTTPS://Site.Example/p/"),
                grp.cast("string"),
                F.lit("?utm_source=twin"),
            )
        )
        .alias("url"),
        F.concat(
            F.lit('<div><a href="/a">Home</a> <a href="/b">About</a> '
                  '<a href="/c">More</a></div><p>'
                  "Body prose long enough to keep for group "),
            grp.cast("string"),
            F.lit('.</p><div>&copy; <a href="/d">Site</a></div>'),
        ).alias("html"),
    )
    canon = url_canonicalize(docs, url_col="url").select("doc_id", "url_canon")
    clean = (
        html_main_blocks(docs, text_col="html")
        .filter(F.col("kept"))
        .groupBy("doc_id")
        .agg(F.min("block_text").alias("clean_text"))
    )
    joined = canon.join(clean, "doc_id")
    w = Window.partitionBy("url_canon").orderBy("doc_id")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "url_canon", "clean_text")
    )


ORACLES["pipeline_crawl"] = """
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       'https://site.example/p/'||(d.doc_id//2) AS url_canon,
       'Body prose long enough to keep for group '||(d.doc_id//2)||'.'
         AS clean_text
FROM documents d
WHERE d.doc_id = (SELECT min(x.doc_id) FROM documents x
                  WHERE x.doc_id // 2 = d.doc_id // 2)
"""


def q_wet_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET record splitting (sources/wet_records.py): each document
    becomes a two-record WET concatenation with a preamble to drop, a
    CRLF-framed second record, and a multi-line payload. The FIRST
    record's payload quotes a bare ``WARC/1.0`` line followed by prose
    (a page about web archiving) — the boundary regex must not split
    there, or a bogus NULL-header record appears; the oracle writes the
    lifted header fields and payloads closed-form."""
    from .sources.wet_records import split_wet_records

    d = F.col("doc_id").cast("long")
    nl = F.lit("\n")
    files = _docs(spark, sf_dir).select(
        d.alias("file_id"),
        F.concat(
            F.lit("warcinfo preamble"), nl,
            F.lit("WARC/1.0"), nl,
            F.lit("WARC-Type: conversion"), nl,
            F.lit("WARC-Target-URI: https://w.example/p/"),
            d.cast("string"), nl,
            F.lit("WARC-Date: 2026-01-01T00:00:00Z"), nl,
            F.lit("Content-Length: 20"), nl, nl,
            F.lit("alpha "), d.cast("string"), nl,
            F.lit("WARC/1.0"), nl,
            F.lit("quoted in prose, not a record"), nl, nl,
            F.lit("WARC/1.0\r\nWARC-Type: conversion\r\n"
                  "WARC-Target-URI: https://w.example/q/"),
            d.cast("string"),
            F.lit("\r\n\r\nbeta "), d.cast("string"), nl,
            F.lit("more "), d.cast("string"), nl,
        ).alias("content"),
    )
    return split_wet_records(files)


ORACLES["wet_split"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS file_id FROM documents)
SELECT file_id, CAST(0 AS INT) AS record_idx,
       'conversion' AS warc_type,
       'https://w.example/p/'||file_id AS target_uri,
       '2026-01-01T00:00:00Z' AS warc_date,
       CAST(20 AS BIGINT) AS content_length,
       'alpha '||file_id||chr(10)||'WARC/1.0'||chr(10)
         ||'quoted in prose, not a record' AS text
FROM ids
UNION ALL
SELECT file_id, CAST(1 AS INT), 'conversion',
       'https://w.example/q/'||file_id, CAST(NULL AS VARCHAR),
       CAST(NULL AS BIGINT), 'beta '||file_id||chr(10)||'more '||file_id
FROM ids
"""


def q_warc_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw WARC/1.x record splitting (sources/warc_records.py): each
    document becomes a preamble + a response record (HTTP payload whose
    HTML body quotes a bare ``WARC/1.0`` framing line — Content-Length
    is authoritative, so the quote must NOT tear the record) + a
    non-HTTP metadata record; the oracle rebuilds the lifted headers,
    status, and entity bodies closed-form."""
    from .sources.warc_records import split_warc_records

    d = F.col("doc_id").cast("long")
    ds = d.cast("string")
    body = F.concat(
        F.lit("<html><body>Prose for "), ds,
        F.lit(".\nWARC/1.0\nquoted in body, kept whole</body></html>"),
    )
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
        body,
    )
    meta = F.concat(F.lit("crawl metadata for "), ds)
    files = _docs(spark, sf_dir).select(
        d.alias("file_id"),
        F.concat(
            F.lit("junk preamble\n"),
            F.lit("WARC/1.0\r\nWARC-Type: response\r\n"),
            F.lit("WARC-Record-ID: <urn:uuid:r"), ds, F.lit(">\r\n"),
            F.lit("WARC-Target-URI: https://wc.example/p/"), ds, F.lit("\r\n"),
            F.lit("WARC-Date: 2026-01-01T00:00:00Z\r\n"),
            F.lit("Content-Length: "), F.octet_length(payload).cast("string"),
            F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"),
            F.lit("WARC/1.0\r\nWARC-Type: metadata\r\n"),
            F.lit("WARC-Target-URI: https://wc.example/m/"), ds, F.lit("\r\n"),
            F.lit("Content-Length: "), F.octet_length(meta).cast("string"),
            F.lit("\r\n\r\n"), meta, F.lit("\r\n\r\n"),
        ).alias("content"),
    )
    return split_warc_records(files)


ORACLES["warc_split"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS file_id FROM documents),
b AS (SELECT file_id,
        '<html><body>Prose for '||file_id||'.'||chr(10)||'WARC/1.0'
          ||chr(10)||'quoted in body, kept whole</body></html>' AS body
      FROM ids)
SELECT file_id, CAST(0 AS INT) AS record_idx,
       'response' AS warc_type,
       'urn:uuid:r'||file_id AS record_id,
       'https://wc.example/p/'||file_id AS target_uri,
       '2026-01-01T00:00:00Z' AS warc_date,
       CAST(strlen('HTTP/1.1 200 OK'||chr(13)||chr(10)
         ||'Content-Type: text/html; charset=utf-8'||chr(13)||chr(10)
         ||chr(13)||chr(10)||body) AS BIGINT) AS content_length,
       CAST(200 AS INT) AS http_status,
       'text/html; charset=utf-8' AS http_content_type,
       body
FROM b
UNION ALL
SELECT file_id, CAST(1 AS INT), 'metadata', CAST(NULL AS VARCHAR),
       'https://wc.example/m/'||file_id, CAST(NULL AS VARCHAR),
       CAST(strlen('crawl metadata for '||file_id) AS BIGINT),
       CAST(NULL AS INT), CAST(NULL AS VARCHAR),
       'crawl metadata for '||file_id
FROM ids
"""


def q_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlink extraction (curation.html_links): each page carries a
    relative link, a parent-relative link, an absolute external link,
    a mailto (dropped to NULL), and a fragment-stripped root-relative
    link; resolution runs through the E1 IRI kernel, oracle
    closed-form."""
    from .operators.curation import html_links

    d = F.col("doc_id").cast("long")
    ds = d.cast("string")
    pages = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit("https://s"), (d % 3).cast("string"),
            F.lit(".example/dir/page"), ds, F.lit(".html"),
        ).alias("url"),
        F.concat(
            F.lit('<a href="p/'), ds, F.lit('.html">a</a>'),
            F.lit("<A HREF='../up/"), ds, F.lit("'>b</A>"),
            F.lit('<a class="x" href=https://ext.example/e'), ds,
            F.lit('>c</a>'),
            F.lit('<a href="mailto:u'), ds, F.lit('@x.example">d</a>'),
            F.lit('<a href="/root'), ds, F.lit('#frag">e</a>'),
        ).alias("html"),
    )
    return html_links(pages)


ORACLES["html_links"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
                    'https://s'||(doc_id%3)||'.example' AS origin
             FROM documents)
SELECT doc_id, CAST(0 AS INT) AS link_idx,
       'p/'||doc_id||'.html' AS href,
       origin||'/dir/p/'||doc_id||'.html' AS url_abs, FALSE AS is_external
FROM ids
UNION ALL
SELECT doc_id, CAST(1 AS INT), '../up/'||doc_id,
       origin||'/up/'||doc_id, FALSE FROM ids
UNION ALL
SELECT doc_id, CAST(2 AS INT), 'https://ext.example/e'||doc_id,
       'https://ext.example/e'||doc_id, TRUE FROM ids
UNION ALL
SELECT doc_id, CAST(3 AS INT), 'mailto:u'||doc_id||'@x.example',
       CAST(NULL AS VARCHAR), CAST(NULL AS BOOLEAN) FROM ids
UNION ALL
SELECT doc_id, CAST(4 AS INT), '/root'||doc_id,
       origin||'/root'||doc_id, FALSE FROM ids
"""


def q_pipeline_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier discovery composition: pages → html_links →
    internal-only filter → url_canonicalize → dedup against the
    already-fetched set (left-anti) → new frontier URLs. Page pairs
    link to one shared target under two spellings (tracker params on
    the odd twin) plus their own already-fetched self-URL, so the
    frontier must contain exactly one row per shared target."""
    from pyspark.sql.window import Window

    from .operators.curation import html_links, url_canonicalize

    d = F.col("doc_id").cast("long")
    grp = (d / 2).cast("long")
    page_url = F.concat(
        F.lit("https://site.example/p/"), d.cast("string")
    )
    link = F.when(
        d % 2 == 0,
        F.concat(F.lit("/t/"), grp.cast("string")),
    ).otherwise(
        F.concat(F.lit("/t/"), grp.cast("string"),
                 F.lit("?utm_source=twin")),
    )
    pages = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        page_url.alias("url"),
        F.concat(
            F.lit('<a href="'), link, F.lit('">t</a>'),
            F.lit('<a href="'), page_url, F.lit('">self</a>'),
        ).alias("html"),
    )
    fetched = url_canonicalize(
        pages.select("doc_id", "url"), url_col="url"
    ).select(F.col("url_canon").alias("seen"))
    links = (
        html_links(pages)
        .filter(F.col("is_external") == False)  # noqa: E712
        .select("doc_id", F.col("url_abs").alias("url"))
    )
    canon = url_canonicalize(links, url_col="url").select(
        "doc_id", "url_canon"
    )
    fresh = canon.join(
        fetched, canon["url_canon"] == fetched["seen"], "left_anti"
    )
    w = Window.partitionBy("url_canon").orderBy("doc_id")
    return (
        fresh.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("doc_id").alias("found_by"), "url_canon")
    )


ORACLES["pipeline_discovery"] = """
SELECT CAST(d.doc_id AS BIGINT) AS found_by,
       'https://site.example/t/'||(d.doc_id//2) AS url_canon
FROM documents d
WHERE d.doc_id = (SELECT min(x.doc_id) FROM documents x
                  WHERE x.doc_id // 2 = d.doc_id // 2)
"""


def q_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (text.sentence_split): four-sentence
    documents exercising the title ("Dr. Who") and clock ("5 p.m.")
    abbreviation guards plus !/? terminators; closed-form oracle."""
    from .operators.text import sentence_split

    d = F.col("doc_id").cast("long")
    docs = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit("First point for "), d.cast("string"),
            F.lit(". Dr. Who waits! Is it 5 p.m. yet? Sure."),
        ).alias("text"),
    )
    return sentence_split(docs)


ORACLES["sentence_split"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
s AS (
  SELECT doc_id, 0 AS sent_idx,
         'First point for '||doc_id||'.' AS sentence FROM ids
  UNION ALL SELECT doc_id, 1, 'Dr. Who waits!' FROM ids
  UNION ALL SELECT doc_id, 2, 'Is it 5 p.m. yet?' FROM ids
  UNION ALL SELECT doc_id, 3, 'Sure.' FROM ids)
SELECT doc_id, CAST(sent_idx AS INT) AS sent_idx, sentence,
       CAST(strlen(sentence) AS INT) AS n_chars,
       CAST(len(string_split_regex(sentence, '\\s+')) AS INT) AS n_words
FROM s
"""


def q_html_page_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page metadata lift (curation.html_page_meta): documents cycle
    through name-first / content-first description order, present /
    absent canonical links and og:title; closed-form oracle."""
    from .operators.curation import html_page_meta

    d = F.col("doc_id").cast("long")
    ds = d.cast("string")
    v = d % 3
    desc = (
        F.when(v == 1, F.concat(
            F.lit('<meta content="Desc for '), ds,
            F.lit('" name=description>')))
        .when(v == 2, F.concat(
            F.lit('<meta name="description" content="Desc for '), ds,
            F.lit('">')))
        .otherwise(F.lit(""))
    )
    canon = F.when(v != 0, F.concat(
        F.lit('<link rel="canonical" href="https://c.example/p/'),
        (d / 2).cast("long").cast("string"), F.lit('">')))
    og = F.when(v == 2, F.concat(
        F.lit('<meta property="og:title" content="OG '), ds,
        F.lit('">')))
    pages = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit('<html lang="en-US"><head><title> Page '), ds,
            F.lit(" </title>"), desc,
            F.coalesce(canon, F.lit("")), F.coalesce(og, F.lit("")),
            F.lit("</head><body>x</body></html>"),
        ).alias("html"),
    )
    return html_page_meta(pages)


ORACLES["html_page_meta"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 3 AS v
             FROM documents)
SELECT doc_id,
  'Page '||doc_id AS title,
  CASE WHEN v IN (1, 2) THEN 'Desc for '||doc_id END AS description,
  CASE WHEN v <> 0
       THEN 'https://c.example/p/'||(doc_id//2) END AS canonical_url,
  'en-US' AS page_lang,
  CASE WHEN v = 2 THEN 'OG '||doc_id END AS og_title
FROM ids
"""


def q_robots_directives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-level robots directives (curation.robots_directives):
    documents cycle through no-meta / name-first / content-first /
    NONE-shorthand meta tags, an X-Robots-Tag header variant, MULTIPLE
    meta tags (directives union per the Robots Meta spec), and an
    unquoted content value; the oracle writes token unions and keep
    decisions closed-form."""
    from .operators.curation import robots_directives

    d = F.col("doc_id").cast("long")
    v = d % 7
    html = (
        F.when(v == 1, F.lit(
            '<html><head><meta name="robots" content="noindex, follow">'
            "</head><body>x</body></html>"))
        .when(v == 2, F.lit(
            '<html><head><meta content="nofollow,noarchive" '
            'name="robots"></head><body>x</body></html>'))
        .when(v == 3, F.lit(
            "<html><head><META NAME=robots CONTENT=\"NONE\"></head>"
            "<body>x</body></html>"))
        .when(v == 5, F.lit(
            '<html><head><meta name="robots" content="noindex">'
            '<meta name="robots" content="nofollow"></head>'
            "<body>x</body></html>"))
        .when(v == 6, F.lit(
            "<html><head><meta name=robots content=noindex,noarchive>"
            "</head><body>x</body></html>"))
        .otherwise(F.lit("<html><body>plain page</body></html>"))
    )
    hdr = F.when(v == 4, F.lit("noarchive, noindex"))
    pages = _docs(spark, sf_dir).select(
        d.alias("doc_id"), html.alias("html"), hdr.alias("xrobots")
    )
    out = robots_directives(pages, header_col="xrobots")
    return out.select(
        "doc_id",
        F.array_join("directives", ",").alias("directives_csv"),
        "noindex", "nofollow", "noarchive", "keep_index",
    )


ORACLES["robots_directives"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id, doc_id % 7 AS v
             FROM documents)
SELECT doc_id,
  CASE v WHEN 1 THEN 'follow,noindex'
         WHEN 2 THEN 'noarchive,nofollow'
         WHEN 3 THEN 'none'
         WHEN 4 THEN 'noarchive,noindex'
         WHEN 5 THEN 'nofollow,noindex'
         WHEN 6 THEN 'noarchive,noindex'
         ELSE '' END AS directives_csv,
  v IN (1, 3, 4, 5, 6) AS noindex,
  v IN (2, 3, 5) AS nofollow,
  v IN (2, 4, 6) AS noarchive,
  v NOT IN (1, 3, 4, 5, 6) AS keep_index
FROM ids
"""


def q_warc_gz_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gzipped WARC ingestion (.warc.gz member-per-record, the actual
    Common Crawl layout): the fixture gzips each WARC record as its own
    member (zlib gzip wrapper — mtime 0, deterministic), and
    split_warc_records sniffs the magic and inflates in-kernel before
    framing. Same logical records as warc_split minus the preamble, so
    the oracle is shared closed-form SQL."""
    import pyarrow as pa

    def run(batches):
        import zlib

        def gz(b: bytes) -> bytes:
            c = zlib.compressobj(9, zlib.DEFLATED, 31)
            return c.compress(b) + c.flush()

        for rb in batches:
            ids, blobs = [], []
            for did in rb.column(0).to_pylist():
                body = (
                    f"<html><body>Prose for {did}.\nWARC/1.0\n"
                    "quoted in body, kept whole</body></html>"
                )
                payload = (
                    "HTTP/1.1 200 OK\r\n"
                    "Content-Type: text/html; charset=utf-8\r\n\r\n" + body
                ).encode()
                rec1 = (
                    b"WARC/1.0\r\nWARC-Type: response\r\n"
                    + f"WARC-Record-ID: <urn:uuid:r{did}>\r\n".encode()
                    + f"WARC-Target-URI: https://wc.example/p/{did}\r\n".encode()
                    + b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
                    + f"Content-Length: {len(payload)}\r\n\r\n".encode()
                    + payload + b"\r\n\r\n"
                )
                meta = f"crawl metadata for {did}".encode()
                rec2 = (
                    b"WARC/1.0\r\nWARC-Type: metadata\r\n"
                    + f"WARC-Target-URI: https://wc.example/m/{did}\r\n".encode()
                    + f"Content-Length: {len(meta)}\r\n\r\n".encode()
                    + meta + b"\r\n\r\n"
                )
                ids.append(did)
                blobs.append(gz(rec1) + gz(rec2))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(blobs, pa.binary())],
                names=["file_id", "content"],
            )

    from .sources.warc_records import split_warc_records

    files = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long"))
        .mapInArrow(run, "file_id bigint, content binary")
    )
    return split_warc_records(files)


ORACLES["warc_gz_split"] = ORACLES["warc_split"]


def q_warc_split_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-indexed WARC ingestion at production archive shape
    (sources.warc_records.split_warc_records_indexed): the warc_split
    corpus is packed into 8 on-disk ``.warc.gz`` archives (one gzip
    member per record, the Common Crawl layout, thousands of records
    per archive), the reader builds a member offset index, fans member
    ranges across tasks (64 KiB chunks here so even gate-scale archives
    split), and streams chunked output batches. Rows re-key to
    (file_id from the target URI, within-document record_idx) so the
    warc_split closed form grades equality — proving the fanned-out
    path emits exactly the records whole-file framing emits."""
    import os
    import tempfile
    import zlib

    from .sources.warc_records import split_warc_records_indexed

    ids = [
        r[0]
        for r in _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long"))
        .orderBy("doc_id")
        .collect()
    ]
    base = tempfile.mkdtemp(prefix="semargl_warc_off_")

    def gz(b: bytes) -> bytes:
        c = zlib.compressobj(9, zlib.DEFLATED, 31)
        return c.compress(b) + c.flush()

    n_arch = 8
    handles = [
        open(os.path.join(base, f"part{k}.warc.gz"), "wb")
        for k in range(n_arch)
    ]
    try:
        for did in ids:
            body = (
                f"<html><body>Prose for {did}.\nWARC/1.0\n"
                "quoted in body, kept whole</body></html>"
            )
            payload = (
                "HTTP/1.1 200 OK\r\n"
                "Content-Type: text/html; charset=utf-8\r\n\r\n" + body
            ).encode()
            rec1 = (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Record-ID: <urn:uuid:r{did}>\r\n".encode()
                + f"WARC-Target-URI: https://wc.example/p/{did}\r\n".encode()
                + b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
                + f"Content-Length: {len(payload)}\r\n\r\n".encode()
                + payload + b"\r\n\r\n"
            )
            meta = f"crawl metadata for {did}".encode()
            rec2 = (
                b"WARC/1.0\r\nWARC-Type: metadata\r\n"
                + f"WARC-Target-URI: https://wc.example/m/{did}\r\n".encode()
                + f"Content-Length: {len(meta)}\r\n\r\n".encode()
                + meta + b"\r\n\r\n"
            )
            h = handles[did % n_arch]
            h.write(gz(rec1))
            h.write(gz(rec2))
    finally:
        for h in handles:
            h.close()
    paths = spark.createDataFrame(
        [(os.path.join(base, f"part{k}.warc.gz"),) for k in range(n_arch)],
        "path string",
    )
    out = split_warc_records_indexed(paths, target_chunk_bytes=1 << 16)
    did = F.regexp_extract("target_uri", r"/(\d+)$", 1).cast("long")
    return out.select(
        did.alias("file_id"),
        F.when(F.col("warc_type") == "response", F.lit(0))
        .otherwise(F.lit(1))
        .cast("int")
        .alias("record_idx"),
        "warc_type", "record_id", "target_uri", "warc_date",
        "content_length", "http_status", "http_content_type", "body",
    )


ORACLES["warc_split_offsets"] = ORACLES["warc_split"]


def q_warc_charset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-aware WARC body decoding: per document one ISO-8859-1
    record and one windows-1252 record (é and the cp1252 em-dash, bytes
    that mojibake or vanish under a blind utf-8 pass); the oracle
    writes the correctly decoded text closed-form."""
    import pyarrow as pa

    def run(batches):
        def rec(uri: str, ct: str, body: bytes) -> bytes:
            payload = (
                f"HTTP/1.1 200 OK\r\nContent-Type: {ct}\r\n\r\n"
            ).encode() + body
            return (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Target-URI: {uri}\r\n".encode()
                + f"Content-Length: {len(payload)}\r\n\r\n".encode()
                + payload + b"\r\n\r\n"
            )

        for rb in batches:
            ids, blobs = [], []
            for did in rb.column(0).to_pylist():
                lat = f"café page {did}".encode("latin-1")
                cp = f"dash — quote {did}".encode("cp1252")
                ids.append(did)
                blobs.append(
                    rec(f"https://cs.example/l/{did}",
                        "text/html; charset=ISO-8859-1", lat)
                    + rec(f"https://cs.example/w/{did}",
                          'text/html; charset="windows-1252"', cp)
                )
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(blobs, pa.binary())],
                names=["file_id", "content"],
            )

    from .sources.warc_records import split_warc_records

    files = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long"))
        .mapInArrow(run, "file_id bigint, content binary")
    )
    return split_warc_records(files).select(
        "file_id", "record_idx", "target_uri", "body"
    )


ORACLES["warc_charset"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS file_id FROM documents)
SELECT file_id, CAST(0 AS INT) AS record_idx,
       'https://cs.example/l/'||file_id AS target_uri,
       'café page '||file_id AS body
FROM ids
UNION ALL
SELECT file_id, CAST(1 AS INT),
       'https://cs.example/w/'||file_id,
       'dash — quote '||file_id
FROM ids
"""


def q_pipeline_warc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl curation from RAW WARC bytes: record framing →
    HTTP 200 text/html filter → URL canonicalization of the target URI
    → HTML main-content extraction → canonical-URL dedup (keep lowest
    id). File pairs serve one page under two URL spellings (tracker
    params + uppercase host on the odd twin); the composition proves
    the WARC front door feeds the same chain pipeline_crawl runs from
    pre-split pages."""
    from pyspark.sql.window import Window

    from .operators.curation import url_canonicalize
    from .operators.text import html_main_blocks
    from .sources.warc_records import split_warc_records

    d = F.col("doc_id").cast("long")
    grp = (d / 2).cast("long")
    uri = F.when(
        d % 2 == 0,
        F.concat(F.lit("https://site.example/p/"), grp.cast("string")),
    ).otherwise(
        F.concat(
            F.lit("HTTPS://Site.Example/p/"),
            grp.cast("string"),
            F.lit("?utm_source=twin"),
        )
    )
    html = F.concat(
        F.lit('<div><a href="/a">Home</a> <a href="/b">About</a> '
              '<a href="/c">More</a></div><p>'
              "Body prose long enough to keep for group "),
        grp.cast("string"),
        F.lit('.</p><div>&copy; <a href="/d">Site</a></div>'),
    )
    payload = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), html
    )
    files = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
            uri,
            F.lit("\r\nContent-Length: "),
            F.octet_length(payload).cast("string"),
            F.lit("\r\n\r\n"), payload, F.lit("\r\n\r\n"),
        ).alias("content"),
    )
    pages = (
        split_warc_records(files, id_col="doc_id")
        .filter(
            (F.col("http_status") == 200)
            & F.col("http_content_type").startswith("text/html")
        )
        .select("doc_id", F.col("target_uri").alias("url"),
                F.col("body").alias("html"))
    )
    canon = url_canonicalize(pages, url_col="url").select("doc_id", "url_canon")
    clean = (
        html_main_blocks(pages, text_col="html")
        .filter(F.col("kept"))
        .groupBy("doc_id")
        .agg(F.min("block_text").alias("clean_text"))
    )
    joined = canon.join(clean, "doc_id")
    w = Window.partitionBy("url_canon").orderBy("doc_id")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "url_canon", "clean_text")
    )


ORACLES["pipeline_warc"] = """
SELECT CAST(d.doc_id AS BIGINT) AS doc_id,
       'https://site.example/p/'||(d.doc_id//2) AS url_canon,
       'Body prose long enough to keep for group '||(d.doc_id//2)||'.'
         AS clean_text
FROM documents d
WHERE d.doc_id = (SELECT min(x.doc_id) FROM documents x
                  WHERE x.doc_id // 2 = d.doc_id // 2)
"""


def q_pipeline_warc_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end crawl curation from ON-DISK ``.warc.gz`` archives
    through the offset-indexed reader: the pipeline_warc page-pair
    corpus is packed into 8 gzip-member archives, ingested via
    split_warc_records_indexed (range-parallel index → chunked member
    decode), then runs the identical chain — HTTP 200 text/html filter
    → URL canonicalization → main-content extraction → canonical-URL
    dedup. Shares pipeline_warc's closed-form oracle, proving the
    production-size front door feeds the curation chain byte-for-byte
    like whole-file framing does (doc identity rides the
    WARC-Record-ID through the archive round trip)."""
    import os
    import tempfile
    import zlib

    from pyspark.sql.window import Window

    from .operators.curation import url_canonicalize
    from .operators.text import html_main_blocks
    from .sources.warc_records import split_warc_records_indexed

    ids = [
        r[0]
        for r in _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("long"))
        .orderBy("doc_id")
        .collect()
    ]
    base = tempfile.mkdtemp(prefix="semargl_warc_poff_")

    def gz(b: bytes) -> bytes:
        c = zlib.compressobj(9, zlib.DEFLATED, 31)
        return c.compress(b) + c.flush()

    n_arch = 8
    handles = [
        open(os.path.join(base, f"part{k}.warc.gz"), "wb")
        for k in range(n_arch)
    ]
    try:
        for did in ids:
            grp = did // 2
            uri = (
                f"https://site.example/p/{grp}"
                if did % 2 == 0
                else f"HTTPS://Site.Example/p/{grp}?utm_source=twin"
            )
            html = (
                '<div><a href="/a">Home</a> <a href="/b">About</a> '
                '<a href="/c">More</a></div><p>'
                f"Body prose long enough to keep for group {grp}."
                '</p><div>&copy; <a href="/d">Site</a></div>'
            )
            payload = (
                "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
            ).encode()
            rec = (
                b"WARC/1.0\r\nWARC-Type: response\r\n"
                + f"WARC-Record-ID: <urn:uuid:r{did}>\r\n".encode()
                + f"WARC-Target-URI: {uri}\r\n".encode()
                + f"Content-Length: {len(payload)}\r\n\r\n".encode()
                + payload + b"\r\n\r\n"
            )
            handles[did % n_arch].write(gz(rec))
    finally:
        for h in handles:
            h.close()
    paths = spark.createDataFrame(
        [(os.path.join(base, f"part{k}.warc.gz"),) for k in range(n_arch)],
        "path string",
    )
    pages = (
        split_warc_records_indexed(paths, target_chunk_bytes=1 << 16)
        .filter(
            (F.col("http_status") == 200)
            & F.col("http_content_type").startswith("text/html")
        )
        .select(
            F.regexp_extract("record_id", r"r(\d+)$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("target_uri").alias("url"),
            F.col("body").alias("html"),
        )
        # two consumers below (canon + main-content) — checkpoint so the
        # 3-stage indexed-reader chain computes once, not per consumer
        .localCheckpoint(eager=True)
    )
    canon = url_canonicalize(pages, url_col="url").select("doc_id", "url_canon")
    clean = (
        html_main_blocks(pages, text_col="html")
        .filter(F.col("kept"))
        .groupBy("doc_id")
        .agg(F.min("block_text").alias("clean_text"))
    )
    joined = canon.join(clean, "doc_id")
    w = Window.partitionBy("url_canon").orderBy("doc_id")
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("doc_id", "url_canon", "clean_text")
    )


ORACLES["pipeline_warc_offsets"] = ORACLES["pipeline_warc"]


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance filtering (curation.robots_filter): five
    hosts share a robots body with a User-agent:* section (Disallow
    /private/ overridden by the longer Allow /private/ok) plus a
    stricter bot section that must NOT apply; URLs cycle through
    no-match / disallowed / allow-override / root paths. Closed-form
    expected verdicts."""
    from .operators.curation import robots_filter

    robots = spark.range(5).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        F.lit("User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
              "\nUser-agent: bot\nDisallow: /\n").alias("content"),
    )
    d = F.col("doc_id").cast("long")
    urls = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit("https://h"),
            (d % 5).cast("string"),
            F.lit(".example"),
            F.when(d % 4 == 0, F.concat(F.lit("/pub/"), d.cast("string")))
            .when(d % 4 == 1, F.concat(F.lit("/private/"), d.cast("string")))
            .when(d % 4 == 2, F.concat(F.lit("/private/ok"), d.cast("string")))
            .otherwise(F.lit("/")),
        ).alias("url"),
    )
    return robots_filter(urls, robots)


ORACLES["robots_filter"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
u AS (SELECT doc_id, 'h'||(doc_id%5)||'.example' AS host,
        CASE doc_id % 4
          WHEN 0 THEN '/pub/'||doc_id
          WHEN 1 THEN '/private/'||doc_id
          WHEN 2 THEN '/private/ok'||doc_id
          ELSE '/' END AS path
      FROM ids)
SELECT doc_id, 'https://'||host||path AS url, host,
       CASE doc_id % 4 WHEN 1 THEN '/private/'
                       WHEN 2 THEN '/private/ok' END AS matched_path,
       CASE doc_id % 4 WHEN 1 THEN 'disallow'
                       WHEN 2 THEN 'allow' END AS directive,
       (doc_id % 4) <> 1 AS allowed
FROM u
"""


def q_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap parsing (sources/sitemap.py): each document is a sitemap
    carrying two url entries (one fully-attributed with an &amp; to
    unescape, one bare) plus an index entry pointing at the next shard;
    the oracle writes every flattened row closed-form."""
    from .sources.sitemap import parse_sitemaps

    d = F.col("doc_id").cast("long")
    files = _docs(spark, sf_dir).select(
        d.alias("file_id"),
        F.concat(
            F.lit('<urlset><url><loc>https://s.example/p/'),
            d.cast("string"),
            F.lit('?a=1&amp;b=2</loc><lastmod>2026-01-01</lastmod>'
                  '<changefreq>daily</changefreq><priority>0.8</priority>'
                  '</url><url><loc>https://s.example/q/'),
            d.cast("string"),
            F.lit('</loc></url><sitemap><loc>https://s.example/shard'),
            (d + 1).cast("string"),
            F.lit(".xml</loc></sitemap></urlset>"),
        ).alias("content"),
    )
    return parse_sitemaps(files)


ORACLES["sitemap_frontier"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS file_id FROM documents)
SELECT file_id, CAST(0 AS INT) AS entry_idx, 'url' AS kind,
       'https://s.example/p/'||file_id||'?a=1&b=2' AS loc,
       '2026-01-01' AS lastmod, 'daily' AS changefreq,
       CAST(800 AS INT) AS priority_pm
FROM ids
UNION ALL
SELECT file_id, CAST(1 AS INT), 'url', 'https://s.example/q/'||file_id,
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS INT)
FROM ids
UNION ALL
SELECT file_id, CAST(2 AS INT), 'sitemap',
       'https://s.example/shard'||(file_id+1)||'.xml',
       CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(NULL AS INT)
FROM ids
"""


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness scheduling (curation.crawl_schedule): URLs shard onto
    five hosts with per-host crawl delays 1-5 s (one host falls back to
    the default); the oracle replays the per-host fetch-slot window."""
    from .operators.curation import crawl_schedule

    delays = spark.range(4).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        (F.col("id") + 2).cast("int").alias("crawl_delay_s"),
    )
    d = F.col("doc_id").cast("long")
    urls = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.lit("https://h"),
            (d % 5).cast("string"),
            F.lit(".example/p/"),
            d.cast("string"),
        ).alias("url"),
    )
    return crawl_schedule(urls, delays)


ORACLES["crawl_schedule"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents),
u AS (SELECT doc_id, 'h'||(doc_id%5)||'.example' AS host,
        'https://h'||(doc_id%5)||'.example/p/'||doc_id AS url,
        CASE WHEN doc_id%5 = 4 THEN 1 ELSE CAST(doc_id%5 + 2 AS INT) END
          AS delay
      FROM ids),
r AS (SELECT doc_id, url, host, delay,
        CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) - 1
             AS INT) AS fetch_seq
      FROM u)
SELECT doc_id, url, host, fetch_seq, CAST(delay AS INT) AS crawl_delay_s,
       CAST(fetch_seq AS BIGINT) * delay AS fetch_offset_s
FROM r
"""


def q_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality rules (curation.gopher_filter): a quarter of the
    corpus each gets a symbol-spam, bullet-list, or ellipsis-line
    suffix so every rule fires somewhere; the oracle replays all seven
    rules with the same integer cross-multiplications."""
    d = F.col("doc_id").cast("long")
    spiced = _docs(spark, sf_dir).select(
        d.alias("doc_id"),
        F.concat(
            F.col("text"),
            F.when(d % 4 == 1,
                   F.lit("\n### ### ### ### ### ### ### ###"))
            .when(d % 4 == 2,
                  F.lit("\n- b1\n- b2\n- b3\n- b4\n- b5\n- b6\n- b7"
                        "\n- b8\n- b9\n- b10"))
            .when(d % 4 == 3, F.lit("\nwaiting...\nmore...\nstill..."))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    from .operators.curation import gopher_filter

    return gopher_filter(spiced)


_GOPHER_SW_SQL = "['the','be','to','of','and','that','have','with']"

ORACLES["gopher_filter"] = rf"""
WITH t AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        trim(text || CASE doc_id % 4
          WHEN 1 THEN chr(10)||'### ### ### ### ### ### ### ###'
          WHEN 2 THEN chr(10)||'- b1'||chr(10)||'- b2'||chr(10)||'- b3'
            ||chr(10)||'- b4'||chr(10)||'- b5'||chr(10)||'- b6'
            ||chr(10)||'- b7'||chr(10)||'- b8'||chr(10)||'- b9'
            ||chr(10)||'- b10'
          WHEN 3 THEN chr(10)||'waiting...'||chr(10)||'more...'
            ||chr(10)||'still...'
          ELSE '' END) AS txt
      FROM documents),
m AS (SELECT doc_id, txt,
        list_filter(string_split_regex(txt, '\s+'), x -> x <> '') AS toks,
        list_filter(list_transform(string_split(txt, chr(10)),
                                   x -> trim(x)), x -> x <> '') AS lines
      FROM t),
n AS (SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_words,
        CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
             AS BIGINT) AS sum_word_chars,
        CAST(len(lines) AS BIGINT) AS n_lines,
        CAST(length(txt) - length(replace(txt, '#', '')) AS BIGINT)
          AS n_hash,
        CAST((length(txt) - length(replace(txt, '...', ''))) // 3
             AS BIGINT) AS n_ellipsis,
        CAST(len(list_filter(lines, x -> regexp_matches(x, '^[-*•]')))
             AS BIGINT) AS n_bullet,
        CAST(len(list_filter(lines,
                             x -> regexp_matches(x, '(\.\.\.|…)$')))
             AS BIGINT) AS n_ell_end,
        CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
             AS BIGINT) AS n_alpha,
        CAST(len(list_intersect(list_distinct(list_transform(toks,
             x -> lower(x))), {_GOPHER_SW_SQL})) AS INT) AS n_stop
      FROM m)
SELECT doc_id, n_words, sum_word_chars, n_lines, n_stop AS n_stop_kinds,
       n_words >= 50 AND n_words <= 100000 AS ok_word_count,
       3*n_words <= sum_word_chars AND sum_word_chars <= 10*n_words
         AS ok_mean_len,
       10*(n_hash + n_ellipsis) <= n_words AS ok_symbol_ratio,
       10*n_bullet < 9*GREATEST(n_lines, 1) AS ok_bullets,
       10*n_ell_end < 3*GREATEST(n_lines, 1) AS ok_ellipsis_lines,
       5*n_alpha >= 4*n_words AS ok_alpha_words,
       n_stop >= 2 AS ok_stopwords,
       (n_words >= 50 AND n_words <= 100000)
         AND (3*n_words <= sum_word_chars AND sum_word_chars <= 10*n_words)
         AND (10*(n_hash + n_ellipsis) <= n_words)
         AND (10*n_bullet < 9*GREATEST(n_lines, 1))
         AND (10*n_ell_end < 3*GREATEST(n_lines, 1))
         AND (5*n_alpha >= 4*n_words)
         AND (n_stop >= 2) AS keep
FROM n
"""


def q_tool_args_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call argument QA (conversation.tool_arg_validate): tool
    turns cycle through complete / missing-key / malformed JSON /
    present-but-null bodies for two tools with different requirement
    sets — the null variant locks in that an explicit ``"q": null``
    counts as present (json_object_keys membership, not
    get_json_object null-ness); the oracle writes the per-turn
    verdicts closed-form (inputs are deterministic, so no JSON replay
    is needed on the oracle side)."""
    from .operators.conversation import tool_arg_validate

    d, x = F.col("did"), F.col("tix")
    turns = (
        _docs(spark, sf_dir)
        .select(F.col("doc_id").cast("int").alias("did"))
        .select("did", F.explode(F.sequence(F.lit(0), F.lit(5))).alias("tix"))
        .filter(x % 3 == 2)
    )
    v = (d + x) % 4
    is_search = d % 2 == 0
    text = (
        F.when(
            v == 0,
            F.when(
                is_search,
                F.concat(F.lit('{"q":"x'), d.cast("string"),
                         F.lit('","k":'), x.cast("string"), F.lit("}")),
            ).otherwise(
                F.concat(F.lit('{"cmd":"run'), d.cast("string"), F.lit('"}'))
            ),
        )
        .when(
            v == 1,
            F.when(is_search,
                   F.concat(F.lit('{"k":'), x.cast("string"), F.lit("}")))
            .otherwise(F.lit('{"x":1}')),
        )
        .when(
            v == 3,
            F.when(is_search,
                   F.concat(F.lit('{"q":null,"k":'), x.cast("string"),
                            F.lit("}")))
            .otherwise(F.lit('{"cmd":null}')),
        )
        .otherwise(F.lit("oops not json"))
    )
    t = turns.select(
        F.concat(F.lit("c"), d.cast("string")).alias("conv_id"),
        x.cast("int").alias("turn_idx"),
        F.when(is_search, "search").otherwise("exec").alias("tool"),
        text.alias("text"),
    )
    out = tool_arg_validate(t, {"search": ["q", "k"], "exec": ["cmd"]})
    return out.select(
        "conv_id", "turn_idx", "tool", "is_json",
        F.array_join("missing_keys", ",").alias("missing_csv"), "ok",
    )


ORACLES["tool_args_validate"] = """
WITH t AS (SELECT CAST(doc_id AS INT) AS did, CAST(tix AS INT) AS tix
           FROM documents
           CROSS JOIN (SELECT unnest(generate_series(0,5)) AS tix)
           WHERE tix % 3 = 2),
v AS (SELECT did, tix, (did + tix) % 4 AS var, did % 2 = 0 AS is_search
      FROM t)
SELECT 'c'||did AS conv_id, tix AS turn_idx,
       CASE WHEN is_search THEN 'search' ELSE 'exec' END AS tool,
       var <> 2 AS is_json,
       CASE
         WHEN var = 0 OR var = 3 THEN ''
         WHEN var = 1 THEN CASE WHEN is_search THEN 'q' ELSE 'cmd' END
         ELSE CASE WHEN is_search THEN 'k,q' ELSE 'cmd' END
       END AS missing_csv,
       var = 0 OR var = 3 AS ok
FROM v
"""


def q_dedup_regenerations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regeneration cleanup (conversation.dedup_regenerations): the
    turn_edit_sim gate corpus (near-copy consecutive assistant turns)
    with the near twins' earlier members dropped; the oracle replays
    the Levenshtein verdict AND the anti-join."""
    from .operators.conversation import dedup_regenerations

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
    return dedup_regenerations(t, role="assistant", near_pm=250).select(
        "conv_id", "turn_idx", "role", "text"
    )


ORACLES["dedup_regenerations"] = """
WITH t AS (SELECT CAST(doc_id AS INT) AS did, CAST(tix AS INT) AS tix
           FROM documents
           CROSS JOIN (SELECT unnest(generate_series(0,7)) AS tix)),
r AS (SELECT did, tix,
        CASE WHEN tix%3=0 THEN 'user' WHEN tix%3=1 THEN 'assistant'
             ELSE 'tool' END AS role,
        'try c'||did||' v'||((tix*2+did)%5)
          || repeat('!', (did+tix)%3) AS text
      FROM t),
a AS (SELECT did, tix, text FROM r WHERE role = 'assistant'),
p AS (SELECT did, tix, text,
        LAG(tix) OVER (PARTITION BY did ORDER BY tix) AS ptix,
        LAG(text) OVER (PARTITION BY did ORDER BY tix) AS ptext
      FROM a),
drop_t AS (SELECT did, ptix AS tix FROM p
           WHERE ptix IS NOT NULL
             AND 1000 * levenshtein(text, ptext)
                 // GREATEST(GREATEST(LENGTH(text), LENGTH(ptext)), 1)
                 <= 250)
SELECT 'c'||r.did AS conv_id, r.tix AS turn_idx, r.role, r.text
FROM r LEFT JOIN drop_t d ON r.did = d.did AND r.tix = d.tix
WHERE d.tix IS NULL
"""


def q_media_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG codec (operators/media_codecs.encode_jpeg /
    encode_jpeg_progressive / decode_jpeg): flat-color images encode at
    quality 100 in 4:4:4, 4:2:0, AND progressive (SOF2 — planted
    progressive payloads per r3 verdict item 6) layouts and decode
    executor-side through the full marker/Huffman/dequant/IDCT path
    (multi-scan spectral-selection + successive-approximation for the
    progressive rows). Flat blocks survive quality-100 quantization
    exactly, so the only loss is the YCbCr round trip — whose
    floor(x+0.5) arithmetic the oracle replays verbatim. The lossy
    general path and the progressive==baseline pixel differential are
    bounded in tests/test_media_codecs.py."""
    import pyarrow as pa

    def run(batches):
        from .operators.media_codecs import decode_jpeg, encode_jpeg

        schema = pa.schema(
            [("doc_id", pa.int64()), ("sub", pa.string()),
             ("width", pa.int32()), ("height", pa.int32()),
             ("r", pa.int32()), ("g", pa.int32()), ("b", pa.int32())]
        )
        for rb in batches:
            ids, subs, ws, hs, rs, gs, bs = [], [], [], [], [], [], []
            for did in rb.column(0).to_pylist():
                color = ((did * 37) % 256, (did * 59 + 64) % 256,
                         (did * 83 + 128) % 256)
                rows = [[color] * 16 for _ in range(16)]
                for sub in ("444", "420", "prog"):
                    if sub == "prog":
                        from .operators.media_codecs import (
                            encode_jpeg_progressive,
                        )

                        data = encode_jpeg_progressive(
                            16, 16, rows, quality=100, subsampling="444"
                        )
                        if b"\xff\xc2" not in data:
                            raise AssertionError("not progressive")
                    else:
                        data = encode_jpeg(16, 16, rows, quality=100,
                                           subsampling=sub)
                    w, h, out = decode_jpeg(data)
                    pr, pg, pb = out[0][0]
                    ids.append(did)
                    subs.append(sub)
                    ws.append(w)
                    hs.append(h)
                    rs.append(pr)
                    gs.append(pg)
                    bs.append(pb)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(subs, pa.string()),
                 pa.array(ws, pa.int32()), pa.array(hs, pa.int32()),
                 pa.array(rs, pa.int32()), pa.array(gs, pa.int32()),
                 pa.array(bs, pa.int32())],
                schema=schema,
            )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("long"))
    return docs.mapInArrow(
        run,
        "doc_id bigint, sub string, width int, height int, "
        "r int, g int, b int",
    )


ORACLES["media_jpeg"] = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST((doc_id*37) % 256 AS DOUBLE) AS r0,
        CAST((doc_id*59 + 64) % 256 AS DOUBLE) AS g0,
        CAST((doc_id*83 + 128) % 256 AS DOUBLE) AS b0
      FROM documents),
yc AS (SELECT doc_id,
        FLOOR(0.299*r0 + 0.587*g0 + 0.114*b0 + 0.5) AS y,
        FLOOR(128.0 - 0.168736*r0 - 0.331264*g0 + 0.5*b0 + 0.5) AS cb,
        FLOOR(128.0 + 0.5*r0 - 0.418688*g0 - 0.081312*b0 + 0.5) AS cr
      FROM d),
px AS (SELECT doc_id,
        GREATEST(0, LEAST(255, FLOOR(y + 1.402*(cr-128) + 0.5))) AS r,
        GREATEST(0, LEAST(255,
          FLOOR(y - 0.344136*(cb-128) - 0.714136*(cr-128) + 0.5))) AS g,
        GREATEST(0, LEAST(255, FLOOR(y + 1.772*(cb-128) + 0.5))) AS b
      FROM yc)
SELECT doc_id, sub, CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(r AS INT) AS r, CAST(g AS INT) AS g, CAST(b AS INT) AS b
FROM px CROSS JOIN (SELECT unnest(['420','444','prog']) AS sub)
"""


def q_media_jpeg_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG resize (media_codecs.resize_jpeg): flat-color 4:2:0
    images decode → nearest-neighbor resample to 8×24 → re-encode at
    quality 100 → decode again; flatness survives every stage exactly,
    so the oracle pins the new dimensions and the same YCbCr-chain
    color as media_jpeg."""
    import pyarrow as pa

    def run(batches):
        from .operators.media_codecs import (
            decode_jpeg, encode_jpeg, resize_jpeg)

        schema = pa.schema(
            [("doc_id", pa.int64()), ("width", pa.int32()),
             ("height", pa.int32()), ("r", pa.int32()),
             ("g", pa.int32()), ("b", pa.int32())]
        )
        for rb in batches:
            ids, ws, hs, rs, gs, bs = [], [], [], [], [], []
            for did in rb.column(0).to_pylist():
                color = ((did * 37) % 256, (did * 59 + 64) % 256,
                         (did * 83 + 128) % 256)
                rows = [[color] * 16 for _ in range(16)]
                data = encode_jpeg(16, 16, rows, quality=100,
                                   subsampling="420")
                w, h, out = decode_jpeg(resize_jpeg(data, 8, 24))
                ids.append(did)
                ws.append(w)
                hs.append(h)
                pr, pg, pb = out[0][0]
                rs.append(pr)
                gs.append(pg)
                bs.append(pb)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, pa.int64()), pa.array(ws, pa.int32()),
                 pa.array(hs, pa.int32()), pa.array(rs, pa.int32()),
                 pa.array(gs, pa.int32()), pa.array(bs, pa.int32())],
                schema=schema,
            )

    docs = _docs(spark, sf_dir).select(F.col("doc_id").cast("long"))
    return docs.mapInArrow(
        run, "doc_id bigint, width int, height int, r int, g int, b int"
    )


ORACLES["media_jpeg_resize"] = """
WITH d AS (SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST((doc_id*37) % 256 AS DOUBLE) AS r0,
        CAST((doc_id*59 + 64) % 256 AS DOUBLE) AS g0,
        CAST((doc_id*83 + 128) % 256 AS DOUBLE) AS b0
      FROM documents),
-- two YCbCr round trips (decode after encode, then after re-encode):
yc1 AS (SELECT doc_id,
        FLOOR(0.299*r0 + 0.587*g0 + 0.114*b0 + 0.5) AS y,
        FLOOR(128.0 - 0.168736*r0 - 0.331264*g0 + 0.5*b0 + 0.5) AS cb,
        FLOOR(128.0 + 0.5*r0 - 0.418688*g0 - 0.081312*b0 + 0.5) AS cr
      FROM d),
px1 AS (SELECT doc_id,
        GREATEST(0, LEAST(255, FLOOR(y + 1.402*(cr-128) + 0.5))) AS r1,
        GREATEST(0, LEAST(255,
          FLOOR(y - 0.344136*(cb-128) - 0.714136*(cr-128) + 0.5))) AS g1,
        GREATEST(0, LEAST(255, FLOOR(y + 1.772*(cb-128) + 0.5))) AS b1
      FROM yc1),
yc2 AS (SELECT doc_id,
        FLOOR(0.299*r1 + 0.587*g1 + 0.114*b1 + 0.5) AS y,
        FLOOR(128.0 - 0.168736*r1 - 0.331264*g1 + 0.5*b1 + 0.5) AS cb,
        FLOOR(128.0 + 0.5*r1 - 0.418688*g1 - 0.081312*b1 + 0.5) AS cr
      FROM px1),
px2 AS (SELECT doc_id,
        GREATEST(0, LEAST(255, FLOOR(y + 1.402*(cr-128) + 0.5))) AS r,
        GREATEST(0, LEAST(255,
          FLOOR(y - 0.344136*(cb-128) - 0.714136*(cr-128) + 0.5))) AS g,
        GREATEST(0, LEAST(255, FLOOR(y + 1.772*(cb-128) + 0.5))) AS b
      FROM yc2)
SELECT doc_id, CAST(8 AS INT) AS width, CAST(24 AS INT) AS height,
       CAST(r AS INT) AS r, CAST(g AS INT) AS g, CAST(b AS INT) AS b
FROM px2
"""


def q_pipeline_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end frontier construction: sitemap parsing → URL
    canonicalization → robots.txt compliance → per-host politeness
    scheduling. Each document's sitemap yields two page URLs (one with
    a tracking param to canonicalize away, one under /private/ that
    robots must drop); survivors get fetch slots per host. The oracle
    composes the closed forms of all four stages."""
    from .operators.curation import crawl_schedule, robots_filter, url_canonicalize
    from .sources.sitemap import parse_sitemaps

    d = F.col("doc_id").cast("long")
    files = _docs(spark, sf_dir).select(
        d.alias("file_id"),
        F.concat(
            F.lit('<urlset><url><loc>https://h'),
            (d % 3).cast("string"),
            F.lit(".example/p/"),
            d.cast("string"),
            F.lit('?utm_source=sm</loc></url><url><loc>https://h'),
            (d % 3).cast("string"),
            F.lit(".example/private/"),
            d.cast("string"),
            F.lit("</loc></url></urlset>"),
        ).alias("content"),
    )
    urls = (
        parse_sitemaps(files)
        .filter(F.col("kind") == "url")
        .select(
            (F.col("file_id") * 10 + F.col("entry_idx")).alias("doc_id"),
            F.col("loc").alias("url"),
        )
    )
    canon = url_canonicalize(urls).select(
        "doc_id", F.col("url_canon").alias("url")
    )
    robots = spark.range(3).select(
        F.concat(F.lit("h"), F.col("id").cast("string"),
                 F.lit(".example")).alias("host"),
        F.lit("User-agent: *\nDisallow: /private/\n").alias("content"),
    )
    allowed = robots_filter(canon, robots).filter(F.col("allowed")).select(
        "doc_id", "url"
    )
    return crawl_schedule(allowed)


ORACLES["pipeline_frontier"] = """
WITH ids AS (SELECT CAST(doc_id AS BIGINT) AS fid FROM documents),
u AS (SELECT fid * 10 AS doc_id, 'h'||(fid%3)||'.example' AS host,
        'https://h'||(fid%3)||'.example/p/'||fid AS url
      FROM ids),
r AS (SELECT doc_id, url, host,
        CAST(ROW_NUMBER() OVER (PARTITION BY host ORDER BY doc_id) - 1
             AS INT) AS fetch_seq
      FROM u)
SELECT doc_id, url, host, fetch_seq, CAST(1 AS INT) AS crawl_delay_s,
       CAST(fetch_seq AS BIGINT) AS fetch_offset_s
FROM r
"""


def q_stream_crawl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming crawl-frontier ingest (streaming/stream_crawl.py): WET
    landing files stream in (maxFilesPerTrigger forces multiple
    micro-batches), records split and URLs canonicalize statelessly,
    and the cross-batch dropDuplicates keeps one row per canonical URL
    — pairs of documents carry the same page under two spellings with
    identical payloads, so the drained frontier equals the batch
    closed form regardless of arrival order."""
    import tempfile

    from .streaming.stream_crawl import stream_crawl_frontier

    d = F.col("doc_id").cast("long")
    grp = (d / 2).cast("long")
    files = _docs(spark, sf_dir).select(
        d.alias("file_id"),
        F.concat(
            F.lit("WARC/1.0\nWARC-Type: conversion\n"
                  "WARC-Target-URI: "),
            F.when(
                d % 2 == 0,
                F.concat(F.lit("https://site.example/p/"),
                         grp.cast("string")),
            ).otherwise(
                F.concat(F.lit("HTTPS://Site.Example/p/"),
                         grp.cast("string"), F.lit("?utm_source=twin")),
            ),
            F.lit("\n\npage body "),
            grp.cast("string"),
            F.lit("\n"),
        ).alias("content"),
    )
    base = tempfile.mkdtemp(prefix="semargl_q_scrawl_")
    files.repartition(8).write.mode("overwrite").parquet(f"{base}/in")
    q = stream_crawl_frontier(
        spark, f"{base}/in", f"{base}/out", f"{base}/ckpt"
    )
    _drain(spark, q, "stream_crawl")
    return spark.read.parquet(f"{base}/out")


ORACLES["stream_crawl"] = """
SELECT DISTINCT 'https://site.example/p/'||(doc_id//2) AS url_canon,
       'site.example' AS host,
       'page body '||(doc_id//2) AS text
FROM documents
"""
