"""KG fusion operators: OWL property-semantics inference, owl:sameAs
entity fusion, and iterative truth discovery over conflicting
assertions.

These close the loop the reference's sink chain stops at: Semargl
emits raw (subj, pred, obj) streams (XmlSink→TripleSink,
rdf/src/main/java/org/semarglproject/rdf/ — extraction only); a
production KG-construction pipeline over 10^12 transcript turns then
has to (1) materialize the entailments the vocabulary licenses,
(2) collapse the aliases that entity linking and functional-property
reasoning discover, and (3) resolve contradictory assertions from
sources of unequal reliability. All three are implemented as
Catalyst-native joins/aggregations — no Python in the loop — with
deterministic integer/lexicographic semantics so every result is
bit-reproducible at any parallelism and externally checkable by an
ANSI-SQL oracle.

Scale notes (10^12 rows):
* ``owl_infer`` — each non-recursive rule is one projection or one
  self-join on the predicate-filtered slice (predicate filters push to
  the scan; a predicate-partitioned/bucketed edge table makes them
  partition prunes). Transitive closure reuses the semi-naive
  fixpoint of ``graph.kleene_closure`` — rounds = predicate-subgraph
  diameter, frontier-only joins, with its max_rounds guard against
  unbounded chains.
* ``sameas_fuse`` — connected components over the (tiny relative to
  the corpus) sameAs edge set, then TWO hash joins against the triple
  corpus (subj rewrite, obj rewrite). The mapping side is
  aliased-nodes only, so with a skew-free alias set it broadcasts;
  the corpus is never shuffled on a hot key.
* ``truth_discovery`` — per round: one join assertions⋈weights (weights
  side is |sources|, broadcastable), one map-side-partial claim
  aggregate, one window argmax per (subj, pred) — partitioned by the
  claim key, so skew equals claim-conflict fan-in, bounded by the
  source count — and one winner-match aggregate back to weights.
  Round count is a small constant (2-3 in the literature's Vote /
  Investment family), not data-dependent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..spark_util import iterate

OWL_SAME_AS = "http://www.w3.org/2002/07/owl#sameAs"

_TRIPLE = ("subj", "pred", "obj")


def _slice(g: DataFrame, pred: str) -> DataFrame:
    return g.filter(F.col("pred") == pred).select("subj", "obj")


def owl_infer(
    g: DataFrame,
    *,
    inverse: list[tuple[str, str]] | None = None,
    symmetric: list[str] | None = None,
    transitive: list[str] | None = None,
    functional: list[str] | None = None,
    inverse_functional: list[str] | None = None,
    max_rounds: int = 32,
) -> DataFrame:
    """OWL 2 RL property-semantics materialization → the NEWLY inferred
    triples (subj, pred, obj), distinct, asserted triples excluded.

    Rules (OWL 2 RL names in parens):

    * ``inverse``: pairs (p, q) with p owl:inverseOf q —
      (s p o) ⇒ (o q s) and (s q o) ⇒ (o p s)  (prp-inv1/2).
    * ``symmetric``: p a owl:SymmetricProperty — (s p o) ⇒ (o p s)
      (prp-symp).
    * ``transitive``: p a owl:TransitiveProperty — fixpoint closure
      (prp-trp), computed by the shared semi-naive loop
      (:func:`..graph.kleene_closure`).
    * ``functional``: p a owl:FunctionalProperty —
      (s p o1), (s p o2), o1 ≠ o2 ⇒ (o1 owl:sameAs o2)  (prp-fp).
    * ``inverse_functional``: p a owl:InverseFunctionalProperty —
      (s1 p o), (s2 p o), s1 ≠ s2 ⇒ (s1 owl:sameAs s2)  (prp-ifp).

    sameAs conclusions are emitted in canonical orientation
    (lexicographic least first) — one row per discovered pair, which
    is what :func:`sameas_fuse` consumes; emitting both orientations
    would double the CC input for nothing.

    The axiom lists are driver-side constants (they come from the
    ontology, not the data), mirroring how ``vocab.rdfs_infer`` treats
    its schema closure: each rule specializes to a Catalyst plan at
    compile time instead of joining a schema table at runtime.
    """
    from .graph import kleene_closure

    parts: list[DataFrame] = []
    for p, q in inverse or []:
        parts.append(
            _slice(g, p).select(
                F.col("obj").alias("subj"),
                F.lit(q).alias("pred"),
                F.col("subj").alias("obj"),
            )
        )
        parts.append(
            _slice(g, q).select(
                F.col("obj").alias("subj"),
                F.lit(p).alias("pred"),
                F.col("subj").alias("obj"),
            )
        )
    for p in symmetric or []:
        parts.append(
            _slice(g, p).select(
                F.col("obj").alias("subj"),
                F.lit(p).alias("pred"),
                F.col("subj").alias("obj"),
            )
        )
    for p in transitive or []:
        clo = kleene_closure(
            g, p, max_rounds=max_rounds,
            src_col="subj", dst_col="obj", pred_col="pred",
        )
        parts.append(
            clo.select(
                F.col("a").alias("subj"),
                F.lit(p).alias("pred"),
                F.col("b").alias("obj"),
            )
        )
    for p in functional or []:
        s = _slice(g, p)
        pairs = (
            s.alias("l")
            .join(s.alias("r"), F.col("l.subj") == F.col("r.subj"))
            .filter(F.col("l.obj") < F.col("r.obj"))
            .select(
                F.col("l.obj").alias("subj"),
                F.lit(OWL_SAME_AS).alias("pred"),
                F.col("r.obj").alias("obj"),
            )
        )
        parts.append(pairs)
    for p in inverse_functional or []:
        s = _slice(g, p)
        pairs = (
            s.alias("l")
            .join(s.alias("r"), F.col("l.obj") == F.col("r.obj"))
            .filter(F.col("l.subj") < F.col("r.subj"))
            .select(
                F.col("l.subj").alias("subj"),
                F.lit(OWL_SAME_AS).alias("pred"),
                F.col("r.subj").alias("obj"),
            )
        )
        parts.append(pairs)
    if not parts:
        raise ValueError("owl_infer called with no axioms")
    inf = parts[0]
    for part in parts[1:]:
        inf = inf.unionByName(part)
    base = g.select(*_TRIPLE)
    return inf.distinct().join(base, list(_TRIPLE), "left_anti")


def sameas_mapping(sameas: DataFrame) -> DataFrame:
    """(src, dst) sameAs pair set → (node, component) canonical mapping:
    transitive closure by connected components, representative = the
    lexicographic minimum of the class (the shared contract of
    :func:`sameas_fuse` and the pipeline job's --fuse-sameas stage,
    which rewrites wider statement schemas through this mapping
    itself)."""
    from .canon import connected_components

    return connected_components(
        sameas.select(
            F.col("src").cast("string"), F.col("dst").cast("string")
        )
    )


def sameas_fuse(g: DataFrame, sameas: DataFrame) -> DataFrame:
    """Entity fusion: collapse every owl:sameAs equivalence class to
    its canonical member (lexicographic minimum, the deterministic
    representative ``canon.connected_components`` elects) and rewrite
    the triple corpus through the mapping → fused distinct
    (subj, pred, obj).

    ``sameas`` is any (src, dst) pair set — typically
    :func:`owl_infer`'s sameAs output unioned with entity-linking
    alias edges. Equivalence is closed transitively by connected
    components, so chains a~b, b~c fuse into one class even though no
    a~c pair was ever asserted.

    Triples whose subj/obj never appear in an equivalence class pass
    through unchanged (left join + coalesce). Rewriting can make
    previously distinct triples collide — the final ``distinct`` is
    the set semantics of a fused graph.
    """
    mapping = sameas_mapping(sameas)
    sub_map = mapping.select(
        F.col("node").alias("subj"), F.col("component").alias("_csub")
    )
    obj_map = mapping.select(
        F.col("node").alias("obj"), F.col("component").alias("_cobj")
    )
    return (
        g.select(*_TRIPLE)
        .join(sub_map, "subj", "left")
        .join(obj_map, "obj", "left")
        .select(
            F.coalesce("_csub", "subj").alias("subj"),
            "pred",
            F.coalesce("_cobj", "obj").alias("obj"),
        )
        .distinct()
    )


def predicate_align(
    g1: DataFrame,
    g2: DataFrame,
    min_overlap: int = 1,
) -> DataFrame:
    """Extensional predicate alignment between two graphs (the
    instance-based leg of ontology matching, PARIS/Ferrara-style
    reduced to exact integers): for every predicate pair whose
    (subj, obj) extensions intersect, emit
    (pred1, pred2, n1, n2, inter, jaccard_pm) with
    ``jaccard_pm = ⌊1000·|∩| / |∪|⌋``.

    Use: after two extraction runs with different vocabularies (two
    source systems, or a vocabulary migration), high-jaccard pairs are
    equivalence candidates (owl:equivalentProperty) and asymmetric
    containment (inter ≈ n1 ≪ n2) suggests subPropertyOf — exactly the
    alias discovery that feeds :func:`owl_infer`/:func:`sameas_fuse`
    on the schema level rather than the instance level.

    Scale shape: each side collapses to its DISTINCT (subj, pred, obj)
    once (map-side partial); the intersection is ONE equi-join on
    (subj, obj) — partitioned by entity pair, so skew equals entity-pair
    fan-in across predicates (bounded by each side's predicate count),
    never a predicate-pair cross product. Per-predicate sizes join on
    after aggregation at predicate-pair granularity (tiny, AQE
    broadcasts). The per-mille Jaccard is BIGINT division — engine-exact.
    """
    if min_overlap < 1:
        raise ValueError(f"min_overlap must be >= 1, got {min_overlap}")
    e1 = g1.select("subj", "pred", "obj").distinct()
    e2 = g2.select("subj", "pred", "obj").distinct()
    inter = (
        e1.withColumnRenamed("pred", "pred1")
        .join(e2.withColumnRenamed("pred", "pred2"), ["subj", "obj"])
        .groupBy("pred1", "pred2")
        .agg(F.count("*").cast("long").alias("inter"))
        .filter(F.col("inter") >= min_overlap)
    )
    n1 = e1.groupBy(F.col("pred").alias("pred1")).agg(
        F.count("*").cast("long").alias("n1")
    )
    n2 = e2.groupBy(F.col("pred").alias("pred2")).agg(
        F.count("*").cast("long").alias("n2")
    )
    return (
        inter.join(n1, "pred1")
        .join(n2, "pred2")
        .select(
            "pred1", "pred2", "n1", "n2", "inter",
            F.expr("1000L * inter div (n1 + n2 - inter)").alias(
                "jaccard_pm"
            ),
        )
    )


def truth_discovery(
    assertions: DataFrame, rounds: int = 2
) -> DataFrame:
    """Iterative source-reliability voting over conflicting assertions
    (the Vote / TruthFinder family, Yin et al. KDD'07, in its
    integer-weight form) → one resolved (subj, pred, obj, score) row
    per claim key.

    ``assertions``: (source, subj, pred, obj) — multiple sources may
    assert different objects for the same (subj, pred); the operator
    picks one winner per key.

    Per round r:
      score_r(s,p,o)  = Σ weight_r(source) over sources asserting it
      winner_r(s,p)   = argmax_o score_r, ties to lexicographic min o
      weight_{r+1}(src) = 1 + |{assertions of src matching winner_r}|

    All weights start at 1 (round 1 is plain majority vote); the
    ``1 +`` floor keeps a never-agreeing source at positive weight so
    claims only it makes still resolve. Everything is BIGINT
    arithmetic and lexicographic tie-breaks — bit-stable at any
    parallelism and replayable in ANSI SQL, unlike the float damping
    of the original TruthFinder.

    Each round's weight table is one row per source — collected
    nowhere, but broadcast-joined against the assertion set, so the
    corpus-sized side never shuffles. ``spark_util.iterate`` truncates
    the per-round lineage (two consumers read each round's winners:
    the next round's reweighting and the result).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    a = (
        assertions.select("source", "subj", "pred", "obj")
        .distinct()
        .localCheckpoint(eager=False)
    )
    win = Window.partitionBy("subj", "pred").orderBy(
        F.col("score").desc(), F.col("obj").asc()
    )

    def _vote(winners, _r):
        if winners is None:
            weights = a.select("source").distinct().withColumn(
                "w", F.lit(1).cast("long")
            )
        else:
            agree = (
                a.join(winners.select("subj", "pred", "obj"),
                       ["subj", "pred", "obj"])
                .groupBy("source")
                .agg(F.count("*").alias("n_agree"))
            )
            weights = (
                a.select("source").distinct()
                .join(agree, "source", "left")
                .select(
                    "source",
                    (F.lit(1) + F.coalesce("n_agree", F.lit(0)))
                    .cast("long")
                    .alias("w"),
                )
            )
        scored = (
            a.join(F.broadcast(weights), "source")
            .groupBy("subj", "pred", "obj")
            .agg(F.sum("w").alias("score"))
        )
        return (
            scored.withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    winners = iterate(_vote, None, rounds)[0]
    return winners.select("subj", "pred", "obj", "score")
