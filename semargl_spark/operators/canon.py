"""Canonicalization: connected components over equivalence edges
(SURVEY.md §2.5 J4, north_star "canon" stage).

Algorithm: min-label propagation with **pointer jumping and graph
contraction** — round 0 fuses label(v) = min(v, neighbors) into the
initialization groupBy over a bidirectional edge list, followed by two
pointer-jump steps (L(v) ← L(L(v))). Every later round runs on the
CONTRACTED label graph: the edge list rewritten through the current
assignment, keeping only the still-merging inter-label edges — so
round n+1's shuffle volume is the unresolved frontier, which shrinks
geometrically, instead of the full corpus-sized edge list every round.
Combined with the per-round double jump this keeps the O(log diameter)
round bound of the large-star/small-star formulation (Kiveris et al.,
SoCC'14), all JVM-side.

Scale notes (10^12-turn corpus):
* the dominant shuffle is round 0's groupBy + the first contraction
  (both corpus-sized, shuffled on node id); every later round touches
  only surviving inter-component edges. AQE coalesces small partitions
  and splits skewed hubs (skewJoin enabled in spark_util.tuned_session);
  a celebrity sameAs hub collapses in round 0 since all neighbors adopt
  its minimum in the map-side partial min;
* the round loop runs on ``spark_util.iterate``, which truncates lineage
  per round (the plan stays flat across iterations) and detects
  convergence with ``isEmpty()`` on the contracted edge graph — a
  limit-1 probe on the (shrinking) frontier, not a full-label
  aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spark_util import iterate


def _jump(labels: DataFrame) -> DataFrame:
    """One pointer-jump step: L(v) ← min(L(v), L(L(v)))."""
    jump = labels.select(
        F.col("node").alias("jnode"), F.col("component").alias("jcomp")
    )
    return labels.join(jump, labels.component == jump.jnode, "left").select(
        "node",
        F.least(F.col("component"), F.coalesce("jcomp", "component")).alias(
            "component"
        ),
    )


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """edges(src, dst) → (node, component), component = min member id.

    Node ids compare lexicographically; the representative is the
    minimum id in the component (deterministic for the DuckDB oracle).
    """
    # normalize to undirected BEFORE distinct: symmetric inputs (a
    # sameAs feed carrying both (a,b) and (b,a)) would otherwise double
    # every edge in the bidirectional list and with it the dominant
    # per-round join shuffle
    e = (
        edges.select(F.col("src").cast("string"), F.col("dst").cast("string"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .distinct()
    )
    # materialize once in both directions for the fused first round
    bidir = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .localCheckpoint(eager=True)
    )
    # fused round 0: label(v) = min(v, min neighbor) straight off the
    # edge list — no join needed for the first propagation — then two
    # pointer jumps (label-sized self-joins, each halves the remaining
    # pointer-path length)
    labels = (
        bidir.groupBy(F.col("src").alias("node"))
        .agg(F.least(F.min("dst"), F.min("src")).alias("component"))
    )
    labels = _jump(_jump(labels)).localCheckpoint(eager=False)

    # contraction loop: every subsequent round runs on the LABEL graph —
    # only the surviving inter-component edges, rewritten through the
    # current assignment — instead of re-joining the full edge list each
    # round (the stress profile of the join-every-round formulation was
    # ~6 full-volume shuffles; contraction makes round n+1's volume the
    # edges still merging, which shrinks geometrically). Invariants:
    # every label is a node id inside its own component and only ever
    # decreases, and the component minimum m keeps label m throughout
    # (its neighbors — original or contracted — are all larger), so on
    # convergence (no inter-label edges left) every label equals the
    # component min, exactly the contract the oracles replay.
    def _contract(g: DataFrame, lab: DataFrame) -> DataFrame:
        a = g.join(
            lab.select(
                F.col("node").alias("src"), F.col("component").alias("_sa")
            ),
            "src",
            "left",
        ).join(
            lab.select(
                F.col("node").alias("dst"), F.col("component").alias("_da")
            ),
            "dst",
            "left",
        ).select(
            F.coalesce("_sa", "src").alias("src"),
            F.coalesce("_da", "dst").alias("dst"),
        )
        return (
            a.filter(F.col("src") != F.col("dst"))
            .select(
                F.least("src", "dst").alias("src"),
                F.greatest("src", "dst").alias("dst"),
            )
            .distinct()
        )

    def _round(state, _r):
        g, labels = state
        gb = g.union(
            g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        l2 = gb.groupBy(F.col("src").alias("node")).agg(
            F.least(F.min("dst"), F.min("src")).alias("component")
        )
        l2 = _jump(_jump(l2)).localCheckpoint(eager=False)
        # fold the contracted round into the full assignment: a node's
        # label is itself a contracted-graph node, so one label-keyed
        # left join pointer-jumps EVERY member of a merging class at once
        labels = labels.join(
            l2.select(
                F.col("node").alias("component"),
                F.col("component").alias("_nc"),
            ),
            "component",
            "left",
        ).select("node", F.coalesce("_nc", "component").alias("component"))
        return _contract(g, l2), labels

    g = _contract(e, labels).localCheckpoint(eager=True)
    (_, labels), converged = iterate(
        _round, (g, labels), max_iter, until=lambda s: s[0]
    )
    if not converged:
        # each round contracts paths ≥4× (neighbor-min + two jumps), so
        # hitting the cap means something is structurally wrong —
        # returning partial components would silently merge/split
        # entities downstream
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(contraction covers diameter ~4^{max_iter}); raise max_iter"
        )
    return labels


def canonicalize(equiv_edges: DataFrame) -> DataFrame:
    """Canon stage entry: equivalence edges → canonical node mapping."""
    return connected_components(equiv_edges)


def cc_incremental(components: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Merge a DELTA of equivalence edges into an existing (node,
    component) assignment without recomputing components from scratch
    → updated (node, component).

    The incremental-maintenance pattern a daily 10^12-node
    canonicalization run needs: each existing component is collapsed to
    its label, the new edges are rewritten through the old assignment
    (two left joins — endpoints not yet known keep themselves), and
    :func:`connected_components` runs over ONLY that contracted delta
    graph — label and fresh nodes, never the corpus. One final join
    maps every old node through its label's new component. Rounds scale
    with the delta's diameter; the full-corpus table is touched exactly
    twice (one rewrite join, one remap join).

    Self-loops after contraction (both endpoints already in the same
    component) vanish inside connected_components' self-loop filter, so
    a delta that changes nothing costs two broadcast-sized joins and an
    empty CC.
    """
    comp = components.select("node", "component")
    e = new_edges.select(
        F.col("src").cast("string"), F.col("dst").cast("string")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    contracted = (
        e.join(comp.withColumnRenamed("node", "src"), "src", "left")
        .withColumn("csrc", F.coalesce("component", "src"))
        .drop("component")
        .join(comp.withColumnRenamed("node", "dst"), "dst", "left")
        .withColumn("cdst", F.coalesce("component", "dst"))
        .select(F.col("csrc").alias("src"), F.col("cdst").alias("dst"))
    )
    delta = connected_components(contracted)
    # old nodes: remap through their label; labels untouched by the
    # delta keep themselves. fresh nodes: appear only in delta.
    remapped = (
        comp.join(
            delta.withColumnRenamed("component", "new_component")
            .withColumnRenamed("node", "component"),
            "component",
            "left",
        )
        .select(
            "node", F.coalesce("new_component", "component").alias("component")
        )
    )
    fresh = delta.join(comp.select("node"), "node", "left_anti")
    return remapped.unionByName(fresh)
