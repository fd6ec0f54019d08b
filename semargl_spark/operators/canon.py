"""Canonicalization: connected components over equivalence edges
(SURVEY.md §2.5 J4, north_star "canon" stage).

Algorithm: while the graph is large, min-label propagation with
**pointer jumping and graph contraction** — round 0 fuses label(v) =
min(v, neighbors) into the initialization groupBy over a bidirectional
edge list, followed by two pointer-jump steps (L(v) ← L(L(v))). Every
later round runs on the CONTRACTED label graph: the edge list rewritten
through the current assignment, keeping only the still-merging
inter-label edges — so round n+1's shuffle volume is the unresolved
frontier, which shrinks geometrically, instead of the full corpus-sized
edge list every round. Combined with the per-round double jump this
keeps the O(log diameter) round bound of the large-star/small-star
formulation (Kiveris et al., SoCC'14).

Once the graph has at most ``_DRIVER_EDGES`` (10^6) edges it is
collected and closed on the driver by a union-find whose roots are
component minima: contract until the graph fits one machine, then
finish there (Łącki, Mirrokni and Włodarczyk, "Connected Components at
Scale via Local Contractions", 2018). That happens before round 0, on
the normalized edge set, or after the round that brings the contracted
graph under the bound, whose union-find result folds into the labels
through the round's own label-keyed join. A round costs about four
Spark jobs whatever its size, so a graph of ~10^4 edges (the linking
and sameAs graphs of a KG build) closes in ~5 jobs instead of ~40.

Sizing (4 vCPUs, ``local[4]``, wall of the call plus one aggregate over
its result; SCALE.md §2 has the table): the driver finish beats the
rounds at 2×10^5 and at 10^6 edges, on a shuffled-id path (the
worst-case diameter) and on a random low-diameter graph; at 10^6 edges
it is 17–19 s against 82–88 s (path) and 11–12 s against 25–33 s
(random). Driver memory at the bound is the Arrow batch plus a
10^6-entry dict (a few hundred MB).

Above the bound the hybrid is not free. The up-front probe moves N+1
edges to the driver for nothing, and each round's stop probe reads up
to N+1 rows of every partition of the contracted graph and shuffles
them, with no columns, to one reducer. On a random graph of 3×10^6
edges (4 partitions) the head took 1.3–1.7 s and the round probe
0.4–0.7 s against 0.1 s for a plain ``isEmpty()``; the whole call took
61–69 s with the bound and 61–66 s with rounds only. The normalized
edge set is computed once either way: the probe keeps it for round 0.

Scale notes (10^12-turn corpus):
* the dominant shuffle is round 0's groupBy + the first contraction
  (both corpus-sized, shuffled on node id); every later round touches
  only surviving inter-component edges. AQE coalesces small partitions
  and splits skewed hubs (skewJoin enabled in spark_util.tuned_session);
  a celebrity sameAs hub collapses in round 0 since all neighbors adopt
  its minimum in the map-side partial min;
* the round loop runs on ``spark_util.iterate``, which truncates lineage
  per round (the plan stays flat across iterations). Its stop test is
  ``offset(_DRIVER_EDGES).isEmpty()`` on the contracted edge graph: one
  job that fires when the frontier fits the driver (at a bound of 0 the
  optimizer drops the offset and it is the plain convergence test). Its
  cost is above: while the frontier is large, every partition sends up
  to N+1 empty rows to one reducer each round.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spark_util import iterate

# the graph size, in normalized undirected edges, at or below which the
# rest of the closure runs on the driver (module docstring)
_DRIVER_EDGES = 1_000_000


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


def _fold(labels: DataFrame, l2: DataFrame) -> DataFrame:
    """Fold a contracted graph's (node, component) into the full
    assignment: a node's label is itself a contracted-graph node, so one
    label-keyed left join pointer-jumps EVERY member of a merging class
    at once."""
    return labels.join(
        l2.select(
            F.col("node").alias("component"), F.col("component").alias("_nc")
        ),
        "component",
        "left",
    ).select("node", F.coalesce("_nc", "component").alias("component"))


def _union_find(pairs) -> dict[str, str]:
    """Edge pairs → {node: root} for every endpoint, root = the min
    member id of its component: each union attaches the larger root
    under the smaller, so a root is always its set's minimum. Python
    compares str by code point, which is the order of Spark's binary
    (UTF-8 byte) string comparison."""
    parent: dict[str, str] = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def _finish(spark, edges) -> DataFrame:
    """The driver finish: a collected (src, dst) Arrow table → (node,
    component). Arrow both ways, not Row objects or tuples: 3–5× faster
    each way at 10^6 edges (SCALE.md §2)."""
    roots = _union_find(zip(edges.column("src").to_pylist(),
                            edges.column("dst").to_pylist()))
    return spark.createDataFrame(pa.table({
        "node": pa.array(list(roots), pa.string()),
        "component": pa.array(list(roots.values()), pa.string()),
    }))


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
        .localCheckpoint(eager=False)
    )
    # the size probe computes the edge set and keeps it; round 0 and
    # the first contraction re-read it instead of re-running distinct
    spark = e.sparkSession
    head = e.limit(_DRIVER_EDGES + 1).toArrow()
    if head.num_rows <= _DRIVER_EDGES:
        return _finish(spark, head)
    # both directions for the fused first round
    bidir = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
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
        return _contract(g, l2), _fold(labels, l2)

    g = _contract(e, labels).localCheckpoint(eager=True)
    # the round probe doubles as the size test: offset(N) is empty
    # exactly when g has at most N edges (at N = 0, when g is empty)
    (g, labels), stopped = iterate(
        _round, (g, labels), max_iter,
        until=lambda s: s[0].offset(_DRIVER_EDGES),
    )
    if not stopped:
        # each round contracts paths ≥4× (neighbor-min + two jumps), so
        # hitting the cap means something is structurally wrong —
        # returning partial components would silently merge/split
        # entities downstream
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(contraction covers diameter ~4^{max_iter}); raise max_iter"
        )
    rest = g.toArrow()
    if rest.num_rows:
        labels = _fold(labels, _finish(spark, rest))
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
    a delta that changes nothing costs two broadcast-sized joins and
    one probe; a delta of up to ``_DRIVER_EDGES`` edges closes on the
    driver with no contraction round.
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
