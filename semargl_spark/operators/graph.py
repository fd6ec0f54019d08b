"""Iterative graph analytics over the materialized KG edge table.

PageRank with **fixed-point integer arithmetic**: ranks are bigint
micro-units (SCALE = 10^12), every step is integer multiply / floor-div
/ sum. Integer sums are associative-commutative-exact, so the result is
bit-identical at any partitioning, any parallelism, and in any engine —
which is what makes the query oracle-checkable (a float PageRank's sum
order varies per shuffle and can flip low decimals). The deterministic
floor rounding loses < N·SCALE^-1 of probability mass per iteration —
irrelevant for ranking, essential for reproducibility.

Scale shape (10^12-edge KG):
* out-degrees are computed once and joined into the rank table once per
  iteration — shuffle partitioned on node id, AQE handles skewed hubs;
* dangling mass (nodes with no out-edges) is a one-row aggregate
  crossJoined back in — Spark plans that as a broadcast of a single
  row, never a driver collect;
* every round loop runs on ``spark_util.iterate``, which truncates
  lineage per round and owns the stop test, the same helper as
  operators/canon.py connected components.

Reference parity: the reference is a parser framework with no graph
analytics; this is target-side surface for the constructed KG.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..spark_util import iterate

SCALE = 10**12


def _fdiv(col: Column, d) -> Column:
    """Exact floor division for non-negative bigints. ``(col - col%d)/d``
    keeps every intermediate exactly representable (the numerator is
    divisible by d, so the double division is exact for values < 2^53);
    plain ``floor(col/d)`` can be off by one when the true quotient sits
    a half-ulp below an integer."""
    return ((col - col % d) / d).cast("long")


def bounded_paths(
    edges: DataFrame,
    pred: str,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    pred_col: str = "pred",
) -> DataFrame:
    """SPARQL property path ``pred{1,max_hops}`` → (a, b, hops) with the
    MINIMUM hop count per reachable pair.

    Semi-naive evaluation: the per-round frontier holds only pairs first
    reached that round (anti-join against everything seen), so each edge
    contributes to at most one extension per shortest path — the classic
    Datalog delta trick. An UNBOUNDED transitive closure over a
    10^12-edge KG is a quadratic blow-up (a single chain of length L
    yields L^2/2 pairs); the bounded form caps the output at
    max_hops·|E| and is what SPARQL engines actually execute for
    ``p{1,k}``. Each round is one shuffle join on the frontier's dst +
    one anti-join on (a, b) (:func:`_closure_round`, shared with
    :func:`kleene_closure`).
    """
    return bounded_paths_alt(
        edges, [pred], max_hops, None, src_col, dst_col, pred_col
    )


def bounded_paths_alt(
    edges: DataFrame,
    preds: list[str],
    max_hops: int,
    inverse_preds: list[str] | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    pred_col: str = "pred",
) -> DataFrame:
    """SPARQL property path ``(p1|p2|^p3){1,max_hops}``: alternation and
    inverse steps. The single-step relation is the union of the forward
    predicates with the REVERSED inverse predicates, deduplicated once
    up front; the bounded minimum-hop closure then runs exactly as
    :func:`bounded_paths` (one edge materialization, semi-naive
    frontier, k·|E| output cap). Alternation at the step level — not as
    a union of per-predicate closures — is what keeps a two-predicate
    path from doubling the join rounds."""
    if not preds and not inverse_preds:
        raise ValueError("at least one forward or inverse predicate required")
    e = _step_relation(
        edges, preds, inverse_preds, src_col, dst_col, pred_col
    )
    return _bounded_closure(e, max_hops)


def _step_relation(
    edges: DataFrame,
    preds: list[str],
    inverse_preds: list[str] | None,
    src_col: str,
    dst_col: str,
    pred_col: str,
) -> DataFrame:
    """One-step (a, b) relation of a property path: the forward
    ``preds`` plus the REVERSED ``inverse_preds``, deduplicated and
    checkpointed once."""
    parts = [
        edges.filter(F.col(pred_col).isin(*ps)).select(
            F.col(a).alias("a"), F.col(b).alias("b")
        )
        for ps, a, b in ((preds, src_col, dst_col),
                         (inverse_preds, dst_col, src_col))
        if ps
    ]
    return (
        reduce(DataFrame.unionByName, parts)
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )


def _closure_round(e: DataFrame):
    """Semi-naive round over a step relation ``e(a, b)``, shared by
    :func:`_bounded_closure` and :func:`kleene_closure`. State is
    ``(frontier, seen)``: last round's new pairs and every pair before
    them. A round folds the frontier into ``seen``, extends only the
    frontier one step and anti-joins that against ``seen`` (setting
    ``hops`` to r+1 when the frontier carries it)."""

    def step(state, r):
        frontier, seen = state
        seen = seen.unionByName(frontier)
        new = (
            frontier.select("a", F.col("b").alias("mid"))
            .join(e.select(F.col("a").alias("mid"), "b"), "mid")
            .select("a", "b")
            .distinct()
            .join(seen.select("a", "b"), ["a", "b"], "left_anti")
        )
        if "hops" in frontier.columns:
            new = new.withColumn("hops", F.lit(r + 1).cast("int"))
        return new, seen

    return step


def _bounded_closure(e: DataFrame, max_hops: int) -> DataFrame:
    """Semi-naive minimum-hop closure over a prepared (a, b) step
    relation — shared by :func:`bounded_paths` / :func:`bounded_paths_alt`."""
    first = e.select("a", "b", F.lit(1).cast("int").alias("hops"))
    (frontier, seen), _ = iterate(
        _closure_round(e), (first, first.limit(0)), max_hops - 1
    )
    return seen.unionByName(frontier)


def kleene_closure(
    edges: DataFrame,
    pred: str,
    sources: DataFrame | None = None,
    max_rounds: int = 64,
    reflexive: bool = False,
    src_col: str = "src",
    dst_col: str = "dst",
    pred_col: str = "pred",
) -> DataFrame:
    """SPARQL ``pred+`` evaluated to FIXPOINT → the reachability SET
    (a, b). No hop column on purpose: ``p+`` is set semantics, and set
    semantics is what lets both this loop and an external recursive-SQL
    oracle terminate on cycles (a min-hop column would keep a cyclic
    frontier alive forever in naive recursion).

    ``reflexive=True`` gives ``pred*``: the zero-length pair (x, x) is
    added for every node incident to the predicate subgraph (restricted
    to ``sources`` when seeded) — one union of a node projection, no
    extra rounds.

    Semi-naive BFS: the per-round frontier holds only pairs never seen
    before (anti-join), so round count = graph diameter, not path
    count. The round is :func:`_closure_round`, shared with
    :func:`bounded_paths`; ``spark_util.iterate`` checkpoints the
    frontier eagerly (the emptiness probe and the next extension join
    both read it) and stops on the first empty one.

    Scale honesty: run this only where the closure itself is bounded —
    a seed-restricted query (pass ``sources``: one column of start
    nodes) or a bounded-diameter predicate subgraph. Over a
    chain-shaped 10^12-edge relation the OUTPUT is Θ(N²) no matter the
    algorithm; that case belongs to :func:`bounded_paths` (`p{1,k}`),
    and the ``max_rounds`` guard raises rather than silently grinding
    through a high-diameter graph.
    """
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    e = _step_relation(edges, [pred], None, src_col, dst_col, pred_col)
    seeds = None
    if sources is not None:
        seed_col = sources.columns[0]
        seeds = sources.select(F.col(seed_col).alias("a")).distinct()
        seen = e.join(seeds, "a").localCheckpoint(eager=True)
    else:
        seen = e

    def _finish(closure: DataFrame) -> DataFrame:
        if not reflexive:
            return closure
        ident = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .distinct()
        )
        if seeds is not None:
            ident = ident.join(seeds.withColumnRenamed("a", "node"), "node")
        ident = ident.select(
            F.col("node").alias("a"), F.col("node").alias("b")
        )
        return closure.unionByName(ident).distinct()

    (_, seen), converged = iterate(
        _closure_round(e), (seen, seen.limit(0)), max_rounds,
        until=lambda s: s[0],
    )
    if converged:
        return _finish(seen)
    raise RuntimeError(
        f"kleene_closure did not converge within {max_rounds} rounds — "
        "the predicate subgraph has a longer diameter than expected; "
        "use bounded_paths (p{1,k}) or raise max_rounds deliberately"
    )


RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"


def schema_summary(
    edges: DataFrame,
    type_pred: str = RDF_TYPE,
    src_col: str = "src",
    pred_col: str = "pred",
    dst_col: str = "dst",
) -> DataFrame:
    """VoID-style schema profile of the KG → (src_type, pred, dst_type,
    n_edges, n_src, n_dst): for every non-type predicate, how instances
    of which classes link to instances of which classes — the first
    thing a KG consumer asks of an unfamiliar 10^12-edge graph, and the
    statistics a SPARQL join-order planner feeds on.

    A node with no ``rdf:type`` contributes under the sentinel class
    ``(untyped)``; a node with several types contributes one row per
    type (the VoID linkset convention — each (edge, src class, dst
    class) combination is one observation).

    Plan shape: the type map is |typed nodes| rows joined twice onto
    the edge list (plain equi-joins, AQE handles skew); the final
    groupBy key space is SCHEMA-sized (|classes|²·|preds|), so map-side
    partials collapse 10^12 edges to a handful of rows per task —
    the same shape as corpus_mix.
    """
    types = edges.filter(F.col(pred_col) == type_pred).select(
        F.col(src_col).alias("node"), F.col(dst_col).alias("t")
    )
    rel = edges.filter(F.col(pred_col) != type_pred).select(
        F.col(src_col).alias("src"),
        F.col(pred_col).alias("pred"),
        F.col(dst_col).alias("dst"),
    )
    out = (
        rel.join(types.withColumnRenamed("node", "src"), "src", "left")
        .withColumnRenamed("t", "src_t")
        .join(types.withColumnRenamed("node", "dst"), "dst", "left")
        .withColumnRenamed("t", "dst_t")
        .select(
            F.coalesce(F.col("src_t"), F.lit("(untyped)")).alias("src_type"),
            "pred",
            F.coalesce(F.col("dst_t"), F.lit("(untyped)")).alias("dst_type"),
            "src",
            "dst",
        )
    )
    return out.groupBy("src_type", "pred", "dst_type").agg(
        F.count("*").cast("long").alias("n_edges"),
        F.countDistinct("src").cast("long").alias("n_src"),
        F.countDistinct("dst").cast("long").alias("n_dst"),
    )


def literal_stats(
    statements: DataFrame,
    pred_col: str = "pred",
    obj_col: str = "obj",
    kind_col: str = "obj_kind",
    lang_col: str = "lang",
    dtype_col: str = "dtype",
) -> DataFrame:
    """Literal-side profile of the extracted statements → (pred, dtype,
    lang, n_literals, n_distinct, sum_len): the datatype/language
    histogram that pairs with :func:`schema_summary`'s entity-side
    profile — what fraction of ``p``'s values are typed decimals vs
    plain strings vs ``@en`` tags, and how big they are (``sum_len`` is
    an exact integer so the gate never touches float averages).

    NULL lang/dtype normalize to '' (absent-is-empty, the same
    convention as the lineage ledger's row hash).

    Plan shape: one groupBy whose key space is |preds|·|dtypes|·|langs|
    — schema-sized; countDistinct(obj) is the one corpus-cardinality
    term and Spark executes it as a two-phase partial-distinct
    aggregate, never a driver-side set.
    """
    lit = statements.filter(F.col(kind_col) == "literal").select(
        F.col(pred_col).alias("pred"),
        F.coalesce(F.col(dtype_col), F.lit("")).alias("dtype"),
        F.coalesce(F.col(lang_col), F.lit("")).alias("lang"),
        F.col(obj_col).alias("obj"),
    )
    return lit.groupBy("pred", "dtype", "lang").agg(
        F.count("*").cast("long").alias("n_literals"),
        F.countDistinct("obj").cast("long").alias("n_distinct"),
        F.sum(F.length("obj")).cast("long").alias("sum_len"),
    )


def wl_colors(
    edges: DataFrame,
    rounds: int = 2,
    src_col: str = "src",
    pred_col: str = "pred",
    dst_col: str = "dst",
) -> DataFrame:
    """Weisfeiler–Leman (1-WL) color refinement over the labeled
    multigraph → (node, color): after ``rounds`` iterations, two nodes
    share a color only if their ``rounds``-hop neighborhood structure
    (edge directions + predicates included) is identical. This is the
    DISTRIBUTED analogue of the driver-side bnode-bijection search in
    functions/graph_compare.py — canonical bnode labeling at 10^12
    edges partitions bnodes by WL color first, so the per-color
    bijection search touches a handful of candidates instead of the
    whole graph (the standard RDF graph-canonicalization recipe).

    One round: every edge sends ``>pred:color(dst)`` to its source and
    ``<pred:color(src)`` to its destination; each node's new color is
    ``md5(old_color | '#'-joined sorted message multiset)``. All string
    building and hashing is byte-deterministic (ASCII preds, hex
    colors, lexicographic sort), so the colors are oracle-exact in any
    engine.

    Plan shape per round: two equi-joins (colors onto edge endpoints) +
    one node groupBy whose per-group state is one node's incident-edge
    messages — bounded by degree, the same hub caveat as
    adjacency_export (a 10^9-degree celebrity makes a long row; cap or
    sample upstream if that exists). ``colors`` is consumed three times
    per round; ``spark_util.iterate`` checkpoints it each round, so
    lineage stays O(1) deep and nothing recomputes per consumer.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(pred_col).alias("pred"),
            F.col(dst_col).alias("dst"),
        )
        .filter(
            F.col("src").isNotNull()
            & F.col("pred").isNotNull()
            & F.col("dst").isNotNull()
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )

    def _refine(colors, _r):
        c_dst = colors.select(F.col("node").alias("dst"), F.col("color").alias("c"))
        m_out = e.join(c_dst, "dst").select(
            F.col("src").alias("node"),
            F.concat(F.lit(">"), F.col("pred"), F.lit(":"), F.col("c")).alias("msg"),
        )
        c_src = colors.select(F.col("node").alias("src"), F.col("color").alias("c"))
        m_in = e.join(c_src, "src").select(
            F.col("dst").alias("node"),
            F.concat(F.lit("<"), F.col("pred"), F.lit(":"), F.col("c")).alias("msg"),
        )
        sigs = (
            m_out.unionByName(m_in)
            .groupBy("node")
            .agg(
                F.array_join(F.sort_array(F.collect_list("msg")), "#").alias("sig")
            )
        )
        return colors.join(sigs, "node", "left").select(
            "node",
            F.md5(
                F.concat(
                    F.col("color"),
                    F.lit("|"),
                    F.coalesce(F.col("sig"), F.lit("")),
                )
            ).alias("color"),
        )

    colors = nodes.select("node", F.lit("0").alias("color")).localCheckpoint(
        eager=False
    )
    return iterate(_refine, colors, rounds)[0]


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle participation counts over the UNDIRECTED
    simple graph induced by ``edges`` → (node, triangles), nodes in at
    least one triangle.

    Degree-ordered orientation (the classic scalable formulation):
    every undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one, so each node's out-degree is bounded by
    O(sqrt(|E|)) regardless of hubs — a celebrity node with 10^9
    neighbors RECEIVES its edges instead of fanning them out, and the
    wedge self-join below never explodes on it. Each triangle is then
    counted exactly once as an oriented wedge (u→v, u→w with v ≺ w)
    closed by the oriented edge (v→w).

    Plan shape: one degree groupBy, two joins to attach endpoint keys,
    a self-join on the wedge pivot, one closing join, one explode +
    final groupBy — all equi-joins on uniform keys, no crossJoin, AQE
    handles residual skew. This survives a 10^12-edge KG; the naive
    per-node neighbor-intersection does not.
    """
    und = _simple_pairs(edges, src_col, dst_col)
    tris = _oriented_triangles(und)
    return (
        tris.select(F.explode(F.array("u", "x", "y")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").cast("long").alias("triangles"))
    )


def _simple_pairs(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Undirected simple (a < b) pair list of an edge set."""
    return (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .distinct()
    )


def _oriented_triangles(und: DataFrame) -> DataFrame:
    """Each triangle of the (a < b) pair list exactly once → (u, x, y),
    via the degree-ordered orientation of :func:`triangle_counts` (hub
    out-degrees bounded by O(sqrt(|E|)), so the wedge self-join never
    explodes on a celebrity node)."""
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # total orientation key: zero-padded degree then node id — a plain
    # string compare reproduces the (deg, id) order on both sides of
    # every join below
    key = F.concat(F.lpad(F.col("deg").cast("string"), 20, "0"), F.lit("|"), F.col("node"))
    keyed = deg.select("node", key.alias("k"))
    oriented = (
        und.join(keyed.select(F.col("node").alias("a"), F.col("k").alias("ka")), "a")
        .join(keyed.select(F.col("node").alias("b"), F.col("k").alias("kb")), "b")
        .select(
            F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kv"),
        )
    )
    e1 = oriented.select("u", F.col("v").alias("x"), F.col("kv").alias("kx"))
    e2 = oriented.select("u", F.col("v").alias("y"), F.col("kv").alias("ky"))
    wedges = e1.join(e2, "u").filter(F.col("kx") < F.col("ky"))
    return wedges.join(
        oriented.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"]
    ).select("u", "x", "y")


def node_jaccard(
    edges: DataFrame,
    max_nbr_degree: int = 64,
    min_permille: int = 1,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Neighbor-set Jaccard similarity between node pairs sharing at
    least one neighbor → (x, y, inter, deg_x, deg_y, jaccard_permille)
    with x < y — the standard entity-resolution candidate generator
    over a KG (alias detection: two IRIs whose neighborhoods overlap
    are merge candidates for canonicalization).

    Never all-pairs: candidates come from a wedge self-join pivoting on
    the SHARED neighbor, so only pairs with ≥1 common neighbor exist at
    all. A hub pivot with degree d emits d²/2 wedges — at 10^12 edges a
    celebrity node is a job-killer AND carries no signal (sharing
    'urn:t:Thing' says nothing about aliasing), so pivots with degree >
    ``max_nbr_degree`` are excluded from wedge generation (their edges
    still count toward each node's own degree — the denominator stays
    honest). Jaccard is reported in integer per-mille
    (inter·1000 div (deg_x+deg_y−inter)): exact in any engine.
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull() & (F.col("a") != F.col("b")))
        .distinct()
    )
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    pivots = deg.filter(F.col("deg") <= max_nbr_degree).select(
        F.col("node").alias("nbr")
    )
    wadj = adj.join(pivots, "nbr")  # wedge generation only through low-degree pivots
    pairs = (
        wadj.select("nbr", F.col("node").alias("x"))
        .join(wadj.select("nbr", F.col("node").alias("y")), "nbr")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    out = (
        pairs.join(deg.select(F.col("node").alias("x"), F.col("deg").alias("deg_x")), "x")
        .join(deg.select(F.col("node").alias("y"), F.col("deg").alias("deg_y")), "y")
        .select(
            "x",
            "y",
            "inter",
            "deg_x",
            "deg_y",
            F.expr("(inter * 1000) div (deg_x + deg_y - inter)")
            .cast("long")
            .alias("jaccard_permille"),
        )
    )
    return out.filter(F.col("jaccard_permille") >= min_permille)


def _edges_and_nodes(edges: DataFrame, src_col: str, dst_col: str):
    """(edge list, node list) of a directed edge set, both
    deduplicated and checkpointed once."""
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    return e, nodes


def _rank_rounds(
    e: DataFrame,
    nodes: DataFrame,
    n_teleport: int,
    iterations: int,
    damping_pct: int,
    is_seed: Column | None = None,
) -> DataFrame:
    """The fixed-point power iteration shared by :func:`pagerank` and
    :func:`personalized_pagerank`. Teleport, initial mass and dangling
    mass go to ``n_teleport`` nodes: every node when ``is_seed`` is
    None (a constant, no per-node predicate), else the nodes matching
    ``is_seed``."""

    def teleport(c: Column) -> Column:
        return c if is_seed is None else F.when(is_seed, c).otherwise(F.lit(0))

    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("outdeg")
    )
    base = (SCALE * (100 - damping_pct) // 100) // n_teleport

    def _round(ranks, _r):
        r = ranks.join(outdeg, "node", "left")
        # one-row dangling aggregate; crossJoin broadcasts it
        dangling = r.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(F.sum("rank_fp"), F.lit(0)).cast("long").alias("dangling_fp")
        )
        shares = r.filter(F.col("outdeg").isNotNull()).select(
            "node", _fdiv(F.col("rank_fp"), F.col("outdeg")).alias("share")
        )
        contribs = (
            e.join(shares.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").cast("long").alias("contrib"))
        )
        return (
            nodes.join(contribs, "node", "left")
            .crossJoin(dangling)
            .select(
                "node",
                (
                    teleport(F.lit(base))
                    + _fdiv(
                        F.lit(damping_pct)
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0))
                            + teleport(
                                _fdiv(F.col("dangling_fp"), F.lit(n_teleport))
                            )
                        ),
                        F.lit(100),
                    )
                )
                .cast("long")
                .alias("rank_fp"),
            )
        )

    ranks = nodes.select(
        "node", teleport(F.lit(SCALE // n_teleport)).cast("long").alias("rank_fp")
    )
    return iterate(_round, ranks, iterations)[0]


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """edges(src, dst) → (node, rank_fp) after ``iterations`` rounds.

    rank_fp is the fixed-point rank in SCALE units; rank_fp/SCALE sums
    to ≤ 1 (floor rounding). damping_pct is the damping factor in
    percent (85 = the classic 0.85) so the update rule stays in integer
    arithmetic end-to-end:

        rank'(v) = floor((100-damping)%·SCALE/N)
                 + floor(damping% · (Σ_{u→v} floor(rank(u)/outdeg(u))
                                     + floor(dangling/N)) / 100)
    """
    e, nodes = _edges_and_nodes(edges, src_col, dst_col)
    n = nodes.count()  # one scalar the driver legitimately needs
    return _rank_rounds(e, nodes, n, iterations, damping_pct)


def node_index(edges: DataFrame, n_buckets: int = 64,
               s_col: str = "src", o_col: str = "dst") -> DataFrame:
    """Deterministic contiguous 0..n-1 ids for every node — WITHOUT a
    global sort: nodes hash into ``n_buckets`` md5 buckets, rank locally
    inside each bucket (a window partitioned by bucket — n_buckets
    independent partition-local sorts), and add the bucket's offset
    (cumulative counts over n_buckets rows, computed driver-side: O(1)
    driver memory). The classic two-level indexing pattern that replaces
    ``row_number() OVER (ORDER BY node)``'s single-partition sort at
    10^9+ nodes. → (node, node_idx).
    """
    from pyspark.sql.window import Window

    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    nodes = (
        edges.select(F.col(s_col).alias("node"))
        .unionByName(edges.select(F.col(o_col).alias("node")))
        .distinct()
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("node")), 1, 4), 16, 10).cast("int")
        % n_buckets
    )
    b = nodes.withColumn("bucket", bucket)
    counts = {r["bucket"]: r["c"] for r in
              b.groupBy("bucket").agg(F.count("*").alias("c")).collect()}
    offsets, acc = {}, 0
    for k in sorted(counts):
        offsets[k] = acc
        acc += counts[k]
    off = F.element_at(
        F.create_map(*[F.lit(x) for kv in sorted(offsets.items()) for x in kv]),
        F.col("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy("node")
    return b.select(
        "node",
        (off + F.row_number().over(w) - 1).cast("long").alias("node_idx"),
    )


def negative_samples(
    edges: DataFrame,
    k: int = 2,
    s_col: str = "src",
    p_col: str = "pred",
    o_col: str = "dst",
) -> DataFrame:
    """TransE-style filtered negative sampling for KG-embedding
    training: each edge yields ``k`` corrupted tails → (src, pred, dst,
    neg_ix, neg_dst), with corruptions that happen to be true edges
    removed (filtered negatives — unfiltered ones systematically
    mislabel positives as negatives on dense graphs).

    Deterministic: the replacement tail is the node whose two-level
    index (:func:`node_index`) equals md5(src|pred|dst|neg_ix) mod
    |nodes| — reproducible at any parallelism and re-derivable by the
    SQL oracle. Plan shape: candidates equi-join the node-index table
    on the hashed index (uniform key, no skew), then one left-anti join
    against the true edge set on (src, pred, neg_dst) — both plain
    shuffle joins that AQE sizes; nothing driver-side except the
    n_buckets-row offset table and the single |nodes| scalar.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # the index is consumed twice (count + equi-join) and its window
    # would otherwise recompute per consumer — pin it once
    idx = node_index(edges, s_col=s_col, o_col=o_col).localCheckpoint(
        eager=True
    )
    n_nodes = idx.count()
    cand = edges.select(
        s_col, p_col, o_col,
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("neg_ix"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col(s_col), F.col(p_col),
                                  F.col(o_col), F.col("neg_ix"))),
                1, 12,
            ),
            16, 10,
        ).cast("long")
        % n_nodes
    )
    joined = (
        cand.withColumn("cand_idx", h)
        .join(idx, F.col("cand_idx") == F.col("node_idx"))
        .select(s_col, p_col, o_col, "neg_ix", F.col("node").alias("neg_dst"))
    )
    true_e = edges.select(
        F.col(s_col).alias("_ts"), F.col(p_col).alias("_tp"),
        F.col(o_col).alias("_td"),
    ).distinct()
    return joined.join(
        true_e,
        (F.col(s_col) == F.col("_ts"))
        & (F.col(p_col) == F.col("_tp"))
        & (F.col("neg_dst") == F.col("_td")),
        "left_anti",
    )


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    s_col: str = "src",
    o_col: str = "dst",
) -> DataFrame:
    """Deterministic synchronous label propagation for community
    detection → (node, label) after ``rounds`` rounds.

    Each round, every node adopts the most frequent label among its
    (undirected) neighbors, ties broken by the lexicographically
    smallest label; a node with no neighbors keeps its label. Labels
    start as the node id, so the whole computation is a pure function
    of the edge set — classic LPA's random tie-breaks and random visit
    order make it unreproducible, which is useless for an
    oracle-checked pipeline; the (count desc, label asc) tie-break is
    the standard determinization (synchronous Raghavan et al. variant).

    Scale shape: per round, one groupBy((node, label)) count — map-side
    partial — and one per-node argmax window. The window partitions by
    node (10^9 independent tiny partitions), NOT a global sort. Hub
    skew lands in the count groupBy, where AQE's skew-split applies;
    ``spark_util.iterate`` truncates lineage per round as in
    :func:`pagerank`. Fixed rounds (not convergence) keeps the job a
    static DAG — LPA oscillates on bipartite structures, so production
    runs cap rounds anyway.
    """
    from pyspark.sql.window import Window

    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = (
        edges.select(F.col(s_col).alias("u"), F.col(o_col).alias("v"))
        .unionByName(
            edges.select(F.col(o_col).alias("u"), F.col(s_col).alias("v"))
        )
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = und.select(F.col("u").alias("node")).distinct()
    labels = nodes.select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("label").asc())

    def _adopt(labels, _r):
        neigh = (
            und.join(labels.withColumnRenamed("node", "v"), "v")
            .select(F.col("u").alias("node"), "label")
            .groupBy("node", "label")
            .agg(F.count("*").alias("c"))
        )
        picked = (
            neigh.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "label")
        )
        return nodes.join(picked, "node", "left").select(
            "node", F.coalesce("label", F.col("node")).alias("label")
        )

    return iterate(_adopt, labels, rounds)[0]


def neighbor_agg(
    edges: DataFrame,
    embeddings: DataFrame,
    scale: int = 1000,
    s_col: str = "src",
    o_col: str = "dst",
    id_col: str = "node",
    vec_col: str = "embedding",
) -> DataFrame:
    """GraphSAGE-style mean aggregation: for every node, the
    elementwise mean of its (undirected, deduplicated) neighbors'
    embeddings → (node, dim, mean_q) in fixed-point integers.

    Components quantize to bigints at ``scale`` (ROUND half-away — the
    gram_matrix convention), sums are integer-exact, and the mean is a
    floor division — bit-identical at any parallelism, any engine.

    Plan: one distinct over the symmetrized edge list, one equi-join to
    the embedding table on the neighbor id, one posexplode, one
    (node, dim) hash aggregate. The explode multiplies the shuffle by d
    — the price of staying SQL-expressible; at d in the hundreds swap
    the explode+groupBy for a mapInArrow partial-vector-sum keyed by
    node (same result, one row per node on the wire). Hub nodes land in
    the aggregate where AQE's skew split applies.
    """
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    und = (
        edges.select(F.col(s_col).alias("a"), F.col(o_col).alias("b"))
        .unionByName(
            edges.select(F.col(o_col).alias("a"), F.col(s_col).alias("b"))
        )
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    q = embeddings.select(
        F.col(id_col).alias("b"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * scale).cast("long"),
            )
        ).alias("dim", "qv"),
    )
    summed = (
        und.join(q, "b")
        .groupBy(F.col("a").alias("node"), "dim")
        .agg(F.sum("qv").alias("s"), F.count("*").alias("n"))
    )
    # floor division toward -inf for possibly-negative sums: SQL's //
    # (and DuckDB's) floors, Spark's int div truncates — emulate floor
    mean = F.floor(F.col("s") / F.col("n")).cast("long")
    return summed.select("node", F.col("dim").cast("int"), mean.alias("mean_q"))


def modularity(
    edges: DataFrame,
    communities: DataFrame,
    s_col: str = "src",
    o_col: str = "dst",
) -> DataFrame:
    """Newman modularity of a community assignment over the undirected
    simple graph → one row per community: (label, n_nodes,
    internal_edges, degree_sum, q_micro) where q_micro =
    floor(e_c·10⁶/m) − floor(deg_c²·10⁶/(4m²)) — the exact integer
    micro-unit form of e_c/m − (deg_c/2m)², so Σ q_micro is the
    (floored) modularity in micro-units, bit-identical at any
    parallelism.

    Plan: symmetrize+distinct once, two broadcast-scale joins of the
    edge list to the (node, label) table, one groupBy per side. The
    denominator m is a single scalar crossJoined in (Spark plans a
    1-row broadcast). Quality gate for label_propagation /
    connected_components output at 10^12 edges — a near-zero Q on a
    supposedly-clustered KG means the linker is merging everything.
    """
    und = (
        edges.select(
            F.least(F.col(s_col), F.col(o_col)).alias("a"),
            F.greatest(F.col(s_col), F.col(o_col)).alias("b"),
        )
        .filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    lab = communities.select("node", "label")
    la = lab.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lb = lab.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    e = und.join(la, "a").join(lb, "b")
    m_df = und.agg(F.count("*").cast("long").alias("m"))
    internal = (
        e.filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("long").alias("internal_edges"))
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionAll(und.select(F.col("b").alias("node")))
        .join(lab, "node")
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("degree_sum"),
            F.countDistinct("node").cast("long").alias("n_nodes"),
        )
    )
    M = 10**6
    out = (
        deg.join(internal, "label", "left")
        .withColumn("internal_edges",
                    F.coalesce("internal_edges", F.lit(0)).cast("long"))
        .crossJoin(m_df)
    )
    e_term = _fdiv(F.col("internal_edges") * M, F.col("m"))
    d_term = _fdiv(
        F.col("degree_sum") * F.col("degree_sum") * M,
        F.lit(4) * F.col("m") * F.col("m"),
    )
    return out.select(
        "label", "n_nodes", "internal_edges", "degree_sum",
        (e_term - d_term).cast("long").alias("q_micro"),
    )


def adjacency_export(
    edges: DataFrame,
    cap: int = 32,
    s_col: str = "src",
    o_col: str = "dst",
) -> DataFrame:
    """Bounded adjacency-list export → (node, degree, neighbors_csv):
    per node, its full out-degree and the ``cap`` lexicographically
    smallest neighbors joined with ','. The hand-off format for
    graph-embedding trainers and visual samplers that want one row per
    node, not an edge list.

    The cap is load-bearing at scale: an UNCAPPED collect_list on a
    celebrity hub materializes a 10^9-element array in one row (the
    same 2 GB single-row ceiling conv_reassemble chunks around). Here
    the per-group state is bounded: sort_array(collect_set) runs on
    groups already reduced map-side, and slice() caps the row before it
    is serialized. degree counts ALL neighbors — the csv is a sample,
    the count is exact, and the two coming from one aggregation means
    no second pass.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    e = (
        edges.select(F.col(s_col).alias("node"), F.col(o_col).alias("nb"))
        .filter(F.col("node").isNotNull() & F.col("nb").isNotNull())
        .distinct()
    )
    return e.groupBy("node").agg(
        F.count("*").cast("long").alias("degree"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("nb")), 1, cap), ","
        ).alias("neighbors_csv"),
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[str],
    iterations: int = 5,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Personalized PageRank: teleport mass restricted to ``seeds`` →
    (node, rank_fp). The similarity-to-seed-set measure behind
    related-entity panels and seed-expansion labeling over the KG.

    The same fixed-point integer rounds as :func:`pagerank`
    (:func:`_rank_rounds`: bit-exact at any parallelism,
    oracle-checkable) with three deltas: initial
    mass SCALE/|S| on each seed, the (100−d)% teleport paid only to
    seeds, and dangling mass returned to the seeds instead of spread
    uniformly. The seed set is a literal isin predicate — seeds are by
    definition few (a user query, a label set), so no join is needed
    to mark them.
    """
    if not seeds:
        raise ValueError("empty seed set")
    e, nodes = _edges_and_nodes(edges, src_col, dst_col)
    seed_set = sorted(set(seeds))
    return _rank_rounds(
        e, nodes, len(seed_set), iterations, damping_pct,
        is_seed=F.col("node").isin(*seed_set),
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 3,
    walks_per_node: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Deterministic 'random' walks for graph-embedding training corpora
    (DeepWalk/node2vec-style skip-gram input): ``walks_per_node`` walks
    from every node with out-edges, each up to ``walk_len`` hops, the
    next hop chosen by hash — at step s the neighbor minimizing
    ``md5(start#walk#s#candidate)``. Pseudo-random but a pure function
    of the graph, so the result is identical at any parallelism and
    replayable for checkpoint-resume (the same stance as the salted
    md5 coins in curation splits).

    Returns flat rows ``(start, walk, step, node)`` — step 0 is the
    start node; a walk that reaches a sink simply ends (no padding).

    Plan, per hop: one frontier⋈edges hash equi-join on the current
    node + one (start, walk) min-aggregation — walk_len joins total,
    frontier cardinality is nodes×walks regardless of edge count, and
    the per-group argmin rides map-side partials (the hash string
    prefixes the candidate, so ``min`` resolves both the choice and
    its tie-break in one pass). A celebrity hub fans into the GROUPed
    aggregation, never into a row explosion that survives the stage."""
    if walk_len < 1 or walks_per_node < 1:
        raise ValueError("walk_len and walks_per_node must be >= 1")
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).distinct()
    starts = e.select(F.col("_s").alias("start")).distinct()
    # Fan out walk ids with a narrow explode (no join): a crossJoin
    # against range(walks_per_node) would compile to a
    # BroadcastNestedLoopJoin for nothing.
    walks = starts.select(
        "start",
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_node - 1))
        ).alias("walk"),
    )
    frontier = walks.select("start", "walk", F.col("start").alias("node"))

    # state (frontier, earlier frontiers): each frontier feeds BOTH the
    # output union and the next hop's join, so it must be the
    # checkpointed one iterate hands back — otherwise the union's branch
    # s re-derives hops 1..s, turning walk_len joins into walk_len² (at
    # 10^12 turns that is the whole job)
    def _hop(state, s):
        frontier, levels = state
        tagged = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select(
                "start", "walk",
                F.concat(
                    F.substring(
                        F.md5(F.concat_ws(
                            "#", "start", "walk", F.lit(s), "_d"
                        )),
                        1, 15,
                    ),
                    F.lit("#"), F.col("_d"),
                ).alias("h"),
            )
        )
        nxt = tagged.groupBy("start", "walk").agg(
            F.substring(F.min("h"), 17, 1 << 20).alias("node")
        )
        return nxt, levels + (frontier,)

    (last, levels), _ = iterate(_hop, (frontier, ()), walk_len)
    return _walk_rows(levels + (last,))


def _walk_rows(levels: tuple) -> DataFrame:
    """Flat ``(start, walk, step, node)`` rows from per-step frontiers
    (``levels[s]`` holds every walk's node at step s)."""
    return reduce(DataFrame.union, (
        level.select("start", "walk", F.lit(s).alias("step"), "node")
        for s, level in enumerate(levels)
    ))


def skipgram_pairs(
    walks: DataFrame,
    window: int = 2,
) -> DataFrame:
    """(center, context) training pairs from a random-walk corpus
    (word2vec skip-gram over node sequences): for every walk, every
    ordered pair of positions at distance 1..window, with multiplicity
    → ``(center, context, weight)``.

    Plan: ONE self equi-join keyed on the walk id (start, walk) with
    the |Δstep| ≤ window band as a post-join filter inside the join —
    each walk is walk_len+1 rows, so the per-key blow-up is bounded by
    (len+1)·2w regardless of graph size — then one (center, context)
    hash aggregation with map-side partials. Never a window function
    over the corpus and never a position explode."""
    if window < 1:
        raise ValueError("window must be >= 1")
    # the self-join's two sides are the SAME corpus; checkpoint once so
    # Catalyst doesn't plan the whole upstream walk generation twice
    # (observed: 0 ReusedExchange on the duplicated subtree)
    walks = walks.localCheckpoint(eager=False)
    a = walks.select(
        "start", "walk",
        F.col("step").alias("step_a"), F.col("node").alias("center"),
    )
    b = walks.select(
        "start", "walk",
        F.col("step").alias("step_b"), F.col("node").alias("context"),
    )
    d = F.col("step_b") - F.col("step_a")
    return (
        a.join(b, on=["start", "walk"])
        .filter((d != 0) & (F.abs(d) <= window))
        .groupBy("center", "context")
        .agg(F.count("*").cast("long").alias("weight"))
    )


def hits(
    edges: DataFrame,
    iterations: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities over the directed KG edge set →
    (node, auth, hub) after ``iterations`` mutual-reinforcement rounds,
    in UNNORMALIZED integer arithmetic:

        auth'(v) = Σ_{u→v} hub(u)      hub'(u) = Σ_{u→v} auth'(v)

    starting from hub = 1. Skipping the classic L2 normalization keeps
    every score an exact BIGINT — bit-identical at any parallelism and
    digit-for-digit reproducible by an unrolled SQL oracle (the same
    discipline as :func:`pagerank`'s fixed-point micro-units); the
    RANKING is unchanged because normalization is a positive scalar per
    round. Scores are bounded by D^(2·iterations) for max total degree
    D, so the operator MEASURES D up front (one cheap degree
    aggregation — the analogue of pagerank's node count) and raises
    when the bound could exceed int64, rather than letting Spark's
    non-ANSI sum wrap silently: at the default 2 rounds that admits
    D up to ~55k; 4 rounds up to ~234.

    Plan shape: each half-round is one equi-join of the edge list with
    the current score column followed by one hash aggregation with
    map-side partials — 2·iterations shuffles total, no windows, no
    driver-side data. The edge list is deduplicated and checkpointed
    once up front."""
    import math

    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e, nodes = _edges_and_nodes(edges, src_col, dst_col)
    max_deg = (
        e.select(F.col("src").alias("n"))
        .unionByName(e.select(F.col("dst").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
        .agg(F.max("d"))
        .collect()[0][0]
    ) or 1
    if 2 * iterations * math.log2(max(max_deg, 2)) >= 62:
        raise ValueError(
            f"unnormalized HITS would overflow int64: max total degree "
            f"{max_deg} at {iterations} iterations (bound "
            f"D^(2*iterations) >= 2^62); lower iterations or normalize "
            f"externally"
        )

    def _reinforce(state, _r):
        _, hub = state
        auth = (
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").cast("long").alias("auth"))
        )
        hub = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").cast("long").alias("hub"))
        )
        return auth, hub

    hub = nodes.select("node", F.lit(1).cast("long").alias("hub"))
    (auth, hub), _ = iterate(_reinforce, (None, hub), iterations)
    return (
        nodes.join(auth, "node", "left")
        .join(hub, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("auth"), F.lit(0)).cast("long").alias("auth"),
            F.coalesce(F.col("hub"), F.lit(0)).cast("long").alias("hub"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-core peeling over the UNDIRECTED simple graph of the KG edge
    set → (node, degree) for the nodes surviving ``rounds`` peeling
    rounds (each round deletes every node whose remaining degree < k;
    the true k-core is the fixpoint).

    A fixed round budget instead of a convergence loop: each round is
    one degree aggregation + one semi-join filter of the edge list, so
    round count — not graph size — bounds the job count, and the
    result after r rounds is already a sound OVER-approximation of the
    k-core (monotone peeling only ever removes non-members). Callers
    needing the exact fixpoint raise ``rounds`` — peeling depth in
    practice is tiny (a few rounds even on web graphs, since each round
    removes whole degree-layers at once). Deterministic at any
    parallelism: integer degrees only, no tie-breaks.

    Scale: the edge list shrinks monotonically; each round shuffles
    only the SURVIVING edges (checkpointed per round to keep the plan
    O(1)), and the degree agg is a map-side-partial hash agg on short
    string keys."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = _simple_pairs(edges, src_col, dst_col).localCheckpoint(eager=True)

    def degrees(und: DataFrame) -> DataFrame:
        return (
            und.select(F.col("a").alias("node"))
            .unionByName(und.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("degree"))
        )

    def _peel(und, _r):
        keep = degrees(und).filter(F.col("degree") >= k).select("node")
        return und.join(
            keep.withColumnRenamed("node", "a"), "a", "left_semi"
        ).join(keep.withColumnRenamed("node", "b"), "b", "left_semi")

    return degrees(iterate(_peel, und, rounds)[0])


def comention_edges(
    statements: DataFrame,
    entity_prefix: str = "urn:e:",
    max_per_conv: int = 1000,
) -> DataFrame:
    """Entity co-mention graph from transcripts → (a, b, weight): an
    undirected weighted edge between every pair of entities mentioned
    in the same conversation (subjects plus IRI objects under
    ``entity_prefix``), weight = number of co-mentioning conversations.
    The KG-enrichment edge set that linking/canonicalization does not
    produce — relatedness signals mined from discourse co-occurrence.

    Scale: the pair blow-up is per-conversation-quadratic, so the
    per-conv entity set is capped at ``max_per_conv`` — conversations
    above the cap are DROPPED (boilerplate-hub discipline, same as
    exact-substring dedup's hot-span guard: a 10^5-entity dump
    conversation would contribute 10^10 pairs of pure noise).
    One distinct, one conv-keyed self-join with a<b inside the join
    condition, one pair groupBy with map-side partials. Deterministic:
    counts only."""
    if max_per_conv < 2:
        raise ValueError(f"max_per_conv must be >= 2, got {max_per_conv}")
    ents = (
        statements.select(
            "conv_id",
            F.explode(
                F.array(
                    F.col("subj"),
                    F.when(F.col("obj_kind") == "iri", F.col("obj")),
                )
            ).alias("ent"),
        )
        .filter(F.col("ent").startswith(entity_prefix))
        .distinct()
    )
    sizes = ents.groupBy("conv_id").agg(F.count("*").alias("n_ents"))
    ok = sizes.filter(F.col("n_ents") <= max_per_conv).select("conv_id")
    ents = ents.join(ok, "conv_id", "left_semi").localCheckpoint(eager=False)
    a = ents.select("conv_id", F.col("ent").alias("a"))
    b = ents.select("conv_id", F.col("ent").alias("b"))
    return (
        a.join(b, on=["conv_id"])
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").cast("long").alias("weight"))
    )


def scc_bounded(
    edges: DataFrame,
    max_hops: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Strongly connected components of a DIRECTED edge set, exact for
    every SCC whose internal diameter is ≤ ``max_hops`` → (node,
    component) with the lexicographically-smallest member as the
    component label (the same labeling rule as the undirected CC in
    operators/canon.py).

    Composition of audited pieces: a semi-naive bounded closure
    (:func:`bounded_paths` — capped at max_hops·|E| pairs, never the
    quadratic unbounded closure), a mutual-reachability self-join
    ((u,v) strongly connected iff u reaches v AND v reaches u — an
    equi-join of the closure against its own reversal, no cartesian),
    and the pointer-jumping CC over the mutual pairs. Nodes in no
    mutual pair are their own component. Under the bound the result is
    a sound REFINEMENT (never merges two true SCCs; may split one whose
    diameter exceeds max_hops — same contract stance as kcore's fixed
    round budget; real KG alias cycles are short).
    """
    from .canon import connected_components

    # two consumers (the closure and the node projection): checkpoint
    # so an expensive upstream (extraction) is not planned once per
    # consumer — Catalyst does not reuse non-exchange subtrees
    edges = edges.localCheckpoint(eager=False)
    e = edges.select(
        F.col(src_col).alias("src"),
        F.col(dst_col).alias("dst"),
        F.lit("e").alias("pred"),
    )
    closure = bounded_paths(e, "e", max_hops=max_hops).select("a", "b")
    rev = closure.select(
        F.col("b").alias("a"), F.col("a").alias("b")
    )
    mutual = (
        closure.join(rev, ["a", "b"])
        .filter(F.col("a") < F.col("b"))
        .select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .distinct()
    )
    comp = connected_components(mutual)
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .union(edges.select(F.col(dst_col).alias("node")))
        .distinct()
    )
    return nodes.join(comp, "node", "left").select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )


def list_rank(rest: DataFrame, max_iter: int = 16) -> DataFrame:
    """Distributed list ranking over ``rest(cell, nxt)`` successor
    chains → (cell, head, pos): every chain cell mapped to its chain
    head and 0-based position, via pointer jumping with distance
    accumulation — the classic PRAM list-ranking algorithm, O(log L)
    rounds for chains of length L, never a sequential walk.

    This is the KG-side inverse of RDF collection parsing: the kernels
    emit rdf:first/rdf:rest chains for @list / parseType="Collection"
    (reference: rdf/.../RdfXmlParser.java parseType Collection,
    jsonld @list containers); re-assembling ORDERED members from the
    triple soup requires ranking each cell in its rest-chain. Callers
    pass the rest triples with the rdf:nil terminator filtered out.

    Mechanics: pointer state (cell, ptr, d) with d = distance walked
    from cell BACK to ancestor ptr (edges reversed: chains are ranked
    from the head side). Heads (cells that are no rest-target) self-
    loop with d = 0, so jumps through a head are absorbing; each round
    squares the pointer reach (ptr ← ptr's ptr, d ← d + ptr's d) in one
    node-sized self-join. Convergence (all pointers at heads) is
    ``spark_util.iterate``'s emptiness probe on the cells whose pointer
    moved in the last round (``hop``, the distance of that jump, is
    non-zero) — the same stop test as every other round loop. A
    malformed cell with several predecessors
    takes the minimum (deterministic); a cyclic chain never converges
    and raises instead of returning wrong positions.

    Scale shape: state is 4 columns × #cells; rounds shuffle on the
    pointer id only.
    """
    prev = (
        rest.select(F.col("nxt").alias("cell"), F.col("cell").alias("prv"))
        .groupBy("cell")
        .agg(F.min("prv").alias("prv"))
    )
    cells = (
        rest.select("cell")
        .union(rest.select(F.col("nxt").alias("cell")))
        .distinct()
    )
    # the initial pointer is a jump of d from the cell itself
    state = (
        cells.join(prev, "cell", "left")
        .select(
            "cell",
            F.coalesce("prv", F.col("cell")).alias("ptr"),
            F.when(F.col("prv").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .cast("long")
            .alias("d"),
        )
        .withColumn("hop", F.col("d"))
        .localCheckpoint(eager=True)
    )

    def _jump(state, _r):
        j = state.select(
            F.col("cell").alias("jcell"),
            F.col("ptr").alias("jptr"),
            F.col("d").alias("jd"),
        )
        return state.join(j, state.ptr == j.jcell).select(
            "cell",
            F.col("jptr").alias("ptr"),
            (F.col("d") + F.col("jd")).alias("d"),
            F.col("jd").alias("hop"),
        )

    state, converged = iterate(
        _jump, state, max_iter, until=lambda s: s.filter(F.col("hop") != 0)
    )
    if converged:
        return state.select(
            "cell", F.col("ptr").alias("head"), F.col("d").alias("pos")
        )
    raise RuntimeError(
        f"list_rank did not converge in {max_iter} rounds (covers chains "
        f"to length ~2^{max_iter}); a cyclic rest-chain or longer lists — "
        "raise max_iter"
    )


def list_members(first: DataFrame, rest: DataFrame,
                 max_iter: int = 16) -> DataFrame:
    """Ordered RDF collection members → (head, pos, member): ranks the
    ``rest(cell, nxt)`` chains with :func:`list_rank`, then one equi-
    join against ``first(cell, member)`` attaches each cell's member.
    """
    ranked = list_rank(rest, max_iter=max_iter)
    return ranked.join(first, "cell").select(
        "head", F.col("pos").cast("int").alias("pos"), "member"
    )


def temporal_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 8,
    src_col: str = "src",
    dst_col: str = "dst",
    ts_col: str = "ts",
) -> DataFrame:
    """Time-respecting reachability over a temporal edge set →
    (origin, node, min_arr, min_hops): which nodes each seed reaches
    within ``max_hops`` hops along paths whose edge timestamps are
    NON-DECREASING (each step departs no earlier than the previous
    edge's timestamp — information/influence can only flow forward in
    time), with the earliest possible arrival timestamp and the fewest
    hops. Plain closure over a temporal KG OVERSTATES reach: an edge
    asserted before you got there can't carry you onward; this is the
    temporal-KG query that gets it right.

    Frontier iteration, one level per hop: level r extends level r-1
    through edges with ``ts >= arr``. State is pruned to the MINIMUM
    arrival per (origin, node, hops) — safe because with a
    non-decreasing constraint an earlier arrival admits a superset of
    continuations at the same depth (pure min-per-node pruning across
    DIFFERENT depths would be wrong under a hop budget: a later but
    shorter arrival can still out-reach a sooner, deeper one — hence
    the per-level key). Seeds start at arrival 0, so every first hop
    is admissible on positive timestamps.

    Scale shape: each hop is one equi-join of the current frontier
    against the edge table (shuffled on node id, AQE splits hub skew)
    plus one min-groupBy, one level per ``spark_util.iterate`` round,
    which stops at the first empty level; frontiers are seed-limited,
    never all-pairs.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = (
        edges.select(
            F.col(src_col).cast("string").alias("esrc"),
            F.col(dst_col).cast("string").alias("edst"),
            F.col(ts_col).cast("long").alias("ets"),
        )
        .filter(
            F.col("esrc").isNotNull()
            & F.col("edst").isNotNull()
            & F.col("ets").isNotNull()
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    frontier = seeds.select(
        F.col(seeds.columns[0]).cast("string").alias("origin")
    ).distinct().select(
        "origin",
        F.col("origin").alias("node"),
        F.lit(0).cast("long").alias("arr"),
        F.lit(0).cast("int").alias("hops"),
    ).localCheckpoint(eager=True)

    def _level(state, r):
        frontier, walks = state
        nxt = (
            frontier.join(e, frontier.node == e.esrc)
            .filter(F.col("ets") >= F.col("arr"))
            .groupBy("origin", F.col("edst").alias("node"))
            .agg(F.min("ets").alias("arr"))
            .select(
                "origin", "node", "arr", F.lit(r).cast("int").alias("hops")
            )
        )
        return nxt, walks.unionByName(frontier)

    (frontier, walks), _ = iterate(
        _level, (frontier, frontier.limit(0)), max_hops,
        until=lambda s: s[0],
    )
    walks = walks.unionByName(frontier)
    return walks.groupBy("origin", "node").agg(
        F.min("arr").alias("min_arr"),
        F.min("hops").cast("int").alias("min_hops"),
    )


def quotient_graph(
    edges: DataFrame,
    colors: DataFrame,
    src_col: str = "src",
    pred_col: str = "pred",
    dst_col: str = "dst",
) -> DataFrame:
    """Structural graph summarization: contract every color class of a
    node partition (typically :func:`wl_colors` output — then this is
    the bisimulation-quotient summary of SNAP/k-bisimulation lineage)
    to one super-node and aggregate the edge multiset between classes →
    (src_color, pred, dst_color, n_edges, n_src, n_dst).

    ``n_edges`` counts distinct member edges of the super-edge;
    ``n_src``/``n_dst`` count the distinct member endpoints actually
    incident to it, so n_edges = n_src·n_dst identifies a complete
    bipartite (perfectly regular) block while smaller values expose
    structural variance inside the summary edge.

    Scale shape: two equi-joins mapping endpoints through the
    (node, color) partition — node-sized build side, broadcastable
    when the partition is — then ONE map-side-partial aggregate over
    (src_color, pred, dst_color). The summary is color-class-count
    sized, i.e. orders of magnitude below the edge count; this is the
    10^12-edge exploration tool that lets a human (or a query planner
    collecting statistics) look at the whole KG at once.
    """
    e = edges.select(src_col, pred_col, dst_col).distinct()
    csrc = colors.select(
        F.col("node").alias(src_col), F.col("color").alias("src_color")
    )
    cdst = colors.select(
        F.col("node").alias(dst_col), F.col("color").alias("dst_color")
    )
    return (
        e.join(csrc, src_col)
        .join(cdst, dst_col)
        .groupBy("src_color", pred_col, "dst_color")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.countDistinct(src_col).cast("long").alias("n_src"),
            F.countDistinct(dst_col).cast("long").alias("n_dst"),
        )
    )


def weighted_paths(
    edges: DataFrame,
    max_hops: int,
    weight_col: str = "weight",
    src_col: str = "src",
    dst_col: str = "dst",
    sources: DataFrame | None = None,
) -> DataFrame:
    """Hop-bounded weighted shortest paths → (a, b, min_cost): the
    minimum total BIGINT edge weight over all paths of 1..``max_hops``
    edges — distributed Bellman-Ford, one relaxation round per hop.

    Semi-naive relaxation: the per-round frontier carries only
    (a, b, cost) rows that IMPROVED on the best cost known so far
    (join + groupBy-min + improvement anti-filter), so a converged
    region of the graph stops generating work — on a graph whose
    weighted diameter < max_hops the trailing rounds are empty and
    cheap. Costs are BIGINT sums, so results are bit-identical at any
    parallelism and replayable by an unrolled SQL oracle (float
    weights would accumulate in join order).

    ``sources`` (one ``node`` column) restricts origins — the
    single/multi-source form that makes 10^12-edge runs tractable;
    unseeded all-pairs is capped by the same Θ(reachable-pairs) output
    bound as :func:`bounded_paths` and should only run on bounded
    subgraphs. Negative weights are rejected: with hop-bounded
    semantics they would be *well-defined* but are almost always a
    modeling error feeding a cost that pruning assumes monotone.
    """
    if max_hops < 1:
        raise ValueError(f"max_hops must be >= 1, got {max_hops}")
    e = (
        edges.select(
            F.col(src_col).alias("a"),
            F.col(dst_col).alias("b"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & F.col("w").isNotNull()
        )
        .groupBy("a", "b")
        .agg(F.min("w").alias("w"))  # parallel edges: keep the cheapest
    )
    if e.filter(F.col("w") < 0).limit(1).count() > 0:
        raise ValueError("weighted_paths requires non-negative weights")
    e = e.localCheckpoint(eager=True)
    start = e
    if sources is not None:
        start = e.join(
            sources.select(F.col("node").alias("a")).distinct(), "a"
        )

    def merge(best: DataFrame, frontier: DataFrame) -> DataFrame:
        return (
            best.unionByName(frontier)
            .groupBy("a", "b")
            .agg(F.min("min_cost").alias("min_cost"))
        )

    # state (frontier, best): the last round's improvements and the best
    # costs known before them
    def _relax(state, _r):
        frontier, best = state
        best = merge(best, frontier)
        ext = (
            frontier.select("a", F.col("b").alias("mid"), "min_cost")
            .join(e.select(F.col("a").alias("mid"), "b", "w"), "mid")
            .select("a", "b", (F.col("min_cost") + F.col("w")).alias("cost"))
            .groupBy("a", "b")
            .agg(F.min("cost").alias("cost"))
        )
        # keep only genuine improvements: new pairs, or cheaper costs
        improved = (
            ext.join(best.withColumnRenamed("min_cost", "old"),
                     ["a", "b"], "left")
            .filter(F.col("old").isNull() | (F.col("cost") < F.col("old")))
            .select("a", "b", F.col("cost").alias("min_cost"))
        )
        return improved, best

    first = start.select("a", "b", F.col("w").alias("min_cost"))
    (frontier, best), converged = iterate(
        _relax, (first, first.limit(0)), max_hops - 1, until=lambda s: s[0]
    )
    return best if converged else merge(best, frontier)


def harmonic_closeness(
    edges: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    sources: DataFrame | None = None,
) -> DataFrame:
    """Hop-bounded harmonic closeness centrality → (node, n_reachable,
    harmonic_pm): for each origin, Σ over the nodes it reaches within
    ``max_hops`` of floor(1000 / hop-distance) — the
    disconnected-graph-safe closeness variant (Boldi & Vigna 2014,
    "Axioms for Centrality"), in integer per-mille so the sum is exact
    at any parallelism.

    Distances come from :func:`weighted_paths` on unit weights (the
    same semi-naive relaxation; BFS as degenerate Bellman-Ford), so the
    scale posture is inherited: seed with ``sources`` for the bounded
    frontier a 10^12-edge run needs; unseeded all-origins cost is
    Θ(reachable pairs within max_hops). Self-loops/cycles back to the
    origin are excluded (distance to self is 0 by definition, not a
    cycle length). Origins reaching nothing are absent from the result
    (no 0-row padding — the caller's seed table is the spine).
    """
    d = weighted_paths(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.lit(1).alias("weight"),
        ),
        max_hops=max_hops,
        sources=sources,
    )
    return (
        d.filter(F.col("a") != F.col("b"))
        .groupBy(F.col("a").alias("node"))
        .agg(
            F.count("*").cast("long").alias("n_reachable"),
            F.sum(F.expr("1000 div min_cost")).cast("long").alias("harmonic_pm"),
        )
    )


def resource_allocation(
    edges: DataFrame,
    max_nbr_degree: int = 64,
    scale: int = 10**6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Resource-allocation link-prediction index between node pairs
    sharing a neighbor → (x, y, n_common, ra_micro) with x < y:
    ra_micro = Σ over common neighbors z of ``scale div deg(z)`` (Zhou,
    Lü & Zhang 2009, "Predicting missing links via local information")
    — the link predictor that consistently beats raw common-neighbor
    counts because a shared LOW-degree neighbor is strong evidence
    while a shared hub is noise. Adamic–Adar divides by log deg(z); RA
    divides by deg(z) itself, which is why it is expressible in exact
    integer micro-units (no transcendental log) — bit-identical at any
    parallelism, replayable by an external SQL oracle.

    Scale shape = :func:`node_jaccard`'s: wedges are generated only
    through pivots with degree ≤ ``max_nbr_degree`` (a hub pivot emits
    deg² wedges and contributes ≤ scale/deg ≈ 0 signal anyway, so the
    cap changes scores by at most scale/max_nbr_degree per hub), then
    one groupBy over the candidate pairs. Never all-pairs.
    """
    und = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(
            F.col("a").isNotNull() & F.col("b").isNotNull()
            & (F.col("a") != F.col("b"))
        )
        .distinct()
    )
    adj = und.select(F.col("a").alias("node"), F.col("b").alias("nbr")).unionAll(
        und.select(F.col("b").alias("node"), F.col("a").alias("nbr"))
    )
    deg = adj.groupBy("node").agg(F.count("*").cast("long").alias("deg"))
    pivots = deg.filter(F.col("deg") <= max_nbr_degree).select(
        F.col("node").alias("nbr"), F.col("deg").alias("pdeg")
    )
    wadj = adj.join(pivots, "nbr")
    return (
        wadj.select("nbr", "pdeg", F.col("node").alias("x"))
        .join(wadj.select("nbr", F.col("node").alias("y")), "nbr")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(F.expr(f"{scale} div pdeg")).cast("long").alias("ra_micro"),
        )
    )


def node2vec_walks(
    edges: DataFrame,
    walk_len: int = 3,
    walks_per_node: int = 2,
    w_return: int = 1,
    w_common: int = 4,
    w_out: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    broadcast_membership: bool = True,
) -> DataFrame:
    """Second-order biased walks (node2vec, Grover & Leskovec 2016,
    arXiv:1607.00653) → (start, walk, step, node): like
    :func:`random_walks`, but the next hop is drawn with the p/q bias
    over the PREVIOUS node — a candidate that returns to it weighs
    ``w_return`` (1/p), one the previous node also points to weighs
    ``w_common`` (distance 1), anything else ``w_out`` (1/q) —
    interpolating between BFS-like (structural) and DFS-like
    (homophilous) neighborhoods for the downstream skip-gram corpus
    (:func:`skipgram_pairs` consumes these walks unchanged).

    Bias ratios are INTEGER weights (w_return : w_common : w_out ∝
    1/p : 1 : 1/q), and the weighted draw is the integer
    Efraimidis–Spirakis analogue: choose the candidate minimizing
    ``md5_60(start#walk#step#cand) div weight`` (ties by candidate) —
    a pure function of the graph, bit-identical at any parallelism,
    replayable for resume, and exactly recomputable by the external
    gate. Step 1 has no previous node and draws uniformly. Common-ness
    is directed membership prev→cand, the KG-native reading of
    node2vec's undirected d(prev, cand)=1.

    Shape, per hop: the frontier⋈edges candidate join of
    :func:`random_walks` plus ONE (prev, cand) membership left-join
    against the edge list, then the same (start, walk) min-aggregation
    with map-side partials (the div-key prefixes the candidate, so one
    ``min`` resolves choice + tie-break). Frontier cardinality stays
    nodes×walks regardless of edge count; a celebrity hub fans into
    the GROUPed aggregation. The membership side is BROADCAST by
    default — without the hint Catalyst sees no stats behind the
    checkpointed edge list and sort-merge-shuffles the full hub-
    amplified candidate stream once per hop (measured 13× slower at
    sf0.1); past the broadcast budget (~10^7 edges) set
    ``broadcast_membership=False`` for the shuffled equi-join on
    (prev, cand) pairs — uniform unless the graph itself is a clique.
    """
    if walk_len < 1 or walks_per_node < 1:
        raise ValueError("walk_len and walks_per_node must be >= 1")
    if min(w_return, w_common, w_out) < 1:
        raise ValueError("bias weights must be positive integers")
    from .dedup import md5_hash60

    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).distinct().localCheckpoint(eager=False)
    mark = e.select(
        F.col("_s").alias("_ps"), F.col("_d").alias("_pd"),
        F.lit(1).alias("_m"),
    )
    starts = e.select(F.col("_s").alias("start")).distinct()
    frontier = starts.select(
        "start",
        F.explode(
            F.sequence(F.lit(0), F.lit(walks_per_node - 1))
        ).alias("walk"),
        F.lit(None).cast("string").alias("prev"),
        F.col("start").alias("node"),
    )
    mark_side = F.broadcast(mark) if broadcast_membership else mark

    # same state shape as random_walks: (frontier, earlier frontiers)
    def _hop(state, s):
        frontier, levels = state
        cand = frontier.join(e, frontier["node"] == e["_s"]).join(
            mark_side,
            (F.col("prev") == F.col("_ps"))
            & (F.col("_d") == F.col("_pd")),
            "left",
        )
        weight = (
            F.when(F.col("prev").isNull(), w_common)
            .when(F.col("_d") == F.col("prev"), w_return)
            .when(F.col("_m").isNotNull(), w_common)
            .otherwise(w_out)
        )
        tagged = cand.select(
            "start", "walk", "node",
            md5_hash60(
                F.concat_ws("#", "start", "walk", F.lit(s), "_d")
            ).alias("_h"),
            weight.alias("_w"),
            F.col("_d"),
        ).select(
            "start", "walk", "node",
            F.concat(
                F.lpad(F.expr("_h div _w").cast("string"), 20, "0"),
                F.lit("#"), F.col("_d"),
            ).alias("key"),
        )
        nxt = (
            tagged.groupBy("start", "walk", "node")
            .agg(F.substring(F.min("key"), 22, 1 << 20).alias("_next"))
            .select(
                "start", "walk",
                F.col("node").alias("prev"),
                F.col("_next").alias("node"),
            )
        )
        return nxt, levels + (frontier,)

    (last, levels), _ = iterate(_hop, (frontier, ()), walk_len)
    return _walk_rows(levels + (last,))


def ranking_metrics(
    scored: DataFrame,
    truth: DataFrame,
    query_col: str = "query",
    cand_col: str = "cand",
    score_col: str = "score",
    ks: tuple[int, ...] = (1, 3, 10),
    scale: int = 1_000_000,
) -> DataFrame:
    """Filtered ranking evaluation of a link predictor / retriever →
    ONE row ``(n_truth, n_ranked, mrr_micro, hits{k}_pm, ...)``: for
    every held-out true (query, cand) pair, its FILTERED rank among
    the query's scored candidates (other true candidates ranked above
    it are discounted — the standard KG-embedding protocol of Bordes
    et al. 2013), then MRR and Hits@k aggregated in exact integer
    units (micro for MRR, per-mille for hits; floor division). A true
    pair the scorer never ranked counts in the denominator with zero
    contribution, so missing candidates hurt the score instead of
    silently vanishing — ``n_ranked`` says how many were found.

    Ties break by candidate id ascending — a total order, so the rank
    (and every metric) is bit-identical at any parallelism and
    externally replayable.

    Shape: one truth-marker equi-join, ONE window partitioned by query
    (a query's candidate list is top-k-bounded by the producer, so the
    per-partition sort is constant work — never a corpus sort), one
    left join back to the truth set, one global single-row aggregate.
    """
    from pyspark.sql.window import Window

    if not ks or min(ks) < 1:
        raise ValueError(f"ks must be positive ranks, got {ks}")
    t = truth.select(
        F.col(query_col).alias("_q"), F.col(cand_col).alias("_c")
    ).distinct()
    s = scored.select(
        F.col(query_col).alias("_q"),
        F.col(cand_col).alias("_c"),
        F.col(score_col).alias("_s"),
    )
    marked = s.join(
        t.withColumn("_true", F.lit(1)), ["_q", "_c"], "left"
    ).withColumn("_true", F.coalesce(F.col("_true"), F.lit(0)))
    w = Window.partitionBy("_q").orderBy(
        F.col("_s").desc(), F.col("_c").asc()
    )
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    ranked = marked.select(
        "_q", "_c", "_true",
        F.row_number().over(w).alias("_rn"),
        F.coalesce(F.sum("_true").over(wprev), F.lit(0)).alias("_ta"),
    )
    tr = ranked.filter(F.col("_true") == 1).select(
        "_q", "_c", (F.col("_rn") - F.col("_ta")).cast("long").alias("_rank")
    )
    ev = t.join(tr, ["_q", "_c"], "left")
    hit_aggs = [
        F.coalesce(
            F.sum(F.when(F.col("_rank") <= k, 1)), F.lit(0)
        ).alias(f"_h{k}")
        for k in ks
    ]
    # greatest(n_truth, 1): an empty truth set yields a well-defined
    # zero-metrics row instead of NULL division
    a = ev.agg(
        F.count("*").cast("long").alias("n_truth"),
        F.count("_rank").cast("long").alias("n_ranked"),
        F.coalesce(F.sum(F.expr(f"{scale} div _rank")), F.lit(0)).alias(
            "_srr"
        ),
        *hit_aggs,
    )
    return a.select(
        "n_truth",
        "n_ranked",
        F.expr("_srr div greatest(n_truth, 1)").cast("long").alias("mrr_micro"),
        *[
            F.expr(f"(1000 * _h{k}) div greatest(n_truth, 1)")
            .cast("long")
            .alias(f"hits{k}_pm")
            for k in ks
        ],
    )


def transitive_reduction2(
    edges: DataFrame,
    max_pivot_work: int = 1 << 20,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded transitive reduction → the edge set minus every edge
    (a, c) witnessed by a 2-path a→b→c — the KG-cleanup pass that
    drops redundant shortcut assertions a transitive predicate already
    implies (skos:broader, partOf, subClassOf chains accumulate these
    from independent extractions). Removal is SOUND ON ANY DIGRAPH,
    cycles included: an edge (a, c) is dropped only when some 2-hop
    witness a→b→c consists of two edges that themselves SURVIVE the
    pass, so every deletion keeps an explicit live witness path and
    reachability is preserved edge-by-edge (no induction over witness
    chains needed — the naive one-pass rule is unsound on cyclic
    inputs, e.g. a symmetric triangle where every edge witnesses the
    others and all would vanish together). Iterate for longer-range
    redundancy (every pass only shrinks the set — same fixed-round
    contract as :func:`kcore`); mutually-witnessed clusters are
    conservatively kept. Exact full-reachability reduction needs the
    closure; this is the bounded form a 10^12-edge run can afford.

    Shape: one in/out-degree groupBy, TWO wedge self-joins through
    pivots whose witness work in(b)·out(b) ≤ ``max_pivot_work`` (pass
    1 condemns every 2-hop-witnessed candidate; pass 2 re-derives
    wedges over the kept = non-candidate edges and only candidates
    re-witnessed there are removed), one distinct each, anti/semi
    joins back. A celebrity pivot would emit in·out wedge rows — the
    cap routes it out (its edges stay, conservatively unreduced)
    instead of letting one hub quadratically dominate the stage;
    self-loops are never witnesses and never removed.
    """
    if max_pivot_work < 1:
        raise ValueError("max_pivot_work must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).distinct().localCheckpoint(eager=False)
    simple = e.filter(F.col("src") != F.col("dst"))
    outd = simple.groupBy(F.col("src").alias("b")).agg(
        F.count("*").alias("_out")
    )
    ind = simple.groupBy(F.col("dst").alias("b")).agg(
        F.count("*").alias("_in")
    )
    ok = (
        outd.join(ind, "b")
        .filter(F.col("_in") * F.col("_out") <= max_pivot_work)
        .select("b")
        .localCheckpoint(eager=False)
    )

    def _wedges(base: DataFrame) -> DataFrame:
        left = base.join(ok, base["dst"] == ok["b"]).select(
            F.col("src").alias("a"), F.col("dst").alias("b2")
        )
        right = base.select(
            F.col("src").alias("b2"), F.col("dst").alias("c")
        )
        return (
            left.join(right, "b2")
            .filter(F.col("a") != F.col("c"))
            .select(F.col("a").alias("src"), F.col("c").alias("dst"))
            .distinct()
        )

    candidates = (
        _wedges(simple)
        .join(e, ["src", "dst"], "left_semi")
        .localCheckpoint(eager=False)
    )
    kept = simple.join(candidates, ["src", "dst"], "left_anti")
    condemned = _wedges(kept).join(candidates, ["src", "dst"], "left_semi")
    return e.join(condemned, ["src", "dst"], "left_anti")


def seeded_label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 2,
    src_col: str = "src",
    dst_col: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised label propagation → (node, label, round): a
    small labeled seed set spreads over an (undirected) graph — each
    round, every still-unlabeled node adopts the PLURALITY label of
    its already-labeled neighbors (ties: smallest label), and once
    adopted a label is FIXED (label spreading as monotone frontier
    growth, so the result is a pure function of graph + seeds: no
    oscillation, bit-identical at any parallelism). Seeds report
    round 0. The standard cheap labeler over an embedding kNN graph:
    hand-label a sliver, propagate to the corpus.

    Shape, per round: one labels⋈edges equi-join (messages flow only
    FROM labeled nodes — the frontier, not the corpus), one
    (node, label) count aggregation with map-side partials, one
    per-node argmin over a ``(-count, label)`` struct (resolves
    plurality + tie in ONE min, no window), one anti-join against the
    assigned set. Labeled state is (node, label) pairs, truncated per
    round by ``spark_util.iterate``; a hub's fan-in collapses in the
    count aggregation.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(
                F.col(dst_col).alias("a"), F.col(src_col).alias("b")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # conflicting duplicate seeds for one node resolve to the smallest
    # label — a total deterministic rule, so downstream rounds (and the
    # external gate) never depend on seed-row order
    assigned = (
        seeds.select(
            F.col(node_col).alias("node"), F.col(label_col).alias("label")
        )
        .groupBy("node")
        .agg(F.min("label").alias("label"))
        .withColumn("round", F.lit(0))
        .localCheckpoint(eager=False)
    )

    def _spread(assigned, r):
        msgs = und.join(
            assigned.select(F.col("node").alias("b"), "label"), "b"
        ).select(F.col("a").alias("node"), "label")
        counts = msgs.groupBy("node", "label").agg(
            F.count("*").alias("_c")
        )
        pick = (
            counts.groupBy("node")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_c")).alias("_nc"),
                        F.col("label").alias("label"),
                    )
                ).alias("_m")
            )
            .select("node", F.col("_m.label").alias("label"))
        )
        newly = pick.join(
            assigned.select("node"), "node", "left_anti"
        ).withColumn("round", F.lit(r))
        return assigned.unionByName(newly)

    return iterate(_spread, assigned, rounds)[0]


def ktruss(
    edges: DataFrame,
    k: int,
    rounds: int = 4,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """k-truss peeling over the undirected simple graph → (a, b,
    support): the edges surviving ``rounds`` rounds of deleting every
    edge in fewer than ``k-2`` triangles, with each survivor's
    triangle support in the surviving graph. The k-truss is the
    triangle-reinforced core — strictly stronger than the k-core
    (every k-truss edge's endpoints sit in the (k-1)-core) and the
    standard cohesive-subgraph cut for mining tightly-knit alias /
    community clusters out of a noisy KG.

    Same fixed-round contract as :func:`kcore`: deletion is monotone,
    so the result after r rounds is a sound OVER-approximation of the
    true k-truss (no member edge is ever removed); raise ``rounds``
    for the exact fixpoint. Integer support counts, no tie-breaks —
    bit-identical at any parallelism.

    Shape, per round: the degree-ordered triangle enumeration of
    :func:`triangle_counts` (hub-safe wedge join) on the CURRENT edge
    set, one explode to the 3 member edges, one (a, b) support count,
    one left-join + filter. The edge list shrinks monotonically and
    ``spark_util.iterate`` checkpoints it per round, so round count
    bounds job depth and later rounds run on ever-smaller graphs.
    """
    if k < 3:
        raise ValueError(f"k must be >= 3 for a k-truss, got {k}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    und = _simple_pairs(edges, src_col, dst_col).localCheckpoint(
        eager=False
    )

    def support(pairs: DataFrame) -> DataFrame:
        tris = _oriented_triangles(pairs)
        member = tris.select(
            F.explode(
                F.array(
                    F.struct(
                        F.least("u", "x").alias("a"),
                        F.greatest("u", "x").alias("b"),
                    ),
                    F.struct(
                        F.least("u", "y").alias("a"),
                        F.greatest("u", "y").alias("b"),
                    ),
                    F.struct(
                        F.least("x", "y").alias("a"),
                        F.greatest("x", "y").alias("b"),
                    ),
                )
            ).alias("e")
        ).select("e.a", "e.b")
        return member.groupBy("a", "b").agg(
            F.count("*").cast("long").alias("support")
        )

    def _peel(und, _r):
        return (
            und.join(support(und), ["a", "b"], "left")
            .filter(F.coalesce(F.col("support"), F.lit(0)) >= k - 2)
            .select("a", "b")
        )

    und = iterate(_peel, und, rounds)[0]
    return und.join(support(und), ["a", "b"], "left").select(
        "a",
        "b",
        F.coalesce(F.col("support"), F.lit(0)).cast("long").alias(
            "support"
        ),
    )
