"""BGP matching (operators/bgp.py) and fixed-point PageRank
(operators/graph.py) over small hand-checked graphs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semargl_spark.operators.bgp import match_bgp
from semargl_spark.operators.graph import SCALE, pagerank


def _triples(spark, rows):
    return spark.createDataFrame(rows, "src string, pred string, dst string")


def test_bgp_two_hop_join(spark):
    t = _triples(
        spark,
        [
            ("a", "knows", "b"),
            ("b", "knows", "c"),
            ("c", "knows", "d"),
            ("a", "type", "T"),
            ("c", "type", "T"),
        ],
    )
    out = match_bgp(
        t, [("?x", "knows", "?y"), ("?y", "knows", "?z"), ("?x", "type", "T")]
    )
    assert sorted(out.columns) == ["x", "y", "z"]
    # only a→b→c matches: c→d has no second hop, and only a,c are typed
    assert {tuple(r) for r in out.collect()} == {("a", "b", "c")}


def test_bgp_repeated_var_within_pattern(spark):
    t = _triples(spark, [("a", "p", "a"), ("a", "p", "b")])
    out = match_bgp(t, [("?x", "p", "?x")])
    assert [r["x"] for r in out.collect()] == ["a"]


def test_bgp_var_predicate(spark):
    t = _triples(spark, [("a", "p", "b"), ("a", "q", "b"), ("a", "p", "c")])
    out = match_bgp(t, [("a", "?pred", "b")])
    assert sorted(r["pred"] for r in out.collect()) == ["p", "q"]


def test_bgp_rejects_no_var_pattern_and_empty(spark):
    t = _triples(spark, [("a", "p", "b")])
    with pytest.raises(ValueError):
        match_bgp(t, [("a", "p", "b")])
    with pytest.raises(ValueError):
        match_bgp(t, [])


def test_bgp_selectivity_order_is_deterministic(spark):
    # 2-constant pattern anchors the join tree regardless of position
    t = _triples(spark, [("a", "knows", "b"), ("a", "type", "T")])
    p1 = [("?x", "knows", "?y"), ("?x", "type", "T")]
    p2 = [("?x", "type", "T"), ("?x", "knows", "?y")]
    r1 = {tuple(r) for r in match_bgp(t, p1).collect()}
    r2 = {tuple(r) for r in match_bgp(t, p2).collect()}
    assert r1 == r2 == {("a", "b")}


def test_pagerank_sink_outranks_chain(spark):
    # star: everyone links to z (plus a chain edge); z must rank top
    e = spark.createDataFrame(
        [("a", "z"), ("b", "z"), ("c", "z"), ("a", "b")],
        "src string, dst string",
    )
    rows = {r["node"]: r["rank_fp"] for r in pagerank(e, iterations=5).collect()}
    assert rows["z"] == max(rows.values())
    assert rows["z"] > rows["b"] > rows["c"]  # b gets a's extra share


def test_pagerank_partition_invariant_bit_exact(spark):
    e = spark.createDataFrame(
        [(f"n{i}", f"n{(i * 7 + 3) % 23}") for i in range(23)],
        "src string, dst string",
    )
    a = {r["node"]: r["rank_fp"] for r in pagerank(e, iterations=4).collect()}
    b = {
        r["node"]: r["rank_fp"]
        for r in pagerank(e.repartition(11), iterations=4).collect()
    }
    assert a == b  # integer arithmetic: bit-identical at any partitioning


def test_pagerank_mass_conserved_within_floor_loss(spark):
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")],
        "src string, dst string",
    )
    total = (
        pagerank(e, iterations=5)
        .agg(F.sum("rank_fp").alias("s"))
        .collect()[0]["s"]
    )
    # floor rounding only ever loses mass, and at most ~N units/round
    assert 0.99 * SCALE < total <= SCALE


def test_bounded_paths_min_hops_diamond(spark):
    from semargl_spark.operators.graph import bounded_paths

    # diamond + shortcut: a→d reachable in 2 (via b or c) and b→e etc.;
    # a→e has a 3-hop path and no shorter one; the a→d shortcut edge
    # makes (a,d) hops=1 even though 2-hop paths exist
    t = _triples(
        spark,
        [
            ("a", "knows", "b"),
            ("a", "knows", "c"),
            ("b", "knows", "d"),
            ("c", "knows", "d"),
            ("d", "knows", "e"),
            ("a", "knows", "d"),
            ("x", "other", "y"),  # filtered out by pred
        ],
    )
    out = bounded_paths(t, "knows", max_hops=3)
    got = {(r["a"], r["b"]): r["hops"] for r in out.collect()}
    assert got == {
        ("a", "b"): 1, ("a", "c"): 1, ("a", "d"): 1,
        ("b", "d"): 1, ("c", "d"): 1, ("d", "e"): 1,
        ("a", "e"): 2, ("b", "e"): 2, ("c", "e"): 2,
    }


def test_bounded_paths_cycle_terminates(spark):
    from semargl_spark.operators.graph import bounded_paths

    t = _triples(spark, [("a", "p", "b"), ("b", "p", "a")])
    out = bounded_paths(t, "p", max_hops=4)
    got = {(r["a"], r["b"]): r["hops"] for r in out.collect()}
    # self-reachability appears at hop 2, never shorter, never duplicated
    assert got == {
        ("a", "b"): 1, ("b", "a"): 1, ("a", "a"): 2, ("b", "b"): 2,
    }


def test_kmeans_two_obvious_clusters(spark):
    from semargl_spark.operators.clustering import kmeans_assign

    rows = [
        (0, [0.0, 0.1]), (1, [10.0, 10.1]),  # seeds → clusters 0, 1
        (2, [0.2, -0.1]), (3, [9.8, 10.0]), (4, [0.1, 0.0]), (5, [10.2, 9.9]),
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_assign(vecs, k=2, iterations=2, dims=2)
    got = {r["vec_id"]: r["cluster"] for r in out.collect()}
    assert got == {0: 0, 2: 0, 4: 0, 1: 1, 3: 1, 5: 1}


def test_kmeans_partitioning_invariant(spark):
    from semargl_spark.operators.clustering import kmeans_assign

    import random

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(-1, 1)])
        for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {(r["vec_id"], r["cluster"], r["dist_fp"])
         for r in kmeans_assign(vecs, k=3, iterations=3, dims=3).collect()}
    b = {(r["vec_id"], r["cluster"], r["dist_fp"])
         for r in kmeans_assign(vecs.repartition(13), k=3, iterations=3,
                                dims=3).collect()}
    assert a == b


def test_semdedup_min_id_keeper_within_cluster(spark):
    """Parallel vectors (cosine 1) in the same k-means cell collapse to
    the min-id keeper; near-orthogonal vectors survive; similar vectors
    in DIFFERENT cells are never compared (cell-bounded candidacy)."""
    from semargl_spark.operators.clustering import semdedup

    rows = [
        (0, [1.0, 0.01]), (1, [10.0, 10.1]),        # seeds → cells 0, 1
        (2, [2.0, 0.02]), (4, [0.5, 0.005]),        # ∥ to 0 → dups of 0
        (3, [9.9, 10.0]),                           # ∥ to 1 → dup of 1
        (5, [0.9, -0.9]),                           # cell 0, orthogonal-ish
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup(vecs, k=2, iterations=2, dims=2,
                   tau2_num=98, tau2_den=100)
    got = {r["vec_id"]: (r["dup_of"], r["is_dup"]) for r in out.collect()}
    assert got[0] == (None, False) and got[1] == (None, False)
    assert got[2] == (0, True) and got[4] == (0, True)
    assert got[3] == (1, True)
    assert got[5] == (None, False)


def test_semdedup_partitioning_invariant(spark):
    from semargl_spark.operators.clustering import semdedup

    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1), rng.uniform(-1, 1), rng.uniform(-1, 1)])
        for i in range(40)
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    a = {tuple(r) for r in semdedup(vecs, k=3, iterations=2, dims=3,
                                    tau2_num=50, tau2_den=100).collect()}
    b = {tuple(r) for r in semdedup(vecs.repartition(13), k=3, iterations=2,
                                    dims=3, tau2_num=50,
                                    tau2_den=100).collect()}
    assert a == b
    assert any(r[3] for r in a) and any(not r[3] for r in a)


def test_semdedup_guards_unnormalized_inputs_and_bad_tau(spark):
    """Overflowing ‖q‖² must raise, not silently NULL the decimal test
    (which would drop duplicate pairs); τ² outside (0,1]·10^-4 grid is
    rejected up front."""
    import pytest

    from semargl_spark.operators.clustering import semdedup

    # under ANSI mode (Spark 4 default) the int64 square raises in the
    # eager kmeans stage; with ANSI off the explicit in_bounds
    # raise_error fires in the pairwise stage — either way, loud
    big = spark.createDataFrame(
        [(0, [3.0e5, 0.0]), (1, [3.0e5, 1.0]), (2, [2.9e5, 0.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="(?i)overflow"):
        semdedup(big, k=2, iterations=1, dims=2).collect()

    ok = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="tau2"):
        semdedup(ok, k=1, iterations=1, dims=2, tau2_num=0, tau2_den=100)
    with pytest.raises(ValueError, match="tau2"):
        semdedup(ok, k=1, iterations=1, dims=2, tau2_num=2, tau2_den=1)


def test_lsh_and_cosine_arrow_path_bit_equals_expr(spark):
    """The Arrow-vectorized fold must be BIT-identical to the Catalyst
    higher-order-function fold (same per-dim accumulation order)."""
    import random

    from semargl_spark.operators import similarity as S
    from pyspark.sql import functions as F

    rng = random.Random(99)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)],
            [rng.uniform(-1, 1) for _ in range(64)])
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, a array<double>, b array<double>")
    b1 = {r["vec_id"]: r["bucket"] for r in
          S.lsh_bucket(df, "a", 64, 8, method="arrow").collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in
          S.lsh_bucket(df, "a", 64, 8, method="expr").collect()}
    assert b1 == b2
    c1 = {r["vec_id"]: r["cosine"] for r in
          S.with_cosine(df, "a", "b", method="arrow").collect()}
    c2 = {r["vec_id"]: r["cosine"] for r in
          S.with_cosine(df, "a", "b", method="expr").collect()}
    assert c1 == c2  # exact float equality, not approx


# --- OPTIONAL / UNION (operators/bgp.py) -------------------------------

def test_bgp_optional_null_when_unmatched(spark):
    from semargl_spark.operators.bgp import match_bgp_optional

    t = _triples(
        spark,
        [
            ("a", "knows", "b"),
            ("c", "knows", "d"),
            ("b", "mbox", "b@x"),
        ],
    )
    out = match_bgp_optional(
        t, [("?x", "knows", "?y")], [[("?y", "mbox", "?m")]]
    )
    assert out.columns == ["m", "x", "y"]
    rows = {(r["x"], r["y"], r["m"]) for r in out.collect()}
    assert rows == {("a", "b", "b@x"), ("c", "d", None)}


def test_bgp_optional_multi_pattern_group_is_all_or_nothing(spark):
    from semargl_spark.operators.bgp import match_bgp_optional

    # optional group needs BOTH mbox and name: y=b has both, y=d only mbox
    t = _triples(
        spark,
        [
            ("a", "knows", "b"),
            ("c", "knows", "d"),
            ("b", "mbox", "b@x"),
            ("b", "name", "B"),
            ("d", "mbox", "d@x"),
        ],
    )
    out = match_bgp_optional(
        t, [("?x", "knows", "?y")], [[("?y", "mbox", "?m"), ("?y", "name", "?n")]]
    )
    rows = {(r["x"], r["y"], r["m"], r["n"]) for r in out.collect()}
    assert rows == {("a", "b", "b@x", "B"), ("c", "d", None, None)}


def test_bgp_optional_rejects_disconnected_group(spark):
    from semargl_spark.operators.bgp import match_bgp_optional

    t = _triples(spark, [("a", "knows", "b")])
    with pytest.raises(ValueError):
        match_bgp_optional(t, [("?x", "knows", "?y")], [[("?p", "mbox", "?q")]])


def test_bgp_union_pads_unbound_vars_and_keeps_duplicates(spark):
    from semargl_spark.operators.bgp import match_bgp_union

    t = _triples(
        spark,
        [
            ("a", "knows", "b"),
            ("a", "likes", "b"),
            ("a", "type", "T"),
        ],
    )
    out = match_bgp_union(
        t,
        [
            [("?x", "knows", "?y")],
            [("?x", "likes", "?y"), ("?x", "type", "?t")],
        ],
    )
    assert out.columns == ["t", "x", "y"]
    rows = sorted(
        ((r["x"], r["y"], r["t"]) for r in out.collect()),
        key=lambda v: (v[2] or "",),
    )
    assert rows == [("a", "b", None), ("a", "b", "T")]


# --- triangle counting (operators/graph.py) ----------------------------

def test_triangle_counts_simple(spark):
    from semargl_spark.operators.graph import triangle_counts

    # one triangle a-b-c plus a pendant edge c-d
    e = _triples(
        spark,
        [
            ("a", "p", "b"),
            ("b", "p", "c"),
            ("c", "p", "a"),
            ("c", "p", "d"),
        ],
    )
    out = {r["node"]: r["triangles"] for r in triangle_counts(e).collect()}
    assert out == {"a": 1, "b": 1, "c": 1}


def test_triangle_counts_ignores_direction_dups_and_self_loops(spark):
    from semargl_spark.operators.graph import triangle_counts

    e = _triples(
        spark,
        [
            ("a", "p", "b"),
            ("b", "q", "a"),   # reverse duplicate
            ("a", "r", "a"),   # self loop
            ("b", "p", "c"),
            ("a", "p", "c"),
        ],
    )
    out = {r["node"]: r["triangles"] for r in triangle_counts(e).collect()}
    assert out == {"a": 1, "b": 1, "c": 1}


def test_triangle_counts_hub_k4(spark):
    from semargl_spark.operators.graph import triangle_counts

    # K4: every node sits in C(3,2)=3 triangles, 4 triangles total
    nodes = ["a", "b", "c", "d"]
    rows = [(u, "p", v) for i, u in enumerate(nodes) for v in nodes[i + 1:]]
    out = {r["node"]: r["triangles"] for r in triangle_counts(_triples(spark, rows)).collect()}
    assert out == {n: 3 for n in nodes}


# --- neighbor Jaccard (operators/graph.py) -----------------------------

def test_node_jaccard_hand_computed(spark):
    from semargl_spark.operators.graph import node_jaccard

    # a-b, a-c, b-c, b-d: N(a)={b,c} N(b)={a,c,d} N(c)={a,b} N(d)={b}
    e = _triples(
        spark,
        [("a", "p", "b"), ("a", "p", "c"), ("b", "p", "c"), ("b", "p", "d")],
    )
    out = {(r["x"], r["y"]): r for r in node_jaccard(e).collect()}
    # (a,b): common {c} → 1000//(2+3-1) = 250
    assert out[("a", "b")]["jaccard_permille"] == 250
    # (a,c): common {b} → 1000//(2+2-1) = 333
    assert out[("a", "c")]["jaccard_permille"] == 333
    # (b,c): common {a} → 1000//(3+2-1) = 250
    assert out[("b", "c")]["jaccard_permille"] == 250
    # (a,d) and (c,d): common {b} → 1000//(2+1-1)=500, 1000//(2+1-1)=500
    assert out[("a", "d")]["jaccard_permille"] == 500
    assert out[("c", "d")]["jaccard_permille"] == 500


def test_node_jaccard_hub_pivot_excluded_but_degree_honest(spark):
    from semargl_spark.operators.graph import node_jaccard

    # hub h connects to x0..x9 (deg 10 > guard 5); x0-x1 also share m
    rows = [("h", "p", f"x{i}") for i in range(10)]
    rows += [("x0", "p", "m"), ("x1", "p", "m")]
    out = {(r["x"], r["y"]): r for r in
           node_jaccard(_triples(spark, rows), max_nbr_degree=5).collect()}
    # the hub generates NO wedges itself (not a pivot), so no xi-xj
    # pairs exist except (x0,x1) via pivot m; (h,m) appears via the
    # low-degree pivots x0/x1. Degrees still include the hub edges.
    assert set(out) == {("x0", "x1"), ("h", "m")}
    r = out[("x0", "x1")]
    assert (r["inter"], r["deg_x"], r["deg_y"]) == (1, 2, 2)
    assert r["jaccard_permille"] == 1000 // 3
    hm = out[("h", "m")]
    assert (hm["inter"], hm["deg_x"], hm["deg_y"]) == (2, 10, 2)
    assert hm["jaccard_permille"] == 2000 // 10


# --- FILTER (operators/bgp.py) -----------------------------------------

def test_bgp_filter_applies_predicates(spark):
    from semargl_spark.operators.bgp import match_bgp_filter

    t = _triples(
        spark,
        [("a", "knows", "b"), ("b", "knows", "a"), ("b", "knows", "c")],
    )
    out = match_bgp_filter(t, [("?x", "knows", "?y")], ["x < y"])
    assert {(r["x"], r["y"]) for r in out.collect()} == {("a", "b"), ("b", "c")}


def test_bgp_filter_rejects_unbound_variable(spark):
    from semargl_spark.operators.bgp import match_bgp_filter

    t = _triples(spark, [("a", "knows", "b")])
    with pytest.raises(ValueError):
        match_bgp_filter(t, [("?x", "knows", "?y")], ["x < z"])
    # function calls and keywords are not mistaken for variables
    out = match_bgp_filter(
        t, [("?x", "knows", "?y")], ["length(x) = 1 and x is not null"]
    )
    assert out.count() == 1


def test_bgp_agg_groups_and_counts(spark):
    from semargl_spark.operators.bgp import match_bgp_agg

    t = _triples(
        spark,
        [
            ("a", "knows", "b"),
            ("a", "knows", "c"),
            ("d", "knows", "b"),
            ("b", "likes", "x"),
            ("c", "likes", "x"),
            ("b", "type", "T"),
        ],
    )
    out = match_bgp_agg(
        t,
        [("?s", "knows", "?o"), ("?o", "?p", "?v")],
        ["p"],
        {"n": "count(*)", "n_targets": "count(distinct o)"},
    )
    got = {r["p"]: (r["n"], r["n_targets"]) for r in out.collect()}
    # likes: b matched twice (a,d know b) + c once = 3 solutions, 2 targets
    # type: b matched twice = 2 solutions, 1 target
    assert got == {"likes": (3, 2), "type": (2, 1)}


def test_bgp_agg_rejects_unbound_names(spark):
    from semargl_spark.operators.bgp import match_bgp_agg

    t = _triples(spark, [("a", "p", "b")])
    with pytest.raises(ValueError):
        match_bgp_agg(t, [("?x", "p", "?y")], ["z"], {"n": "count(*)"})
    with pytest.raises(ValueError):
        match_bgp_agg(t, [("?x", "p", "?y")], ["x"], {"n": "count(distinct q)"})
    with pytest.raises(ValueError):
        match_bgp_agg(t, [("?x", "p", "?y")], ["x"], {})


def test_construct_instantiates_template_with_set_semantics(spark):
    from semargl_spark.operators.bgp import construct

    t = _triples(
        spark,
        [
            ("a", "knows", "b"),
            ("b", "knows", "c"),
            ("a2", "knows", "b"),
            # second chain to the same endpoint pair: a→b→c twice? no —
            # a2→b→c is distinct; duplicate instantiation comes from the
            # type template collapsing per-head
            ("b", "knows", "c2"),
        ],
    )
    out = construct(
        t,
        [("?x", "knows", "?y"), ("?y", "knows", "?z")],
        [("?x", "acq", "?z"), ("?x", "type", "Conn")],
    )
    got = {tuple(r) for r in out.collect()}
    # solutions: (a,b,c), (a,b,c2), (a2,b,c), (a2,b,c2)
    assert got == {
        ("a", "acq", "c"),
        ("a", "acq", "c2"),
        ("a2", "acq", "c"),
        ("a2", "acq", "c2"),
        ("a", "type", "Conn"),   # deduped across the two (a,·,·) solutions
        ("a2", "type", "Conn"),
    }


def test_construct_rejects_unbound_template_var_and_empty(spark):
    from semargl_spark.operators.bgp import construct

    t = _triples(spark, [("a", "p", "b")])
    with pytest.raises(ValueError):
        construct(t, [("?x", "p", "?y")], [("?x", "q", "?missing")])
    with pytest.raises(ValueError):
        construct(t, [("?x", "p", "?y")], [])


def test_gram_matrix_matches_numpy_and_partitioning_invariant(spark):
    import numpy as np

    from semargl_spark.operators.clustering import gram_matrix

    rng = [[0.5, -0.25, 0.0015], [1.0, 0.5, -0.0005], [-0.5, 0.125, 1.0]]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "vec_id long, embedding array<double>"
    )
    x = np.asarray(rng) * 1000
    q = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(np.int64)
    want = q.T @ q
    for parts in (1, 7):
        got = {
            (r["i"], r["j"]): r["dot"]
            for r in gram_matrix(df.repartition(parts)).collect()
        }
        assert len(got) == 9
        for (i, j), v in got.items():
            assert v == want[i, j], (i, j, v, want[i, j])
    # half-away-from-zero: -0.0005*1000 = -0.5 → -1, 0.0015*1000 = 1.5 → 2
    assert q[0, 2] == 2 and q[1, 2] == -1


def test_gram_matrix_rejects_bad_scale(spark):
    import pytest as _pytest

    from semargl_spark.operators.clustering import gram_matrix

    df = spark.createDataFrame([(0, [0.1])], "vec_id long, embedding array<double>")
    with _pytest.raises(ValueError):
        gram_matrix(df, scale=0)


# ---------------------------------------------------- node_index / negatives


def _toy_edges(spark, n=40):
    rows = [(f"urn:e:{i}", "urn:p:knows", f"urn:e:{(i * 7 + 3) % n}")
            for i in range(n)]
    return spark.createDataFrame(rows, "src string, pred string, dst string")


def test_node_index_contiguous_and_unique(spark):
    from semargl_spark.operators.graph import node_index

    edges = _toy_edges(spark)
    idx = node_index(edges, n_buckets=8).collect()
    ids = sorted(r["node_idx"] for r in idx)
    assert ids == list(range(len(idx)))
    assert len({r["node"] for r in idx}) == len(idx)


def test_node_index_partitioning_invariant(spark):
    from semargl_spark.operators.graph import node_index

    edges = _toy_edges(spark)
    a = {(r["node"], r["node_idx"])
         for r in node_index(edges.repartition(1), n_buckets=8).collect()}
    b = {(r["node"], r["node_idx"])
         for r in node_index(edges.repartition(13), n_buckets=8).collect()}
    assert a == b


def test_negative_samples_exclude_true_edges_and_bounded(spark):
    from semargl_spark.operators.graph import negative_samples

    edges = _toy_edges(spark)
    true_set = {(r["src"], r["pred"], r["dst"]) for r in edges.collect()}
    neg = negative_samples(edges, k=3).collect()
    # filtered: no corruption may coincide with a true edge
    assert all((r["src"], r["pred"], r["neg_dst"]) not in true_set
               for r in neg)
    # at most k per positive, neg_ix within range
    from collections import Counter

    per_edge = Counter((r["src"], r["pred"], r["dst"]) for r in neg)
    assert max(per_edge.values()) <= 3
    assert all(0 <= r["neg_ix"] < 3 for r in neg)
    # deterministic under reshuffling
    neg2 = negative_samples(edges.repartition(9), k=3).collect()
    assert {tuple(r) for r in neg} == {tuple(r) for r in neg2}


def test_negative_samples_rejects_bad_k(spark):
    from semargl_spark.operators.graph import negative_samples

    with pytest.raises(ValueError):
        negative_samples(_toy_edges(spark), k=0)


# -------------------------------------- MINUS / top-k / alt paths / LPA


def _tri(spark, rows):
    return spark.createDataFrame(rows, "src string, pred string, dst string")


def test_bgp_minus_removes_compatible_solutions(spark):
    from semargl_spark.operators.bgp import match_bgp_minus

    t = _tri(spark, [
        ("a1", "knows", "b1"), ("a2", "knows", "b2"),
        ("b1", "type", "Thing"),
    ])
    out = match_bgp_minus(
        t, [("?a", "knows", "?b")], [("?b", "type", "Thing")]
    ).collect()
    assert {(r["a"], r["b"]) for r in out} == {("a2", "b2")}


def test_bgp_minus_rejects_disjoint_groups(spark):
    from semargl_spark.operators.bgp import match_bgp_minus

    t = _tri(spark, [("a", "p", "b")])
    with pytest.raises(ValueError):
        match_bgp_minus(t, [("?x", "p", "?y")], [("?q", "p", "?r")])


def test_bgp_topk_deterministic_and_validated(spark):
    from semargl_spark.operators.bgp import match_bgp_topk

    t = _tri(spark, [(f"s{i:02d}", "p", f"o{i % 3}") for i in range(20)])
    out = match_bgp_topk(t, [("?x", "p", "?y")], [("x", "desc")], k=5)
    got = [(r["x"], r["y"]) for r in out.collect()]
    assert sorted(got, reverse=True) == [
        (f"s{i:02d}", f"o{i % 3}") for i in range(19, 14, -1)]
    with pytest.raises(ValueError):
        match_bgp_topk(t, [("?x", "p", "?y")], [("z", "asc")], k=5)
    with pytest.raises(ValueError):
        match_bgp_topk(t, [("?x", "p", "?y")], [("x", "up")], k=5)
    with pytest.raises(ValueError):
        match_bgp_topk(t, [("?x", "p", "?y")], [("x", "asc")], k=0)


def test_bounded_paths_alt_inverse_and_alternation(spark):
    from semargl_spark.operators.graph import bounded_paths_alt

    # knows: a->b ; rel: c->b  (inverse step contributes b->c)
    t = _tri(spark, [("a", "knows", "b"), ("c", "rel", "b")])
    out = bounded_paths_alt(t, ["knows"], max_hops=2, inverse_preds=["rel"])
    got = {(r["a"], r["b"], r["hops"]) for r in out.collect()}
    assert got == {("a", "b", 1), ("b", "c", 1), ("a", "c", 2)}
    with pytest.raises(ValueError):
        bounded_paths_alt(t, [], max_hops=2)


def test_label_propagation_two_cliques(spark):
    from semargl_spark.operators.graph import label_propagation

    clique1 = [(f"a{i}", "p", f"a{j}") for i in range(4) for j in range(i)]
    clique2 = [(f"z{i}", "p", f"z{j}") for i in range(4) for j in range(i)]
    bridge = [("a0", "p", "z0")]
    t = _tri(spark, clique1 + clique2 + bridge)
    out = {r["node"]: r["label"]
           for r in label_propagation(t, rounds=3).collect()}
    # each clique converges to its own min label; the bridge does not merge them
    assert {out[f"a{i}"] for i in range(4)} == {"a0"}
    assert {out[f"z{i}"] for i in range(4)} == {"z0"}


def test_label_propagation_partition_invariant(spark):
    from semargl_spark.operators.graph import label_propagation

    rows = [(f"n{i}", "p", f"n{(i * 3 + 1) % 17}") for i in range(17)]
    t = _tri(spark, rows)
    a = {tuple(r) for r in label_propagation(t.repartition(1), rounds=2).collect()}
    b = {tuple(r) for r in label_propagation(t.repartition(11), rounds=2).collect()}
    assert a == b
    with pytest.raises(ValueError):
        label_propagation(t, rounds=0)


# -------------------------------------------- neighbor agg / modularity


def test_neighbor_agg_hand_computed(spark):
    from semargl_spark.operators.graph import neighbor_agg

    edges = _tri(spark, [("a", "p", "b"), ("b", "p", "c")]).select("src", "dst")
    emb = spark.createDataFrame(
        [("a", [1.0, -2.0]), ("b", [0.5, 0.5]), ("c", [-1.0, 1.0])],
        "node string, embedding array<float>",
    )
    out = {(r["node"], r["dim"]): r["mean_q"]
           for r in neighbor_agg(edges, emb).collect()}
    # a's neighbor: b -> (500, 500); c's neighbor: b -> (500, 500)
    # b's neighbors: a, c -> floor((1000-1000)/2)=0, floor((-2000+1000)/2)=-500
    assert out == {
        ("a", 0): 500, ("a", 1): 500,
        ("c", 0): 500, ("c", 1): 500,
        ("b", 0): 0, ("b", 1): -500,
    }
    with pytest.raises(ValueError):
        neighbor_agg(edges, emb, scale=0)


def test_modularity_two_cliques_beats_merged(spark):
    from semargl_spark.operators.graph import modularity

    clique1 = [(f"a{i}", "p", f"a{j}") for i in range(4) for j in range(i)]
    clique2 = [(f"z{i}", "p", f"z{j}") for i in range(4) for j in range(i)]
    bridge = [("a0", "p", "z0")]
    edges = _tri(spark, clique1 + clique2 + bridge).select("src", "dst")
    split = spark.createDataFrame(
        [(f"a{i}", "A") for i in range(4)] + [(f"z{i}", "Z") for i in range(4)],
        "node string, label string",
    )
    merged = split.select("node", F.lit("ALL").alias("label"))
    q_split = sum(r["q_micro"] for r in modularity(edges, split).collect())
    q_merged = sum(r["q_micro"] for r in modularity(edges, merged).collect())
    # m=13; split: 2*(floor(6e6/13) - floor(13^2*1e6/676)) ≈ 2*211538 > 0
    assert q_split > q_merged
    assert q_merged <= 0  # single community: e/m=1, (2m/2m)^2=1 -> ~0 minus floor loss
    # exact check of one community's row
    rows = {r["label"]: r for r in modularity(edges, split).collect()}
    assert rows["A"]["n_nodes"] == 4 and rows["A"]["internal_edges"] == 6
    assert rows["A"]["degree_sum"] == 13  # 3+3+3+4 (a0 has the bridge)


def test_modularity_partitioning_invariant(spark):
    from semargl_spark.operators.graph import label_propagation, modularity

    rows = [(f"n{i}", "p", f"n{(i * 5 + 2) % 23}") for i in range(23)]
    edges = _tri(spark, rows).select("src", "dst")
    comm = label_propagation(_tri(spark, rows), rounds=2)
    a = {tuple(r) for r in modularity(edges.repartition(1), comm).collect()}
    b = {tuple(r) for r in modularity(edges.repartition(7), comm).collect()}
    assert a == b


def test_adjacency_export_cap_and_exact_degree(spark):
    from semargl_spark.operators.graph import adjacency_export

    rows = [("hub", "p", f"n{i:03d}") for i in range(50)] + [("x", "p", "y")]
    edges = _tri(spark, rows)
    out = {r["node"]: r for r in adjacency_export(edges, cap=5).collect()}
    assert out["hub"]["degree"] == 50  # exact, despite the cap
    assert out["hub"]["neighbors_csv"] == "n000,n001,n002,n003,n004"
    assert out["x"]["degree"] == 1 and out["x"]["neighbors_csv"] == "y"
    with pytest.raises(ValueError):
        adjacency_export(edges, cap=0)


def test_ppr_concentrates_on_seed_neighborhood(spark):
    from semargl_spark.operators.graph import SCALE, personalized_pagerank

    # chain a->b->c->d plus far f->g; seed = a
    edges = _tri(spark, [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "d"),
                         ("f", "p", "g")]).select("src", "dst")
    r = {x["node"]: x["rank_fp"]
         for x in personalized_pagerank(edges, ["a"], iterations=4).collect()}
    assert r["a"] > r["b"] > r["c"] > 0
    assert r["f"] == 0  # unreachable from the seed, gets no teleport
    # mass conservation within floor loss
    assert 0 < sum(r.values()) <= SCALE
    with pytest.raises(ValueError):
        personalized_pagerank(edges, [], iterations=2)


def test_ppr_with_every_node_seeded_equals_pagerank(spark):
    from semargl_spark.operators.graph import pagerank, personalized_pagerank

    # d and e are dangling (no out-edges): their mass is spread over
    # every seed, which with every node seeded is pagerank's uniform rule
    edges = _tri(spark, [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a"),
                         ("a", "p", "d"), ("c", "p", "e")]).select("src", "dst")
    nodes = ["a", "b", "c", "d", "e"]
    pr = sorted(tuple(r) for r in pagerank(edges, iterations=4).collect())
    ppr = sorted(
        tuple(r)
        for r in personalized_pagerank(edges, nodes, iterations=4).collect()
    )
    assert [n for n, _ in pr] == nodes
    assert ppr == pr


def test_ppr_partition_invariant_bit_exact(spark):
    from semargl_spark.operators.graph import personalized_pagerank

    rows = [(f"n{i}", "p", f"n{(i * 3 + 1) % 11}") for i in range(11)]
    e = _tri(spark, rows).select("src", "dst")
    a = {tuple(r) for r in
         personalized_pagerank(e.repartition(1), ["n0"], iterations=3).collect()}
    b = {tuple(r) for r in
         personalized_pagerank(e.repartition(7), ["n0"], iterations=3).collect()}
    assert a == b


def test_knn_graph_symmetrization_and_mutual(spark):
    """Hand-checkable 1-D-ish corpus in one LSH bucket: undirected
    edges carry src_id < dst_id, and mutual marks exactly the pairs
    present in BOTH directed top-k lists."""
    from semargl_spark.operators import similarity as S

    # 4 vectors along one axis, all hashing to the same bucket
    # (identical signs against every hyperplane ⇒ same signature);
    # cosines are 1.0 for parallel vectors, so the k=1 neighbor is
    # tie-broken by neighbor_id DESC: everyone picks the highest id
    # other than itself → directed edges (0→3, 1→3, 2→3, 3→2); only
    # (2,3) appears in both directions.
    rows = [(i, [float(i + 1)] + [0.0] * 63) for i in range(4)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    got = {
        (r["src_id"], r["dst_id"]): r["mutual"]
        for r in S.knn_graph(df, dim=64, k=1).collect()
    }
    assert got == {(0, 3): False, (1, 3): False, (2, 3): True}
    plan = (
        S.knn_graph(df, dim=64, k=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_quantize_embeddings_hand_computed(spark):
    import pytest as _pytest

    from semargl_spark.operators.similarity import quantize_embeddings

    df = spark.createDataFrame(
        [(1, [2.0, -1.0, 0.0]), (2, [0.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    got = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    # m=2: floor(127·2/2)=127, floor(127·-1/2)=floor(-63.5)=-64, 0
    assert got[1]["scale_num"] == 2.0 and got[1]["qvec"] == [127, -64, 0]
    assert got[2]["scale_num"] == 0.0 and got[2]["qvec"] == [0, 0, 0]
    with _pytest.raises(ValueError):
        quantize_embeddings(df, bits=1)
    plan = quantize_embeddings(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "Python" not in plan, plan


def test_quantized_topk_integer_dot_and_bucket_path(spark):
    import pytest as _pytest

    from semargl_spark.operators import similarity as S

    # brute-force path (no bucket column): hand-checkable int dots
    qz = spark.createDataFrame(
        [(1, 1.0, [127, 0]), (2, 1.0, [100, 50]), (3, 1.0, [-100, 2])],
        "vec_id int, scale_num double, qvec array<int>",
    )
    queries = spark.createDataFrame([(1,)], "vec_id int")
    got = [
        (r["neighbor_id"], r["dot"])
        for r in S.quantized_topk(qz, queries, k=2).collect()
    ]
    # dot(1,2)=12700, dot(1,3)=-12700 → ranked desc
    assert got == [(2, 12700), (3, -12700)]
    with _pytest.raises(ValueError):
        S.quantized_topk(qz, queries, k=0)

    # bucketed path: equi-join on bucket, never a cross product, and
    # candidates outside the query's bucket are not scored
    qzb = qz.withColumn(
        "bucket", (F.col("vec_id") % 2).cast("int")
    )
    out = S.quantized_topk(qzb, queries, k=2)
    assert [(r["neighbor_id"], r["dot"]) for r in out.collect()] == [
        (3, -12700)
    ]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_quantized_search_differential_vs_numpy(spark):
    """Seeded random corpus: the bucketed quantized search must equal a
    numpy mirror of the whole chain (sign-LSH buckets → int8 floor
    quantization → integer dot → per-query top-k with the engine's
    tie-break), and dequantization error stays within the m/127 bound."""
    import random

    import numpy as np

    from semargl_spark.operators import similarity as S

    rng = random.Random(7)
    n, dim, k = 40, 16, 3
    vecs = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id int, embedding array<double>",
    )
    qz = S.quantize_embeddings(S.lsh_bucket(df, "embedding", dim, 4))
    queries = df.select("vec_id").filter(F.col("vec_id") % 10 == 0)
    got = {
        (r["query_id"], r["neighbor_id"], r["dot"])
        for r in S.quantized_topk(qz, queries, k=k).collect()
    }

    planes = np.array(S._hyperplanes(dim, 4, seed=42))
    arr = np.array(vecs)
    # mirror the engine's per-dim fold-order dot for the sign only
    # (numpy sum is fold-ordered for 1-D float64 slices of this size)
    buckets = ((arr @ planes.T >= 0) * (1 << np.arange(4))).sum(axis=1)
    m = np.abs(arr).max(axis=1)
    q = np.where(
        m[:, None] == 0, 0, np.floor(127.0 * arr / np.where(m == 0, 1, m)[:, None])
    ).astype(np.int64)
    expect = set()
    for qi in range(0, n, 10):
        cand = [
            (int(q[qi] @ q[ci]), ci)
            for ci in range(n)
            if ci != qi and buckets[ci] == buckets[qi]
        ]
        for dot, ci in sorted(cand, key=lambda t: (-t[0], -t[1]))[:k]:
            expect.add((qi, ci, dot))
    assert got == expect
    # dequantization bound: |x − qvec·m/127| ≤ m/127 per component
    for i in range(n):
        if m[i] > 0:
            err = np.abs(arr[i] - q[i] * m[i] / 127.0).max()
            assert err <= m[i] / 127.0 + 1e-12


def test_kleene_closure_fixpoint_on_cycle(spark):
    from semargl_spark.operators.graph import kleene_closure

    # 3-cycle plus a tail: closure is every ordered pair within the
    # cycle (incl. self-loops via the cycle) plus cycle-nodes → tail
    t = _triples(
        spark,
        [
            ("a", "p", "b"),
            ("b", "p", "c"),
            ("c", "p", "a"),
            ("c", "p", "t"),
            ("x", "other", "y"),  # filtered out by pred
        ],
    )
    got = {(r["a"], r["b"]) for r in kleene_closure(t, "p").collect()}
    cyc = {"a", "b", "c"}
    expect = {(u, v) for u in cyc for v in cyc} | {(u, "t") for u in cyc}
    assert got == expect


def test_kleene_closure_seeded_restricts_sources(spark):
    from semargl_spark.operators.graph import kleene_closure

    t = _triples(
        spark,
        [("a", "p", "b"), ("b", "p", "c"), ("z", "p", "a")],
    )
    seeds = spark.createDataFrame([("b",)], "start string")
    got = {(r["a"], r["b"]) for r in kleene_closure(t, "p", sources=seeds).collect()}
    assert got == {("b", "c")}


def test_kleene_closure_round_guard_raises(spark):
    import pytest as _pytest

    from semargl_spark.operators.graph import kleene_closure

    # a 5-chain needs 3 productive extension rounds plus one round to
    # observe the empty frontier; max_rounds=1 must refuse rather than
    # return a partial closure
    t = _triples(
        spark,
        [("n0", "p", "n1"), ("n1", "p", "n2"), ("n2", "p", "n3"),
         ("n3", "p", "n4")],
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        kleene_closure(t, "p", max_rounds=1)
    with _pytest.raises(ValueError):
        kleene_closure(t, "p", max_rounds=0)
    # and with an adequate bound the chain closure is complete
    out = {(r["a"], r["b"]) for r in kleene_closure(t, "p", max_rounds=4).collect()}
    assert len(out) == 4 + 3 + 2 + 1


def test_knn_classify_majority_vote_and_ties(spark):
    from semargl_spark.operators import similarity as S

    # 2-d vectors, no bucketing (brute integer dot): query [1, 0] has
    # neighbors sorted by dot with itself; labels arranged so the
    # 3-vote majority is label 1; the tie case votes {0: 1, 2: 1} and
    # must pick the SMALLER label
    rows = [
        (0, [1.0, 0.0], 9),    # query; own label must not vote
        (1, [1.0, 0.1], 1),
        (2, [1.0, 0.2], 1),
        (3, [0.9, 0.0], 1),
        (4, [-1.0, 0.0], 0),
        (50, [0.0, 1.0], 9),   # tie query
        (51, [0.1, 1.0], 2),
        (52, [0.0, 0.9], 0),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    qz = S.quantize_embeddings(df)
    labels = df.select("vec_id", "label")
    queries = df.filter(F.col("vec_id").isin(0, 50)).select("vec_id")
    out = {r["query_id"]: r for r in
           S.knn_classify(qz, labels, queries, k=3).collect()}
    assert out[0]["pred_label"] == 1 and out[0]["correct"] is False
    assert out[0]["true_label"] == 9
    # query 50's vote multiset is a 1-1-1 three-way tie at worst (its 3
    # nearest come from labels {2, 0, 1-or-0}); the argmax must resolve
    # it to the SMALLEST tied label — which is 0 here either way
    assert out[50]["pred_label"] == 0
    again = {r["query_id"]: r["pred_label"] for r in
             S.knn_classify(qz, labels, queries, k=3).collect()}
    assert again == {q: r["pred_label"] for q, r in out.items()}


def test_wl_colors_distinguishes_structure(spark):
    from semargl_spark.operators.graph import wl_colors

    # path a→b→c: ends a and c differ (out-only vs in-only); two
    # disjoint isomorphic paths x→y→z get the SAME colors positionwise
    t = _triples(
        spark,
        [("a", "p", "b"), ("b", "p", "c"), ("x", "p", "y"), ("y", "p", "z")],
    )
    got = {r["node"]: r["color"] for r in wl_colors(t, rounds=2).collect()}
    assert got["a"] == got["x"] and got["b"] == got["y"] and got["c"] == got["z"]
    assert len({got["a"], got["b"], got["c"]}) == 3  # head/mid/tail all differ


def test_wl_colors_predicate_and_direction_sensitivity(spark):
    from semargl_spark.operators.graph import wl_colors

    # same shape, different predicate → different colors after 1 round
    t = _triples(spark, [("a", "p", "b"), ("x", "q", "y")])
    got = {r["node"]: r["color"] for r in wl_colors(t, rounds=1).collect()}
    assert got["a"] != got["x"] and got["b"] != got["y"]
    # direction: source vs sink of the same edge differ
    assert got["a"] != got["b"]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        wl_colors(t, rounds=0)


def test_kleene_closure_reflexive_star(spark):
    from semargl_spark.operators.graph import kleene_closure

    t = _triples(spark, [("a", "p", "b"), ("b", "p", "c")])
    # p*: p+ pairs plus (x, x) for every node touching the p subgraph
    got = {(r["a"], r["b"]) for r in
           kleene_closure(t, "p", reflexive=True).collect()}
    assert got == {
        ("a", "b"), ("b", "c"), ("a", "c"),
        ("a", "a"), ("b", "b"), ("c", "c"),
    }
    # seeded p*: identity restricted to the seed set
    seeds = spark.createDataFrame([("b",)], "start string")
    got_s = {(r["a"], r["b"]) for r in
             kleene_closure(t, "p", sources=seeds, reflexive=True).collect()}
    assert got_s == {("b", "c"), ("b", "b")}


def test_wl_colors_isomorphism_invariant_multiset(spark):
    """Renaming nodes with a bijection must leave the WL color MULTISET
    unchanged (colors depend only on structure, not on node names)."""
    from collections import Counter

    from semargl_spark.operators.graph import wl_colors

    base = [("a", "p", "b"), ("b", "p", "c"), ("c", "q", "a"), ("d", "p", "a")]
    ren = {"a": "n1", "b": "n2", "c": "n3", "d": "n4"}
    iso = [(ren[s], p, ren[o]) for s, p, o in base]
    c1 = Counter(r["color"] for r in wl_colors(_triples(spark, base), rounds=3).collect())
    c2 = Counter(r["color"] for r in wl_colors(_triples(spark, iso), rounds=3).collect())
    assert c1 == c2


def test_kleene_closure_matches_bounded_paths_reachability(spark):
    """Differential: on a graph whose diameter fits the bound, the p+
    fixpoint pair set equals bounded_paths' pair set."""
    from semargl_spark.operators.graph import bounded_paths, kleene_closure

    rows = [("n%d" % i, "p", "n%d" % ((i * 3 + 1) % 7)) for i in range(7)]
    t = _triples(spark, rows)
    fix = {(r["a"], r["b"]) for r in kleene_closure(t, "p").collect()}
    bnd = {(r["a"], r["b"]) for r in bounded_paths(t, "p", max_hops=10).collect()}
    assert fix == bnd


def test_schema_summary_types_sentinel_and_multitype(spark):
    from semargl_spark.operators.graph import RDF_TYPE, schema_summary

    t = _triples(
        spark,
        [
            ("a", RDF_TYPE, "Person"),
            ("b", RDF_TYPE, "City"),
            ("a", "lives_in", "b"),
            ("c", "lives_in", "b"),      # c untyped
            ("a", RDF_TYPE, "Agent"),    # multi-type: one row per type
            ("a", "knows", "d"),         # d untyped
        ],
    )
    got = {
        (r["src_type"], r["pred"], r["dst_type"]):
            (r["n_edges"], r["n_src"], r["n_dst"])
        for r in schema_summary(t).collect()
    }
    assert got[("Person", "lives_in", "City")] == (1, 1, 1)
    assert got[("Agent", "lives_in", "City")] == (1, 1, 1)
    assert got[("(untyped)", "lives_in", "City")] == (1, 1, 1)
    assert got[("Person", "knows", "(untyped)")] == (1, 1, 1)
    # the type predicate itself never appears as a relation row
    assert not any(p == RDF_TYPE for (_, p, _) in got)


def test_literal_stats_normalizes_and_counts(spark):
    from semargl_spark.operators.graph import literal_stats

    st = spark.createDataFrame(
        [
            ("s1", "p", "hello", "literal", None, None),
            ("s2", "p", "hello", "literal", None, None),
            ("s3", "p", "bye", "literal", None, None),
            ("s4", "p", "bonjour", "literal", "fr", None),
            ("s5", "q", "3.5", "literal", None, "xsd:decimal"),
            ("s6", "p", "urn:x", "iri", None, None),  # non-literal: excluded
        ],
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, dtype string",
    )
    got = {(r["pred"], r["dtype"], r["lang"]):
           (r["n_literals"], r["n_distinct"], r["sum_len"])
           for r in literal_stats(st).collect()}
    assert got[("p", "", "")] == (3, 2, 13)       # hello×2 + bye
    assert got[("p", "", "fr")] == (1, 1, 7)
    assert got[("q", "xsd:decimal", "")] == (1, 1, 3)
    assert len(got) == 3


# --- HITS hubs & authorities ---


def test_hits_star_hand_checked(spark):
    from semargl_spark.operators.graph import hits

    # u1,u2 -> h ; h -> v   (h is both the top authority target's hub
    # and the star's authority)
    t = _triples(
        spark,
        [("u1", "p", "h"), ("u2", "p", "h"), ("h", "p", "v")],
    )
    out = {r["node"]: (r["auth"], r["hub"]) for r in hits(t, iterations=1).collect()}
    # round 1: auth = indegree; hub(u) = sum auth over out-neighbors
    assert out == {
        "u1": (0, 2), "u2": (0, 2),   # point at h (auth 2)
        "h": (2, 1),                   # authority 2, points at v (auth 1)
        "v": (1, 0),
    }


def test_hits_partition_invariant_and_guards(spark):
    from semargl_spark.operators.graph import hits

    rows = [(f"n{i}", "p", f"n{(i * 7 + 1) % 13}") for i in range(13)]
    t = _triples(spark, rows)
    a = sorted(map(tuple, hits(t, iterations=2).collect()))
    b = sorted(map(tuple, hits(t.repartition(7), iterations=2).collect()))
    assert a == b
    with pytest.raises(ValueError, match=">= 1"):
        hits(t, iterations=0)
    # the overflow guard MEASURES the max degree: a 100-spoke star at 5
    # iterations exceeds the D^(2*it) int64 bound and must raise...
    star = _triples(spark, [(f"u{i}", "p", "hub") for i in range(100)])
    with pytest.raises(ValueError, match="overflow"):
        hits(star, iterations=5)
    # ...while the low-degree cycle at the same iteration count is fine
    assert hits(t, iterations=5).count() == 13


# --- k-core peeling ---


def test_kcore_triangle_with_tail(spark):
    from semargl_spark.operators.graph import kcore

    # triangle a-b-c plus a pendant chain c-d-e: the 2-core is exactly
    # the triangle once the chain peels (2 rounds)
    t = _triples(
        spark,
        [("a", "p", "b"), ("b", "p", "c"), ("c", "p", "a"),
         ("c", "p", "d"), ("d", "p", "e")],
    )
    out = {r["node"]: r["degree"] for r in kcore(t, k=2, rounds=2).collect()}
    assert out == {"a": 2, "b": 2, "c": 2}
    # one round is a sound over-approximation: e peels, d not yet
    partial = {r["node"] for r in kcore(t, k=2, rounds=1).collect()}
    assert partial == {"a", "b", "c", "d"}


def test_kcore_direction_and_duplicate_insensitive(spark):
    from semargl_spark.operators.graph import kcore

    # parallel/reverse edges collapse to one undirected simple edge
    t = _triples(
        spark,
        [("a", "p", "b"), ("b", "q", "a"), ("a", "r", "b")],
    )
    assert kcore(t, k=2, rounds=1).count() == 0
    out = {r["node"]: r["degree"] for r in kcore(t, k=1, rounds=2).collect()}
    assert out == {"a": 1, "b": 1}


def test_comention_edges_weights_and_cap(spark):
    import pytest

    from semargl_spark.operators.graph import comention_edges

    rows = [
        # c1 mentions e1 (subj), e2 (iri obj); c2 mentions e1, e2, e3
        ("c1", "urn:e:1", "p", "urn:e:2", "iri"),
        ("c1", "urn:e:1", "p", "x", "literal"),     # literal obj ignored
        ("c2", "urn:e:1", "p", "urn:e:2", "iri"),
        ("c2", "urn:e:3", "p", "other", "literal"),
        ("c2", "urn:e:1", "p", "urn:e:1", "iri"),   # self pair excluded
        ("c3", "urn:x:9", "p", "urn:e:5", "iri"),   # non-entity subj ignored
    ]
    st = spark.createDataFrame(
        rows, "conv_id string, subj string, pred string, obj string, "
              "obj_kind string")
    out = {(r["a"], r["b"]): r["weight"] for r in comention_edges(st).collect()}
    assert out == {
        ("urn:e:1", "urn:e:2"): 2,
        ("urn:e:1", "urn:e:3"): 1,
        ("urn:e:2", "urn:e:3"): 1,
    }
    # hot-conversation cap drops c2 (3 entities > 2)
    capped = {(r["a"], r["b"]): r["weight"]
              for r in comention_edges(st, max_per_conv=2).collect()}
    assert capped == {("urn:e:1", "urn:e:2"): 1}
    with pytest.raises(ValueError, match=">= 2"):
        comention_edges(st, max_per_conv=1)


def test_pq_encode_codes_shape_and_partition_invariance(spark):
    from pyspark.sql import functions as F

    from semargl_spark.operators.clustering import pq_encode

    # 2 well-separated groups per subspace: ids 0..7 seed the codebooks
    vecs = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda d: F.when(F.col("id") % 2 == 0, 0.9).otherwise(-0.9)
            + d.cast("double") * 0.0,
        ).alias("embedding"),
    )
    out = pq_encode(vecs, m=2, sub=16, k=4, iterations=2)
    rows = out.collect()
    assert len(rows) == 64
    for r in rows:
        assert len(r["codes"]) == 2
        assert all(0 <= c < 4 for c in r["codes"])
        assert r["recon_err_fp"] >= 0
    # identical parity -> identical vector -> identical codes + zero err
    by_parity = {}
    for r in rows:
        by_parity.setdefault(r["vec_id"] % 2, set()).add(
            (tuple(r["codes"]), r["recon_err_fp"])
        )
    assert all(len(s) == 1 for s in by_parity.values())
    assert all(next(iter(s))[1] == 0 for s in by_parity.values())
    b = {
        r["vec_id"]: (tuple(r["codes"]), r["recon_err_fp"])
        for r in pq_encode(
            vecs.repartition(9), m=2, sub=16, k=4, iterations=2
        ).collect()
    }
    a = {r["vec_id"]: (tuple(r["codes"]), r["recon_err_fp"]) for r in rows}
    assert a == b


def test_pq_search_returns_same_group_neighbors(spark):
    from pyspark.sql import functions as F

    from semargl_spark.operators.clustering import pq_search

    # even ids sit at +0.9^32, odd ids at -0.9^32: any sane quantizer
    # separates them, so all neighbors of an even query must be even
    vecs = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda d: F.when(F.col("id") % 2 == 0, 0.9).otherwise(-0.9)
            + d.cast("double") * 0.0,
        ).alias("embedding"),
    )
    out = pq_search(vecs, query_id=42, topk=5, m=2, sub=16, k=4, iterations=2)
    rows = out.collect()
    assert len(rows) == 5
    assert all(r["neighbor_id"] % 2 == 0 for r in rows)
    assert all(r["adist_fp"] == 0 for r in rows)  # exact duplicates
    again = pq_search(
        vecs.repartition(7), query_id=42, topk=5, m=2, sub=16, k=4, iterations=2
    ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_pq_ivf_search_restricts_to_probed_cells(spark):
    from pyspark.sql import functions as F

    from semargl_spark.operators.clustering import pq_ivf_search, pq_search

    # same two-group corpus: IVF must probe the query's (even) cell and
    # return the same zero-distance duplicates the full scan finds
    vecs = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda d: F.when(F.col("id") % 2 == 0, 0.9).otherwise(-0.9)
            + d.cast("double") * 0.0,
        ).alias("embedding"),
    )
    kw = dict(query_id=42, topk=5, m=2, sub=16, k=4, iterations=2)
    ivf = pq_ivf_search(vecs, nprobe=1, k_coarse=4, coarse_iterations=2, **kw)
    rows = ivf.collect()
    assert len(rows) == 5
    assert all(r["neighbor_id"] % 2 == 0 and r["adist_fp"] == 0 for r in rows)
    full = pq_search(vecs, **kw).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in full]


def test_exact_topk_fp_ground_truth(spark):
    from pyspark.sql import functions as F

    from semargl_spark.operators.clustering import exact_topk_fp

    # 1-D line embedded in 4 dims: neighbors of id 5 are 4 and 6, then 3 and 7
    vecs = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(4)),
            lambda d: F.col("id").cast("double") * 0.1 + d.cast("double") * 0.0,
        ).alias("embedding"),
    )
    rows = exact_topk_fp(vecs, query_id=5, topk=4, dims=4).collect()
    # Q20 floor() makes the two sides differ by one ulp, so assert the
    # neighbor SETS per ring rather than a float-exact order
    assert {r["neighbor_id"] for r in rows[:2]} == {4, 6}
    assert {r["neighbor_id"] for r in rows[2:]} == {3, 7}
    assert rows[0]["dist_fp"] <= rows[1]["dist_fp"] <= rows[2]["dist_fp"]


def test_scc_bounded_cycles_and_chain(spark):
    from semargl_spark.operators.graph import scc_bounded

    edges = spark.createDataFrame(
        [
            # 3-cycle a->b->c->a
            ("a", "b"), ("b", "c"), ("c", "a"),
            # 2-cycle d<->e
            ("d", "e"), ("e", "d"),
            # acyclic chain f->g->h (all singletons)
            ("f", "g"), ("g", "h"),
            # bridge from the 3-cycle out (must NOT merge components)
            ("c", "d"),
        ],
        "src string, dst string",
    )
    out = {r["node"]: r["component"] for r in scc_bounded(edges, max_hops=4).collect()}
    assert out["a"] == out["b"] == out["c"] == "a"
    assert out["d"] == out["e"] == "d"
    assert out["f"] == "f" and out["g"] == "g" and out["h"] == "h"
    # sound refinement: a bound below the SCC diameter splits, never merges
    tight = {r["node"]: r["component"]
             for r in scc_bounded(edges, max_hops=1).collect()}
    assert tight["d"] == tight["e"] == "d"      # diameter-1 SCC still exact
    # the 3-cycle needs 2 hops for mutual reachability: at max_hops=1 it
    # SPLITS into singletons (refinement) — it must never merge with d/e
    assert tight["a"] == "a" and tight["b"] == "b" and tight["c"] == "c"
    assert tight["f"] == "f" and tight["h"] == "h"


def test_pq_fit_matches_independent_subspace_training(spark):
    """The joint (subspace-keyed) Lloyd loop must be BIT-IDENTICAL to
    m independent kmeans_fit runs over the sub-dim slices — the
    equivalence the pq_encode/pq_adist rework on pq_fit rests on."""
    from pyspark.sql import functions as F

    from semargl_spark.operators.clustering import (
        _assign, kmeans_fit, pq_fit,
    )

    m, sub, k, iters = 3, 8, 4, 2
    # deterministic, per-(id, dim) varied values so subspaces train to
    # genuinely different codebooks
    vecs = spark.range(48).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(m * sub)),
            lambda d: ((F.col("id") * 31 + d * 17) % 7 - 3).cast("double")
            / 3.0,
        ).alias("embedding"),
    )
    q, cents = pq_fit(vecs, m=m, sub=sub, k=k, iterations=iters)
    joint_cb = {
        (r["subspace"], r["cluster"]): tuple(r["cv"]) for r in cents.collect()
    }
    joint_asg = {
        (r["vec_id"], r["subspace"]): (r["cluster"], r["dist_fp"])
        for r in _assign(q, cents, k, keys=("subspace",)).collect()
    }
    for j in range(m):
        sliced = vecs.select(
            "vec_id",
            F.slice(F.col("embedding"), j * sub + 1, sub).alias("embedding"),
        )
        qj, cj = kmeans_fit(sliced, k=k, iterations=iters, dims=sub)
        for r in cj.collect():
            assert joint_cb[(j, r["cluster"])] == tuple(r["cv"])
        for r in _assign(qj, cj, k).collect():
            assert joint_asg[(r["vec_id"], j)] == (r["cluster"], r["dist_fp"])


def test_prefix_dim_recall_hand_checked(spark):
    """Prefix-1 ranking diverges from full-2 ranking by construction;
    the full-dims row is recall 1000 by definition."""
    from semargl_spark.operators.clustering import prefix_dim_recall

    # query [0,0]; full-2 NN is v1 (1.81); prefix-1 NN is v2 (0.9025)
    vecs = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [1.0, 0.9]),
            (2, [0.95, 2.0]),
            (3, [3.0, 0.1]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["dims"]: (r["hits"], r["k"], r["recall_pm"])
        for r in prefix_dim_recall(
            vecs, query_id=0, topk=1, dims_list=(1, 2), full_dims=2
        ).collect()
    }
    assert got[1] == (0, 1, 0)
    assert got[2] == (1, 1, 1000)

    import pytest as _pytest

    with _pytest.raises(ValueError):
        prefix_dim_recall(vecs, 0, topk=0, dims_list=(1,), full_dims=2)
    with _pytest.raises(ValueError):
        prefix_dim_recall(vecs, 0, topk=1, dims_list=(3,), full_dims=2)


def test_list_rank_chains_heads_positions(spark):
    from semargl_spark.operators.graph import list_members, list_rank

    # two chains: a0->a1->a2->a3 and b0->b1; plus a multi-prev cell
    # (x and y both point to z — min prev wins deterministically)
    rest = spark.createDataFrame(
        [
            ("a0", "a1"), ("a1", "a2"), ("a2", "a3"),
            ("b0", "b1"),
            ("x", "z"), ("y", "z"),
        ],
        "cell string, nxt string",
    )
    got = {
        r["cell"]: (r["head"], r["pos"])
        for r in list_rank(rest).collect()
    }
    assert got["a0"] == ("a0", 0) and got["a3"] == ("a0", 3)
    assert got["b1"] == ("b0", 1)
    # z has two predecessors; min('x','y') = 'x' is the kept chain
    assert got["z"] == ("x", 1)

    first = spark.createDataFrame(
        [("a0", "m0"), ("a1", "m1"), ("a2", "m2"), ("a3", "m3")],
        "cell string, member string",
    )
    members = {
        (r["head"], r["pos"]): r["member"]
        for r in list_members(
            first, rest.filter(F.col("cell").startswith("a"))
        ).collect()
    }
    assert members == {
        ("a0", 0): "m0", ("a0", 1): "m1",
        ("a0", 2): "m2", ("a0", 3): "m3",
    }


def test_list_rank_cycle_raises(spark):
    import pytest as _pytest

    from semargl_spark.operators.graph import list_rank

    rest = spark.createDataFrame(
        [("p", "q"), ("q", "r"), ("r", "p")], "cell string, nxt string"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        list_rank(rest, max_iter=6)


def test_temporal_reachability_blocks_backward_time(spark):
    from semargl_spark.operators.graph import temporal_reachability

    # a -ts10-> b -ts20-> c   : walkable (non-decreasing)
    # a -ts30-> d -ts5--> e   : d reachable, but d's out-edge is in the
    #                           past on arrival -> e NOT reachable
    # f -ts7--> g at equal ts  : g -ts7-> h walkable (non-strict)
    edges = spark.createDataFrame(
        [
            ("a", "b", 10), ("b", "c", 20),
            ("a", "d", 30), ("d", "e", 5),
            ("f", "g", 7), ("g", "h", 7),
        ],
        "src string, dst string, ts long",
    )
    seeds = spark.createDataFrame([("a",), ("f",)], "node string")
    got = {
        (r["origin"], r["node"]): (r["min_arr"], r["min_hops"])
        for r in temporal_reachability(edges, seeds, max_hops=4).collect()
    }
    assert got[("a", "a")] == (0, 0)
    assert got[("a", "b")] == (10, 1)
    assert got[("a", "c")] == (20, 2)
    assert got[("a", "d")] == (30, 1)
    assert ("a", "e") not in got  # temporal dead-end
    assert got[("f", "h")] == (7, 2)  # equal timestamps chain

    import pytest as _pytest

    with _pytest.raises(ValueError):
        temporal_reachability(edges, seeds, max_hops=0)


def test_temporal_reachability_earliest_arrival_dominates(spark):
    """Two routes to x: early-arrival (ts 1) and late (ts 9); only the
    early arrival can continue through x's ts-5 out-edge."""
    from semargl_spark.operators.graph import temporal_reachability

    edges = spark.createDataFrame(
        [("s", "x", 1), ("s", "m", 2), ("m", "x", 9), ("x", "y", 5)],
        "src string, dst string, ts long",
    )
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {
        r["node"]: (r["min_arr"], r["min_hops"])
        for r in temporal_reachability(edges, seeds, max_hops=4).collect()
    }
    assert got["x"] == (1, 1)
    assert got["y"] == (5, 2)  # via the ts-1 arrival only


def test_kg_asof_view_supersession_and_cutoff(spark):
    from semargl_spark.operators.materialize import kg_asof

    a = spark.createDataFrame(
        [
            ("e1", "p", "old", 10), ("e1", "p", "new", 20),
            ("e1", "p", "future", 99),          # after T: invisible
            ("e2", "p", "only", 5),
            ("e3", "p", "b", 20), ("e3", "p", "a", 20),  # ts tie -> 'a'
            ("e4", "p", "late", 50),            # first asserted after T
        ],
        "src string, pred string, dst string, ts long",
    )
    got = {
        r["src"]: (r["dst"], r["asserted_ts"])
        for r in kg_asof(a, at_ts=20).collect()
    }
    assert got["e1"] == ("new", 20)
    assert got["e2"] == ("only", 5)
    assert got["e3"] == ("a", 20)
    assert "e4" not in got
