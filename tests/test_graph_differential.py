"""Differential tests: round-2 graph operators vs pure-Python brute
force on seeded random graphs. Complements the DuckDB oracles (which
fix one synthetic corpus) with structurally varied small graphs."""
from __future__ import annotations

import hashlib
import random

from pyspark.sql import functions as F


def _graphs(n_graphs=3, n_nodes=14, n_edges=26):
    rng = random.Random(42)
    for g in range(n_graphs):
        edges = set()
        while len(edges) < n_edges:
            a, b = rng.randrange(n_nodes), rng.randrange(n_nodes)
            if a != b:
                edges.add((f"v{a:02d}", f"v{b:02d}"))
        yield sorted(edges)


def _df(spark, edges):
    return spark.createDataFrame(
        [(a, "p", b) for a, b in edges], "src string, pred string, dst string"
    )


def test_node_index_matches_brute_force(spark):
    from semargl_spark.operators.graph import node_index

    for edges in _graphs():
        nodes = sorted({x for e in edges for x in e})
        nb = 8
        bucket = {
            n: int(hashlib.md5(n.encode()).hexdigest()[:4], 16) % nb
            for n in nodes
        }
        expected, idx = {}, 0
        for b in range(nb):
            for n in sorted(x for x in nodes if bucket[x] == b):
                expected[n] = idx
                idx += 1
        got = {r["node"]: r["node_idx"]
               for r in node_index(_df(spark, edges), n_buckets=nb).collect()}
        assert got == expected


def test_label_propagation_matches_simulation(spark):
    from semargl_spark.operators.graph import label_propagation

    for edges in _graphs():
        und = {}
        for a, b in edges:
            und.setdefault(a, set()).add(b)
            und.setdefault(b, set()).add(a)
        labels = {n: n for n in und}
        for _ in range(3):
            nxt = {}
            for n, nbrs in und.items():
                counts = {}
                for v in nbrs:
                    counts[labels[v]] = counts.get(labels[v], 0) + 1
                nxt[n] = min(counts, key=lambda l: (-counts[l], l))
            labels = nxt
        got = {r["node"]: r["label"]
               for r in label_propagation(_df(spark, edges), rounds=3).collect()}
        assert got == labels


def test_modularity_matches_brute_force(spark):
    from semargl_spark.operators.graph import modularity

    for edges in _graphs():
        und = sorted({(min(a, b), max(a, b)) for a, b in edges})
        nodes = sorted({x for e in und for x in e})
        lab = {n: f"c{i % 3}" for i, n in enumerate(nodes)}
        m = len(und)
        exp = {}
        for c in sorted(set(lab.values())):
            members = {n for n in nodes if lab[n] == c}
            e_c = sum(1 for a, b in und if a in members and b in members)
            deg = sum(1 for a, b in und for x in (a, b) if x in members)
            q = (e_c * 10**6) // m - (deg * deg * 10**6) // (4 * m * m)
            exp[c] = (len(members), e_c, deg, q)
        comm = spark.createDataFrame(
            sorted(lab.items()), "node string, label string")
        got = {r["label"]: (r["n_nodes"], r["internal_edges"],
                            r["degree_sum"], r["q_micro"])
               for r in modularity(_df(spark, edges), comm).collect()}
        assert got == exp


def test_cc_incremental_matches_union_find(spark):
    from semargl_spark.operators.canon import cc_incremental, connected_components

    for edges in _graphs():
        half = len(edges) // 2
        old, delta = edges[:half], edges[half:]
        comp0 = connected_components(_df(spark, old).select("src", "dst"))
        got = {(r["node"], r["component"]) for r in
               cc_incremental(comp0, _df(spark, delta).select("src", "dst"))
               .collect()}
        # union-find over everything
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        exp = set()
        for n in {x for e in edges for x in e}:
            exp.add((n, find(n)))
        # component representative must be the min label: normalize
        rep = {}
        for n, r in exp:
            rep.setdefault(r, set()).add(n)
        exp2 = {(n, min(v | {r})) for r, v in rep.items() for n in v}
        assert got == exp2


def test_cc_incremental_driver_finish_matches_rounds(spark, monkeypatch):
    from semargl_spark.operators import canon

    def run():
        out = []
        for edges in _graphs():
            half = len(edges) // 2
            comp0 = canon.connected_components(
                _df(spark, edges[:half]).select("src", "dst"))
            delta = _df(spark, edges[half:]).select("src", "dst")
            out.append(sorted(map(tuple, canon.cc_incremental(comp0, delta)
                                  .collect())))
        return out

    default = run()
    monkeypatch.setattr(canon, "_DRIVER_EDGES", 0)
    assert run() == default


def test_bounded_paths_alt_matches_bfs(spark):
    from semargl_spark.operators.graph import bounded_paths_alt

    for edges in _graphs():
        # forward 'p' steps plus inverse steps over the same relation
        step = {}
        for a, b in edges:
            step.setdefault(a, set()).add(b)
            step.setdefault(b, set()).add(a)  # inverse of p
        exp = {}
        for s in step:
            frontier, dist, seen = {s}, 0, {s}
            while frontier and dist < 3:
                dist += 1
                nxt = set()
                for u in frontier:
                    for v in step.get(u, ()):
                        if (s, v) not in exp:
                            exp[(s, v)] = dist
                            nxt.add(v)
                frontier = nxt
        got = {(r["a"], r["b"]): r["hops"] for r in
               bounded_paths_alt(_df(spark, edges), ["p"], max_hops=3,
                                 inverse_preds=["p"]).collect()}
        assert got == exp


def test_random_walks_match_python_mirror_and_terminate(spark):
    import hashlib

    from semargl_spark.operators.graph import random_walks

    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
             ("d", "sink"), ("hub", "x1"), ("hub", "x2"), ("hub", "x3")]
    df = spark.createDataFrame(edges, "src string, dst string")

    def mirror(walk_len=3, walks_per_node=2):
        adj: dict[str, set[str]] = {}
        for s, d in set(edges):
            adj.setdefault(s, set()).add(d)
        rows = set()
        for start in adj:
            for w in range(walks_per_node):
                node = start
                rows.add((start, w, 0, node))
                for step in range(1, walk_len + 1):
                    nbrs = adj.get(node)
                    if not nbrs:
                        break
                    node = min(
                        nbrs,
                        key=lambda d: hashlib.md5(
                            f"{start}#{w}#{step}#{d}".encode()
                        ).hexdigest()[:15] + "#" + d,
                    )
                    rows.add((start, w, step, node))
        return rows

    got = {(r["start"], r["walk"], r["step"], r["node"])
           for r in random_walks(df, walk_len=3, walks_per_node=2).collect()}
    assert got == mirror()
    # sink walk ends at step 1; nothing emitted past the dead end
    assert ("d", 0, 1, "sink") in got
    assert not any(r for r in got if r[0] == "d" and r[2] > 1)
    # repartitioned input → identical walks (pure function of the graph)
    got2 = {(r["start"], r["walk"], r["step"], r["node"])
            for r in random_walks(df.repartition(7), 3, 2).collect()}
    assert got2 == got


def test_new_pair_operators_plan_shapes(spark):
    """Scale-discipline audit: walks, skip-gram pairs, co-occurrence,
    and funnel compile to hash/sort-merge equi-joins — no
    CartesianProduct / BroadcastNestedLoopJoin anywhere (the quadratic
    shapes their docstrings promise to avoid)."""
    from datetime import datetime

    from semargl_spark.operators.curation import cooccurrence
    from semargl_spark.operators.graph import random_walks, skipgram_pairs
    from semargl_spark.queries_events import funnel

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    walks = random_walks(edges, walk_len=2, walks_per_node=1)
    pairs = skipgram_pairs(walks, window=2)
    docs = spark.createDataFrame(
        [(1, "x y z x"), (2, "y z")], "doc_id int, text string"
    )
    cooc = cooccurrence(docs, window=2)
    ev = spark.createDataFrame(
        [(1, datetime(2024, 1, 1), "view"), (1, datetime(2024, 1, 2), "click")],
        "user_id int, ts timestamp, event_type string",
    )
    fun = funnel(ev, ["view", "click"], horizon="3 DAY")
    for df in (walks, pairs, cooc, fun):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_temporal_reachability_matches_unpruned_enumeration(spark):
    """The per-(node,hops) min-arrival pruning must be invisible:
    compare against a mirror that enumerates ALL time-respecting walks
    up to the hop budget with no pruning, over random small temporal
    graphs (random ts assignments produce dead-ends, ties, and
    dominance races)."""
    import itertools
    import random

    from semargl_spark.operators.graph import temporal_reachability

    rng = random.Random(42)
    for trial in range(6):
        n = rng.randint(4, 8)
        nodes = [f"n{i}" for i in range(n)]
        edges = []
        for s, t in itertools.permutations(nodes, 2):
            if rng.random() < 0.35:
                edges.append((s, t, rng.randint(1, 5)))
        if not edges:
            continue
        seeds = rng.sample(nodes, 2)
        max_hops = 4

        # unpruned mirror: BFS over (node, arr) states per hop level
        expect = {}
        for o in seeds:
            states = {(o, 0)}
            best = {o: (0, 0)}
            for hop in range(1, max_hops + 1):
                nxt = set()
                for (node, arr) in states:
                    for (s, t, ts) in edges:
                        if s == node and ts >= arr:
                            nxt.add((t, ts))
                            cur = best.get(t)
                            cand = (ts, hop)
                            if cur is None:
                                best[t] = cand
                            else:
                                best[t] = (min(cur[0], ts),
                                           min(cur[1], hop))
                states = nxt
                if not states:
                    break
            for node, (arr, hops) in best.items():
                expect[(o, node)] = (arr, hops)

        edf = spark.createDataFrame(edges, "src string, dst string, ts long")
        sdf = spark.createDataFrame([(s,) for s in seeds], "node string")
        got = {
            (r["origin"], r["node"]): (r["min_arr"], r["min_hops"])
            for r in temporal_reachability(
                edf, sdf, max_hops=max_hops
            ).collect()
        }
        assert got == expect, f"trial {trial}: {got} != {expect}"


def test_weighted_paths_matches_brute_force(spark):
    """weighted_paths vs exhaustive path enumeration on seeded random
    weighted digraphs — covers the dominance-pruning edge cases
    (cheap-but-long vs expensive-but-short prefixes under hop budgets)."""
    from itertools import product as _unused  # noqa: F401

    from semargl_spark.operators.graph import weighted_paths

    rng = random.Random(23)
    for trial in range(3):
        edges = {}
        for _ in range(24):
            a, b = rng.randrange(10), rng.randrange(10)
            if a != b:
                w = rng.randrange(0, 9)
                k = (f"v{a}", f"v{b}")
                edges[k] = min(edges.get(k, 1 << 60), w)
        df = spark.createDataFrame(
            [(a, b, w) for (a, b), w in edges.items()],
            "src string, dst string, weight long",
        )
        max_hops = 4
        got = {
            (r.a, r.b): r.min_cost
            for r in weighted_paths(df, max_hops=max_hops).collect()
        }
        # brute force: min cost over all simple-or-not paths <= 4 edges
        exp = {}
        frontier = {(a, b): w for (a, b), w in edges.items()}
        for (a, b), w in frontier.items():
            exp[(a, b)] = min(exp.get((a, b), 1 << 60), w)
        for _ in range(max_hops - 1):
            nxt = {}
            for (a, m), c in frontier.items():
                for (m2, b), w in edges.items():
                    if m2 == m:
                        key = (a, b)
                        nxt[key] = min(nxt.get(key, 1 << 60), c + w)
            for k, c in nxt.items():
                exp[k] = min(exp.get(k, 1 << 60), c)
            frontier = nxt
        assert got == exp


def test_weighted_paths_rejects_negative(spark):
    from semargl_spark.operators.graph import weighted_paths

    df = spark.createDataFrame(
        [("a", "b", -1)], "src string, dst string, weight long"
    )
    try:
        weighted_paths(df, max_hops=2)
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_harmonic_closeness_chain_and_cycle(spark):
    from semargl_spark.operators.graph import harmonic_closeness

    # chain 1->2->3->4->5 plus a 2-cycle 10<->11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 10)],
        "src long, dst long",
    )
    got = {
        r["node"]: (r["n_reachable"], r["harmonic_pm"])
        for r in harmonic_closeness(edges, max_hops=3).collect()
    }
    # node 1 reaches 2,3,4 at hops 1,2,3 -> 1000+500+333
    assert got[1] == (3, 1833)
    assert got[2] == (3, 1833)
    assert got[4] == (1, 1000)
    # cycle: the path back to the origin is excluded
    assert got[10] == (1, 1000)
    assert got[11] == (1, 1000)
    assert 5 not in got  # sinks reach nothing -> absent


def test_harmonic_closeness_seeded_sources_only(spark):
    from semargl_spark.operators.graph import harmonic_closeness

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(2,)], "node long")
    got = {
        r["node"]: (r["n_reachable"], r["harmonic_pm"])
        for r in harmonic_closeness(edges, max_hops=2, sources=seeds).collect()
    }
    assert got == {2: (2, 1500)}  # 3 at hop 1, 1 at hop 2; origin excluded


def test_resource_allocation_star_and_hub_cap(spark):
    from semargl_spark.operators.graph import resource_allocation

    # star: hub h connects 1..4; every leaf pair shares only h (deg 4)
    star = [(0, i) for i in range(1, 5)]
    # plus a triangle 10-11-12: each pair shares one deg-2 neighbor
    tri = [(10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(star + tri, "src long, dst long")
    got = {
        (r["x"], r["y"]): (r["n_common"], r["ra_micro"])
        for r in resource_allocation(edges, max_nbr_degree=64).collect()
    }
    assert got[(1, 2)] == (1, 10**6 // 4)
    assert got[(10, 11)] == (1, 10**6 // 2)
    # hub cap: with max_nbr_degree=3 the deg-4 hub stops generating
    # wedges, so leaf pairs vanish; the triangle (deg-2 pivots) stays
    capped = {
        (r["x"], r["y"])
        for r in resource_allocation(edges, max_nbr_degree=3).collect()
    }
    assert (1, 2) not in capped and (10, 11) in capped


def test_resource_allocation_matches_python_mirror(spark):
    import itertools
    import random

    from semargl_spark.operators.graph import resource_allocation

    rng = random.Random(11)
    raw = {(rng.randrange(14), rng.randrange(14)) for _ in range(40)}
    edges = [(a, b) for a, b in raw if a != b]
    und = {(min(a, b), max(a, b)) for a, b in edges}
    nbrs = {}
    for a, b in und:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    exp = {}
    for x, y in itertools.combinations(sorted(nbrs), 2):
        common = nbrs[x] & nbrs[y]
        if common:
            exp[(x, y)] = (
                len(common),
                sum(10**6 // len(nbrs[z]) for z in common),
            )
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r["x"], r["y"]): (r["n_common"], r["ra_micro"])
        for r in resource_allocation(df, max_nbr_degree=64).collect()
    }
    assert got == exp


def test_node2vec_walks_match_python_mirror(spark):
    import hashlib

    from semargl_spark.operators.graph import node2vec_walks

    edges = [("a", "b"), ("b", "a"), ("b", "c"), ("b", "d"), ("a", "c"),
             ("c", "a"), ("d", "sink"), ("hub", "x1"), ("hub", "x2")]
    df = spark.createDataFrame(edges, "src string, dst string")
    wr, wc, wo = 1, 4, 2

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    def mirror(walk_len=3, walks_per_node=2):
        eset = set(edges)
        adj: dict[str, set[str]] = {}
        for s, d in eset:
            adj.setdefault(s, set()).add(d)
        rows = set()
        for start in adj:
            for w in range(walks_per_node):
                prev, node = None, start
                rows.add((start, w, 0, node))
                for step in range(1, walk_len + 1):
                    nbrs = adj.get(node)
                    if not nbrs:
                        break

                    def wt(c):
                        if prev is None:
                            return wc
                        if c == prev:
                            return wr
                        return wc if (prev, c) in eset else wo

                    def key(c):
                        return (
                            str(h60(f"{start}#{w}#{step}#{c}") // wt(c))
                            .zfill(20) + "#" + c
                        )

                    prev, node = node, min(nbrs, key=key)
                    rows.add((start, w, step, node))
        return rows

    got = {(r["start"], r["walk"], r["step"], r["node"])
           for r in node2vec_walks(df, 3, 2, wr, wc, wo).collect()}
    assert got == mirror()
    # partition-invariant (pure function of the graph)
    got2 = {(r["start"], r["walk"], r["step"], r["node"])
            for r in node2vec_walks(df.repartition(5), 3, 2, wr, wc, wo)
            .collect()}
    assert got2 == got


def test_node2vec_extreme_return_weight_forces_backtrack(spark):
    from semargl_spark.operators.graph import node2vec_walks

    # from b with prev=a the huge return weight must pick a again
    df = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("b", "d")],
        "src string, dst string",
    )
    out = {(r["start"], r["walk"], r["step"]): r["node"]
           for r in node2vec_walks(
               df, walk_len=2, walks_per_node=1,
               w_return=10**15, w_common=1, w_out=1).collect()}
    for (start, w, step), node in out.items():
        if start == "a" and step == 1:
            assert node == "b"
        if start == "a" and step == 2:
            assert node == "a"  # forced backtrack b→a


def test_ranking_metrics_filtered_protocol_exact(spark):
    from semargl_spark.operators.graph import ranking_metrics

    # q1: candidates b(9) a(7,true) c(7) d(1,true)
    #   raw ranks: b=1 a=2 c=3 d=4; filtered: a=2, d=4-1(a above)=3
    # q2: true pair never scored → counts as a miss
    scored = spark.createDataFrame(
        [("q1", "b", 9), ("q1", "a", 7), ("q1", "c", 7), ("q1", "d", 1),
         ("q2", "x", 5)],
        "query string, cand string, score long",
    )
    truth = spark.createDataFrame(
        [("q1", "a"), ("q1", "d"), ("q2", "zz")],
        "query string, cand string",
    )
    row = ranking_metrics(scored, truth, ks=(1, 3)).collect()[0]
    assert row["n_truth"] == 3 and row["n_ranked"] == 2
    # MRR = (1/2 + 1/3 + 0)/3 in floor micro-units
    assert row["mrr_micro"] == (10**6 // 2 + 10**6 // 3) // 3
    assert row["hits1_pm"] == 0
    assert row["hits3_pm"] == 1000 * 2 // 3  # a(2) and d(3) inside top-3


def test_ranking_metrics_tie_break_is_candidate_order(spark):
    from semargl_spark.operators.graph import ranking_metrics

    scored = spark.createDataFrame(
        [("q", "m", 5), ("q", "z", 5)], "query string, cand string, score long"
    )
    truth = spark.createDataFrame([("q", "z")], "query string, cand string")
    row = ranking_metrics(scored, truth, ks=(1,)).collect()[0]
    # equal scores: 'm' < 'z' ranks first, so z's filtered rank is 2
    assert row["hits1_pm"] == 0 and row["mrr_micro"] == 10**6 // 2


def test_transitive_reduction2_removes_witnessed_edges(spark):
    from semargl_spark.operators.graph import transitive_reduction2

    edges = [("a", "b"), ("b", "c"), ("a", "c"),   # a→c witnessed
             ("a", "d"),                            # no witness: kept
             ("x", "x"), ("x", "y"),                # self-loop kept, not a witness
             ("p", "q"), ("q", "p")]                # 2-cycle: no removal (a==c guard)
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["src"], r["dst"])
           for r in transitive_reduction2(df).collect()}
    assert got == {("a", "b"), ("b", "c"), ("a", "d"), ("x", "x"),
                   ("x", "y"), ("p", "q"), ("q", "p")}


def test_transitive_reduction2_symmetric_k3_keeps_all(spark):
    from semargl_spark.operators.graph import transitive_reduction2

    # symmetric triangle a<->b<->c<->a: every edge is 2-hop-witnessed,
    # but every witness edge is itself condemned — the two-pass rule
    # keeps all six (the naive one-pass rule erased the whole cluster)
    edges = [(a, b) for a in "abc" for b in "abc" if a != b]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["src"], r["dst"])
           for r in transitive_reduction2(df).collect()}
    assert got == set(edges)


def test_transitive_reduction2_mutual_witness_diamond_keeps_all(spark):
    from semargl_spark.operators.graph import transitive_reduction2

    # a→b witnessed only via a→c→b, a→c only via a→b→c (b<->c 2-cycle):
    # the witnesses are mutually condemned, so both edges must survive
    # or node a is silently disconnected
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "b")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["src"], r["dst"])
           for r in transitive_reduction2(df).collect()}
    assert got == set(edges)


def test_transitive_reduction2_scc_fanout_keeps_reachability(spark):
    from semargl_spark.operators.graph import transitive_reduction2

    # 3-cycle x→u→v→x each with an edge to y: every *→y edge is
    # witnessed by another condemned *→y edge (no 2-cycles involved);
    # naive removal would cut y off from the component entirely
    edges = [("x", "u"), ("u", "v"), ("v", "x"),
             ("x", "y"), ("u", "y"), ("v", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["src"], r["dst"])
           for r in transitive_reduction2(df).collect()}
    assert got == set(edges)


def test_transitive_reduction2_pivot_cap_is_conservative(spark):
    from semargl_spark.operators.graph import transitive_reduction2

    # hub pivot h with 2 in × 2 out = work 4 > cap 3 → its shortcuts stay
    edges = [("a", "h"), ("b", "h"), ("h", "c"), ("h", "d"),
             ("a", "c"), ("b", "d")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["src"], r["dst"])
           for r in transitive_reduction2(df, max_pivot_work=3).collect()}
    assert got == set(edges)  # nothing removed under the cap
    got2 = {(r["src"], r["dst"])
            for r in transitive_reduction2(df, max_pivot_work=4).collect()}
    assert got2 == set(edges) - {("a", "c"), ("b", "d")}


def test_seeded_label_propagation_frontier_and_ties(spark):
    from semargl_spark.operators.graph import seeded_label_propagation

    # chain s1-a-b; s2-a (tie at a: labels 1 and 2 each count 1 → min=1)
    edges = spark.createDataFrame(
        [("s1", "a"), ("s2", "a"), ("a", "b"), ("b", "c"), ("x", "y")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame(
        [("s1", 1), ("s2", 2)], "node string, label int"
    )
    out = {r["node"]: (r["label"], r["round"])
           for r in seeded_label_propagation(edges, seeds, rounds=3)
           .collect()}
    assert out["s1"] == (1, 0) and out["s2"] == (2, 0)
    assert out["a"] == (1, 1)       # tie 1v2 → smallest label
    assert out["b"] == (1, 2)       # frontier reaches b in round 2
    assert out["c"] == (1, 3)
    assert "x" not in out and "y" not in out  # disconnected stays unlabeled


def test_seeded_label_propagation_plurality_beats_tiebreak(spark):
    from semargl_spark.operators.graph import seeded_label_propagation

    edges = spark.createDataFrame(
        [("s1", "t"), ("s2", "t"), ("s3", "t")], "src string, dst string"
    )
    seeds = spark.createDataFrame(
        [("s1", 9), ("s2", 9), ("s3", 1)], "node string, label int"
    )
    out = {r["node"]: r["label"]
           for r in seeded_label_propagation(edges, seeds, rounds=1)
           .collect()}
    assert out["t"] == 9  # plurality 2x9 beats smaller label 1


def test_ktruss_peels_to_known_truss(spark):
    from semargl_spark.operators.graph import ktruss

    # K4 on {a,b,c,d} (every edge in 2 triangles) + a pendant triangle
    # {d,e,f} (each edge in exactly 1) + a bare edge f-g (0 triangles)
    k4 = [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
          ("c", "d")]
    tail = [("d", "e"), ("d", "f"), ("e", "f")]
    bare = [("f", "g")]
    df = spark.createDataFrame(k4 + tail + bare, "src string, dst string")

    t3 = {(r["a"], r["b"]): r["support"]
          for r in ktruss(df, k=3, rounds=3).collect()}
    assert set(t3) == set(k4 + tail)  # bare edge peeled, both triangles stay
    assert t3[("e", "f")] == 1 and t3[("a", "b")] == 2

    t4 = {(r["a"], r["b"]): r["support"]
          for r in ktruss(df, k=4, rounds=3).collect()}
    assert set(t4) == set(k4)  # only the K4 is a 4-truss
    assert all(s == 2 for s in t4.values())

    assert ktruss(df, k=5, rounds=4).count() == 0  # no 5-truss anywhere

    import pytest
    with pytest.raises(ValueError, match=">= 3"):
        ktruss(df, k=2)


def test_ktruss_cascade_needs_rounds(spark):
    from semargl_spark.operators.graph import ktruss

    # chain of triangles: t1={a,b,c}, t2={b,c,d} share edge (b,c);
    # bare spur (d,x). With k=3: spur peels round 1; everything else
    # is in a triangle and survives — and rounds=1 already suffices.
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("b", "d"), ("c", "d"),
             ("d", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    t = {(r["a"], r["b"]) for r in ktruss(df, k=3, rounds=1).collect()}
    assert t == set(edges) - {("d", "x")}


def test_seeded_label_propagation_conflicting_seeds_resolve_min(spark):
    from semargl_spark.operators.graph import seeded_label_propagation

    edges = spark.createDataFrame([("s", "t")], "src string, dst string")
    seeds = spark.createDataFrame(
        [("s", 7), ("s", 3)], "node string, label int"
    )
    out = {r["node"]: r["label"]
           for r in seeded_label_propagation(edges, seeds, rounds=1)
           .collect()}
    assert out == {"s": 3, "t": 3}  # one seed row per node, min label


def test_ranking_metrics_empty_truth_zero_row(spark):
    from semargl_spark.operators.graph import ranking_metrics

    scored = spark.createDataFrame(
        [("q", "a", 1)], "query string, cand string, score long"
    )
    truth = scored.filter("1=0").select("query", "cand")
    row = ranking_metrics(scored, truth, ks=(1,)).collect()[0]
    assert (row["n_truth"], row["n_ranked"], row["mrr_micro"],
            row["hits1_pm"]) == (0, 0, 0, 0)


def test_transitive_reduction2_empty_and_single_edge(spark):
    from semargl_spark.operators.graph import transitive_reduction2

    empty = spark.createDataFrame([], "src string, dst string")
    assert transitive_reduction2(empty).count() == 0
    one = spark.createDataFrame([("a", "b")], "src string, dst string")
    assert [(r["src"], r["dst"]) for r in transitive_reduction2(one).collect()] == [("a", "b")]
