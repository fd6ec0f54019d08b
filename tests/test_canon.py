"""Connected components: the driver union-find finish against a BFS
mirror, and the hybrid (distributed rounds, then the driver finish)
against the rounds alone on graphs shaped to force each finish."""
from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from semargl_spark.operators import canon

# "～" (U+FF5E) sorts after "😀" (U+1F600) in UTF-16 order but before it
# in code-point and UTF-8 byte order, which is Spark's string order
_IDS = ["a", "b", "B", "a0", "z", "é", "中", "😀", "～", "n1", "n10", "n2"]


def _bfs_components(pairs):
    """{node: min member} by breadth-first search, min taken over UTF-8
    bytes (Spark's binary string order)."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    out = {}
    for s in adj:
        if s in out:
            continue
        comp, frontier = {s}, [s]
        while frontier:
            for y in adj[frontier.pop()]:
                if y not in comp:
                    comp.add(y)
                    frontier.append(y)
        rep = min(comp, key=lambda x: x.encode("utf-8"))
        out.update(dict.fromkeys(comp, rep))
    return out


_pairs = st.lists(st.tuples(st.sampled_from(_IDS), st.sampled_from(_IDS)),
                  max_size=40)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(_pairs)
def test_union_find_matches_bfs(pairs):
    # self, duplicate and reversed edges come from the small id pool
    got = canon._union_find(pairs)
    assert len(got) == len({x for p in pairs for x in p})
    assert dict(got) == _bfs_components(pairs)


@st.composite
def _graphs(draw):
    n = draw(st.integers(0, 30))
    ids = [f"{draw(st.sampled_from(_IDS))}{i}" for i in range(n)]
    draw(st.randoms(use_true_random=False)).shuffle(ids)
    if draw(st.booleans()):  # a long path over shuffled ids
        edges = list(zip(ids, ids[1:]))
    else:  # a hub star, edges pointing either way
        edges = [(ids[0], x) if draw(st.booleans()) else (x, ids[0])
                 for x in ids[1:]]
    extra = draw(st.lists(st.sampled_from(["dup", "rev", "self", "null"]),
                          max_size=6))
    for kind in extra:
        if not edges:
            break
        a, b = draw(st.sampled_from(edges))
        edges.append({"dup": (a, b), "rev": (b, a), "self": (a, a),
                      "null": (a, None)}[kind])
    return edges


@settings(max_examples=15, deadline=None, derandomize=True)
@given(_graphs())
def test_connected_components_driver_finish_matches_rounds(spark, edges):
    df = spark.createDataFrame(edges, "src string, dst string")
    default = canon._DRIVER_EDGES
    got = {}
    try:
        # 0: rounds only; 3: the finish after a round; default: up front
        for n in (0, 3, default):
            canon._DRIVER_EDGES = n
            got[n] = sorted(map(tuple,
                                canon.connected_components(df).collect()))
    finally:
        canon._DRIVER_EDGES = default
    assert got[0] == got[3] == got[default]
    kept = [(a, b) for a, b in edges if a is not None and b is not None
            and a != b]
    assert dict(got[0]) == _bfs_components(kept)
