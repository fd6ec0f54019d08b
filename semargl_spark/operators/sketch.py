"""KMV (k-minimum-values) distinct-cardinality sketch.

Order-statistics estimator (Bar-Yossef et al., RANDOM'02; the
"bottom-k" form): hash every value into [0, 2^B); if the k-th smallest
distinct hash in a group is ``kth``, the group's distinct count is
estimated by ``(k-1) * 2^B / kth`` with relative error ~1/sqrt(k).
Everything here is deterministic integer arithmetic — the hash is the
oracle-replicable 52-bit md5 prefix and the estimate a single BIGINT
integer division — so the sketch is bit-identical in any engine and at
any parallelism, unlike HLL (whose register layout is engine-private:
Spark's approx_count_distinct and DuckDB's approx HLLs cannot
cross-check each other).

Scale notes (10^12 rows): the duplicate-heavy volume is absorbed by the
map-side partial of the ``distinct`` hash aggregate — only DISTINCT
(group, hash) pairs shuffle. The per-group bottom-k then runs as a
window over those distinct hashes; with a known lower bound on group
cardinality, ``prefilter_min_distinct`` cuts the window input to the
expected bottom tail first (a static hash threshold, pushed to the
scan). For a pure streaming/mergeable production path at extreme
cardinalities, Spark's built-in HLL ``approx_count_distinct`` remains
the right tool — this operator is the *verifiable* methodology
(estimator math, error bounds) with an external gate.

Reference parity: the reference is a parser framework with no
sketching; target-side profiling surface for the constructed KG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..spark_util import iterate

# 52-bit hash space: (k-1) * 2^52 stays far inside BIGINT for any sane
# k, so the estimator division is exact integer math in every engine
B = 52
SPACE = 1 << B


def _hash52(col) -> F.Column:
    """52-bit md5-prefix hash (13 hex digits) — ANSI-SQL replicable."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 13), 16, 10).cast("long")


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    prefilter_min_distinct: int | None = None,
) -> DataFrame:
    """Per-group KMV distinct-count estimate → (group...,
    n_hashes, kth_min, est_distinct).

    ``n_hashes`` is the bottom-k size actually observed; when a group
    has fewer than ``k`` distinct hashes the sketch IS the exact
    distinct set and ``est_distinct`` equals it (kth_min is reported
    as the max observed hash). Ties are impossible post-distinct, so
    the bottom-k is a deterministic set.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = _hash52(value_col)
    dh = df.select(*group_cols, h.alias("h")).distinct()
    if prefilter_min_distinct is not None:
        if prefilter_min_distinct < 1:
            raise ValueError("prefilter_min_distinct must be >= 1")
        # keep ~4k× the expected bottom-k band: P(losing a bottom-k
        # hash) is negligible while the window input shrinks by
        # distinct/4k
        thresh = SPACE // prefilter_min_distinct * (4 * k)
        dh = dh.filter(F.col("h") <= F.lit(thresh))
    w = Window.partitionBy(*group_cols).orderBy("h")
    botk = dh.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= k
    )
    num = (k - 1) * SPACE
    return botk.groupBy(*group_cols).agg(
        F.count("*").cast("int").alias("n_hashes"),
        F.max("h").alias("kth_min"),
    ).select(
        *group_cols,
        "n_hashes",
        "kth_min",
        F.when(F.col("n_hashes") < k, F.col("n_hashes").cast("long"))
        .otherwise(
            F.expr(f"CAST({num} AS BIGINT) div greatest(kth_min, 1L)")
        )
        .alias("est_distinct"),
    )


def kmv_overlap(
    df: DataFrame,
    set_col: str,
    value_col: str,
    k: int = 64,
) -> DataFrame:
    """All-pairs set-overlap estimation from per-set KMV sketches →
    (set_a, set_b, n_union, union_est, inter_est, jaccard_pm) for every
    set pair (a < b) — the theta-sketch set-operation trick (Dasgupta
    et al., "Theta sketches"): the k smallest hashes of SA ∪ SB are a
    valid KMV sketch of the union (both inputs are bottom-k), the
    union's kth hash estimates |A ∪ B|, and the fraction c/k of those
    union-sketch members present in BOTH input sketches estimates the
    Jaccard similarity, giving |A ∩ B| ≈ (c/k)·|A ∪ B| — all without
    ever joining the underlying sets.

    This is the scale path for overlap questions (train/test
    contamination rate, vocabulary sharing between corpus slices,
    snapshot drift): the corpus is touched once to build k-row
    sketches; every pairwise estimate then costs O(k) on tables of
    sketch size. Sub-k sets degrade to exact sets, so small-set pairs
    report exact overlap. All integer arithmetic (52-bit space,
    truncating div) — bit-exact in any engine.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    h = _hash52(value_col)
    dh = df.select(set_col, h.alias("h")).distinct()
    w = Window.partitionBy(set_col).orderBy("h")
    sk = (
        dh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(F.col(set_col).alias("s"), "h")
    )
    a = sk.select(F.col("s").alias("set_a"), "h")
    b = sk.select(F.col("s").alias("set_b"), "h")
    # hash-keyed equi-union: tag membership, dedup common hashes per pair
    # sketch-rows × set-list cartesian is sketch-sized by construction
    # (n_sets · k rows × n_sets) — never corpus-sized
    pairs = (
        a.crossJoin(b.select(F.col("set_b")).distinct())
        .filter(F.col("set_a") < F.col("set_b"))
        .select("set_a", "set_b", "h", F.lit(1).alias("in_a"),
                F.lit(0).alias("in_b"))
        .union(
            b.crossJoin(a.select(F.col("set_a")).distinct())
            .filter(F.col("set_a") < F.col("set_b"))
            .select("set_a", "set_b", "h", F.lit(0).alias("in_a"),
                    F.lit(1).alias("in_b"))
        )
        .groupBy("set_a", "set_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = Window.partitionBy("set_a", "set_b").orderBy("h")
    union_k = pairs.withColumn("rn", F.row_number().over(wu)).filter(
        F.col("rn") <= k
    )
    num = (k - 1) * SPACE
    agg = union_k.groupBy("set_a", "set_b").agg(
        F.count("*").cast("int").alias("n_union"),
        F.max("h").alias("theta"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("c"),
    )
    return agg.select(
        "set_a", "set_b", "n_union",
        F.when(F.col("n_union") < k, F.col("n_union").cast("long"))
        .otherwise(F.expr(f"CAST({num} AS BIGINT) div greatest(theta, 1L)"))
        .alias("union_est"),
        "c",
    ).select(
        "set_a", "set_b", "n_union", "union_est",
        F.expr("(c * union_est) div greatest(n_union, 1)")
        .cast("long").alias("inter_est"),
        F.expr("(1000 * c) div greatest(n_union, 1)")
        .cast("long").alias("jaccard_pm"),
    )


def neighborhood_function(
    edges: DataFrame,
    rounds: int = 3,
    k: int = 16,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """ANF / HyperANF-style neighborhood function → (node, r,
    est_reach) for r = 1..rounds: the estimated number of DISTINCT
    nodes reachable from each node within r hops (directed, following
    out-edges), via iterated merging of per-node KMV sketches (Palmer
    et al. KDD'02 ANF; Boldi-Rosa-Vigna WWW'11 HyperANF with HLL —
    KMV here for engine-exact determinism).

    Exact r-hop reach is a transitive-closure join whose intermediate
    explodes quadratically on dense graphs; sketches make each round a
    LINEAR pass: sketch(v, r) = bottom-k of sketch(v, r-1) ∪
    ⋃_{v→u} sketch(u, r-1), because bottom-k sketches are mergeable
    (the bottom-k of unions is the bottom-k of merged bottom-k's).
    Per-node state is ≤ k rows, so a round shuffles ≤ k·|E| rows —
    at 10^12 edges the per-round cost is k× the edge list, never the
    closure. Effective-diameter questions read off where est_reach
    plateaus.

    Scale/skew: sketches are kept as ROWS (node, h), never arrays — a
    celebrity hub's merge is a bottom-k window over k·degree rows,
    which AQE splits like any skewed key, instead of one k·degree
    element array in a single aggregation buffer. Sub-k neighborhoods
    (the common case in sparse KGs) are EXACT distinct counts.
    ``spark_util.iterate`` truncates each round's sketches, keeping the
    iterative plan flat.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    from .graph import _edges_and_nodes

    e, nodes = _edges_and_nodes(edges, src_col, dst_col)
    state = nodes.select("node", _hash52(F.col("node")).alias("h"))
    state = state.localCheckpoint(eager=True)

    num = (k - 1) * SPACE
    w = Window.partitionBy("node").orderBy("h")

    # state (sketch, earlier sketches): every round's sketch is read by
    # the next round and by its own estimate
    def _merge(st, _r):
        state, levels = st
        msgs = e.join(
            state.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "h")
        nxt = (
            state.union(msgs)
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("node", "h")
        )
        return nxt, levels + (state,)

    (last, levels), _ = iterate(_merge, (state, ()), rounds)
    out = None
    for r, sketch in enumerate(levels[1:] + (last,), start=1):
        est = sketch.groupBy("node").agg(
            F.count("*").cast("int").alias("n_hashes"),
            F.max("h").alias("kth"),
        ).select(
            "node",
            F.lit(r).cast("int").alias("r"),
            F.when(F.col("n_hashes") < k, F.col("n_hashes").cast("long"))
            .otherwise(
                F.expr(f"CAST({num} AS BIGINT) div greatest(kth, 1L)")
            )
            .alias("est_reach"),
        )
        out = est if out is None else out.union(est)
    return out


def cm_heavy_hitters(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 1024,
    k: int = 20,
) -> DataFrame:
    """Count-Min sketch frequency estimation (Cormode-Muthukrishnan
    '05) checked against exact counts for the k most frequent values →
    (value, n_exact, est, overest_pm): the corpus collapses into a
    d × w counter table (one groupBy over d·w keys — constant-size
    state no matter the input), each value's estimated count is the
    MIN of its d counters, and est ≥ exact always (collisions only
    ADD). Expected overestimate ≤ e·N/w per row, and taking the min
    over d independent rows drives the error to N/w^d-ish in practice.

    Scale: the sketch build is ONE map-side-partial aggregate with
    d·w = 4096 output keys — the whole frequency table of a 10^12-token
    corpus in a few KB, mergeable across partitions/days by counter
    addition. Point queries are a d·w-row broadcast join. The exact
    side here exists to gate the estimator; production uses the sketch
    alone where exact per-key counts don't fit.

    Buckets come from the 52-bit md5 fold of ``r || '#' || value`` mod
    w — deterministic, engine-exact, and independent-enough across the
    d rows (distinct salt prefix per row).
    """
    if d < 1 or w < 2 or k < 1:
        raise ValueError(f"need d >= 1, w >= 2, k >= 1; got {d},{w},{k}")
    vals = df.select(F.col(value_col).cast("string").alias("v")).filter(
        F.col("v").isNotNull() & (F.col("v") != "")
    )
    counters = cm_grid(vals, d, w)
    top = (
        vals.groupBy("v")
        .agg(F.count("*").cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("v"))
        .limit(k)
    )
    return cm_probe(counters, top, d=d, w=w)


def cm_bucket(col, w: int) -> F.Column:
    """CM bucket of row ``r`` (column "r") for value column ``col``:
    52-bit md5 fold of ``r || '#' || value`` mod w — the shared hash of
    the batch and streaming sketch builds and of every probe."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        _hash52(F.concat(F.col("r").cast("string"), F.lit("#"), c)) % w
    )


def cm_grid(vals: DataFrame, d: int, w: int) -> DataFrame:
    """CM counter grid of a value column "v" → (r, bucket, cnt):
    one map-side-partial aggregate with d·w output keys. Grids are
    mergeable by counter ADDITION — sum per (r, bucket) across
    partitions, micro-batches, or days."""
    rows = vals.select(
        "v",
        F.explode(F.array(*[F.lit(r) for r in range(d)])).alias("r"),
    ).select("v", "r", cm_bucket("v", w).alias("bucket"))
    return rows.groupBy("r", "bucket").agg(
        F.count("*").cast("long").alias("cnt")
    )


def cm_probe(counters: DataFrame, top: DataFrame, d: int, w: int) -> DataFrame:
    """Point-query a CM counter grid for the rows of ``top``
    (v, n_exact) → (value, n_exact, est, overest_pm): est = min over
    the d counters, always >= exact."""
    probes = top.select(
        "v", "n_exact",
        F.explode(F.array(*[F.lit(r) for r in range(d)])).alias("r"),
    ).select("v", "n_exact", "r", cm_bucket("v", w).alias("bucket"))
    est = (
        probes.join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("v", "n_exact")
        .agg(F.min("cnt").alias("est"))
    )
    return est.select(
        F.col("v").alias("value"), "n_exact", "est",
        F.expr(
            "(1000 * (est - n_exact)) div greatest(n_exact, 1)"
        ).cast("long").alias("overest_pm"),
    )
