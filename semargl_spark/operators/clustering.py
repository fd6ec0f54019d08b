"""K-means (Lloyd's) over the embeddings table — centroid training for
the IVF coarse quantizer in operators/similarity.py.

Everything runs in **fixed-point integer arithmetic** so the result is
bit-identical at any partitioning / parallelism, exactly like
operators/graph.py PageRank: float32 components are quantized once to
Q20 bigints (``floor(x · 2^20)`` — float-to-double widening and the
power-of-two multiply are both exact IEEE ops, so every engine computes
the same integer), distances are bigint sums of squared diffs, and
centroid updates are truncating integer division of per-dimension sums.
A float k-means' reduction order varies per shuffle and flips low
decimals, which would make the query un-gateable against an external
SQL oracle; Q20 keeps ~6 decimal digits of the unit-normalized inputs,
far below the cluster separation scale.

Scale shape (10^9+ vectors, k ≤ 10^4 centroids):

* assignment is a broadcast nested-loop of each vector against the
  k-row centroid table, argmin via a packed-long ``min(dist·2^B +
  cluster)`` in a single map-side-partial HashAggregate (struct-min
  would fall back to SortAggregate over all n·k scored rows) — the
  big side never shuffles on anything but vec_id;
* the update step explodes assigned vectors to (cluster, dim) — the
  shuffle key cardinality is k·d (tiny), with map-side partial sums
  absorbing the volume; the alternative (array-sum aggregate) does not
  exist in Catalyst and a collect_list-based one would hit the 2 GB row
  ceiling;
* ``spark_util.iterate`` truncates the centroids (k·d longs) per
  round, keeping the iterative plan flat.

Reference parity: the reference is a parser framework with no
clustering; this is target-side surface for the embeddings table
(ANN/IVF training path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..spark_util import iterate

Q = 1 << 20  # Q20 fixed point


def _tdiv(col: Column, d: Column) -> Column:
    """Exact TRUNCATING (toward-zero) bigint division — ``x % d`` keeps
    the dividend's sign in both Spark and DuckDB, so ``(x - x%d)/d`` is
    the same integer everywhere; sums can be negative, so floor-style
    helpers for non-negative values don't apply."""
    return ((col - col % d) / d).cast("long")


def quantize(vec_col, dims: int) -> Column:
    """float array → Q20 bigint array (exact in every IEEE engine)."""
    return F.transform(
        F.slice(vec_col, 1, dims),
        lambda x: F.floor(x.cast("double") * F.lit(Q)).cast("long"),
    )


def _dist_fp(a, b) -> Column:
    """Σ (a_i − b_i)² over Q20 bigints. |q| ≤ 2^21 for unit-scale
    inputs → per-dim square ≤ 2^44, safe in a bigint sum to ~2^19 dims."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _assign(
    q: DataFrame, cents: DataFrame, k: int, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Nearest-centroid assignment of a quantized frame ``q`` (vec_id,
    [*keys,] qv) against a ``cents`` table ([*keys,] cluster, cv).
    With ``keys`` (e.g. ``("subspace",)``) the argmin runs
    independently per key group — how :func:`pq_fit` trains all m
    product-quantizer subspaces in ONE corpus pass per Lloyd round.

    Argmin as a PACKED-LONG min — ``min(dist · 2^B + cluster)`` with
    B = bits(k) — instead of ``min(struct(dist, cluster))``: struct
    min has no mutable hash-agg buffer so Catalyst falls back to
    SortAggregate, sorting all n·k scored rows per partition; the
    packed min is a plain bigint HashAggregate inside whole-stage
    codegen with map-side partials. Lexicographic (dist, cluster)
    order is preserved exactly because cluster < 2^B. Overflow is
    guarded per row (raise_error, still codegen'd): dist must stay
    below 2^(62-B), comfortably true for Q20 unit-scale embeddings
    (dist ≤ dims · 2^42 → dims ≤ 2^6 at k ≤ 2^13 leaves 2^61 < lim).
    """
    bbits = max(1, (k - 1).bit_length())
    lim = 1 << (62 - bbits)
    dist = _dist_fp(F.col("qv"), F.col("cv"))
    packed = F.when(
        dist < F.lit(lim),
        F.shiftleft(dist, bbits) + F.col("cluster").cast("long"),
    ).otherwise(
        F.raise_error(F.lit("kmeans_assign: dist overflows packed argmin"))
    )
    if keys:
        scored = q.join(F.broadcast(cents), list(keys)).select(
            "vec_id", *keys, packed.alias("pk")
        )
    else:
        scored = q.crossJoin(F.broadcast(cents)).select(
            "vec_id", packed.alias("pk")
        )
    best = scored.groupBy("vec_id", *keys).agg(F.min("pk").alias("pk"))
    return best.select(
        "vec_id",
        *keys,
        (F.col("pk") % F.lit(1 << bbits)).cast("int").alias("cluster"),
        F.shiftright(F.col("pk"), bbits).alias("dist_fp"),
    )


def _lloyd(
    q: DataFrame, k: int, iterations: int, keys: tuple[str, ...] = ()
) -> DataFrame:
    """Lloyd rounds over a quantized frame ``q`` (vec_id, [*keys,] qv),
    seeded with the vectors whose id < k → centroids ([*keys,] cluster,
    cv). Shared by :func:`kmeans_fit` and :func:`pq_fit`, whose
    ``keys=("subspace",)`` trains every subspace in one pass a round."""
    centroids = (
        q.filter(F.col("vec_id") < k)
        .select(
            *keys,
            F.col("vec_id").cast("int").alias("cluster"),
            F.col("qv").alias("cv"),
        )
        .localCheckpoint(eager=True)
    )

    def _round(centroids, _r):
        assigned = _assign(q, centroids, k, keys).join(q, ["vec_id", *keys])
        per_dim = assigned.select(
            *keys, "cluster", F.posexplode("qv").alias("pos", "val")
        ).groupBy(*keys, "cluster", "pos").agg(
            F.sum("val").alias("s"), F.count("*").alias("n")
        )
        return (
            per_dim.select(
                *keys, "cluster", "pos",
                _tdiv(F.col("s"), F.col("n")).alias("m"),
            )
            .groupBy(*keys, "cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda x: x["m"],
                ).alias("cv")
            )
        )

    return iterate(_round, centroids, iterations)[0]


def kmeans_fit(
    vecs: DataFrame,
    k: int = 8,
    iterations: int = 3,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Lloyd's k-means training loop → (quantized frame ``(vec_id,
    qv)``, final centroids ``(cluster, cv)``) — deterministically
    seeded with the vectors whose ``id_col`` < k (ids are dense in the
    synthetic corpus; production use passes any k chosen rows).
    ``spark_util.iterate`` truncates the centroids per round so the
    iterative plan stays flat; callers needing the codebook itself (PQ lookup tables,
    IVF cell routing) take the second element."""
    q = vecs.select(
        F.col(id_col).cast("long").alias("vec_id"),
        quantize(F.col(vec_col), dims).alias("qv"),
    ).localCheckpoint(eager=True)
    return q, _lloyd(q, k, iterations)


def kmeans_assign(
    vecs: DataFrame,
    k: int = 8,
    iterations: int = 3,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means (see :func:`kmeans_fit`). Returns the FINAL
    assignment ``(vec_id, cluster, dist_fp)`` after ``iterations``
    update rounds — ties in distance break to the smallest cluster id,
    so the output is total-order deterministic."""
    q, centroids = kmeans_fit(
        vecs, k=k, iterations=iterations, dims=dims,
        id_col=id_col, vec_col=vec_col,
    )
    return _assign(q, centroids, k)


def semdedup(
    vecs: DataFrame,
    k: int = 8,
    iterations: int = 3,
    dims: int = 64,
    tau2_num: int = 9,
    tau2_den: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means coarse clusters bound the candidate set,
    then cosine similarity is evaluated ONLY within each cluster — a
    vector is a duplicate when some smaller-id vector in its cluster is
    within the cosine threshold (min-id keeper, matching the exact-dedup
    keeper rule in operators/dedup.py). Returns
    ``(vec_id, cluster, dup_of, is_dup)`` with ``dup_of`` the smallest
    qualifying keeper id (null for keepers).

    The threshold is the RATIONAL ``tau2_num/tau2_den = τ²`` and the
    test is evaluated in integer arithmetic — ``dot > 0 AND
    tau2_den·dot² ≥ tau2_num·‖a‖²·‖b‖²`` over Q20 quantized vectors —
    so Spark and an external SQL oracle agree bit-exactly (no sqrt, no
    float accumulation order). Magnitudes: ‖q‖² ≤ d·2^42 for unit-scale
    inputs, and by Cauchy-Schwarz dot² ≤ ‖a‖²·‖b‖², so with
    ‖q‖² < 2^56 every decimal product stays < 5.2·10^37 — inside
    decimal(38,0) / HUGEINT. The norm bound is ENFORCED per row
    (raise_error, like kmeans_assign's packed-argmin guard): an
    unnormalized embedding would otherwise overflow the decimal to
    NULL and silently drop its duplicate pairs.

    Scale shape (10^9+ vectors): the pairwise stage is quadratic ONLY
    inside a cell; production sizing picks k ≈ N/target_cell so cells
    stay ~constant (SemDeDup uses k ~ 10^4-10^5 at 10^8 docs). The
    cluster-key self-join shuffles both sides on ``cluster`` — an
    equi-join, never a cross join — and the per-pair dot product is a
    JVM ``zip_with``/``aggregate`` inside whole-stage codegen.
    """
    assign = kmeans_assign(
        vecs, k=k, iterations=iterations, dims=dims,
        id_col=id_col, vec_col=vec_col,
    ).select("vec_id", "cluster")
    q = vecs.select(
        F.col(id_col).cast("long").alias("vec_id"),
        quantize(F.col(vec_col), dims).alias("qv"),
    )
    if not 0 < tau2_num <= tau2_den <= 10_000:
        raise ValueError(
            f"semdedup: need 0 < tau2_num <= tau2_den <= 10000, got "
            f"{tau2_num}/{tau2_den} (τ² is a cosine² in (0, 1])"
        )
    # guard COMPONENTS first, then the norm: a huge component wraps the
    # int64 square before any norm-only check could see it. |q_i| < 2^25
    # keeps per-dim squares < 2^50 (wrap-free for d ≤ 2^13), after which
    # ‖q‖² < 2^56 guarantees dot²·tau2_den ≤ ‖a‖²‖b‖²·10^4 < 5.2·10^37,
    # inside decimal(38,0). Q20 unit-scale inputs sit at |q_i| ≤ ~2^21,
    # ‖q‖² ≤ d·2^42 — far inside both bounds.
    comp_lim = 1 << 25
    if dims > (1 << 13):
        raise ValueError(f"semdedup: dims must be ≤ 8192, got {dims}")
    n2_raw = _dist_fp(F.col("qv"), F.array([F.lit(0).cast("long")] * dims))
    in_bounds = (
        F.array_max(F.transform(F.col("qv"), F.abs)) < F.lit(comp_lim)
    ) & (n2_raw < F.lit(1 << 56))
    a = assign.join(q, "vec_id").withColumn(
        "n2",
        F.when(in_bounds, n2_raw).otherwise(
            F.raise_error(
                F.lit(
                    "semdedup: embedding magnitude overflows the exact "
                    "decimal cosine test — normalize to unit scale first"
                )
            )
        ),
    )
    x, y = a.alias("x"), a.alias("y")
    dot = F.aggregate(
        F.zip_with(F.col("x.qv"), F.col("y.qv"), lambda u, v: u * v),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    dec = "decimal(38,0)"
    pairs = (
        x.join(
            y,
            (F.col("x.cluster") == F.col("y.cluster"))
            & (F.col("x.vec_id") > F.col("y.vec_id")),
        )
        .select(
            F.col("x.vec_id").alias("vec_id"),
            F.col("y.vec_id").alias("other"),
            dot.alias("dot"),
            F.col("x.n2").alias("nx2"),
            F.col("y.n2").alias("ny2"),
        )
        .where(
            (F.col("dot") > 0)
            & (
                F.col("dot").cast(dec) * F.col("dot") * F.lit(tau2_den)
                >= F.col("nx2").cast(dec) * F.col("ny2") * F.lit(tau2_num)
            )
        )
        .groupBy("vec_id")
        .agg(F.min("other").alias("dup_of"))
    )
    return (
        assign.join(pairs, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            "dup_of",
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


def gram_matrix(
    embeddings: DataFrame, vec_col: str = "embedding", scale: int = 1000
) -> DataFrame:
    """Exact second-moment (gram) matrix of the embedding corpus →
    (i, j, dot) with d² rows — the input to PCA / whitening / low-rank
    projection, computed the only way that survives 10^12 vectors:
    **collect d², never N**.

    Components quantize to fixed-point bigints (half-away-from-zero at
    ``scale``, matching SQL ROUND semantics so the DuckDB oracle is
    bit-exact), then each Arrow batch contributes one integer ``XᵀX``
    partial (numpy matmul, d×d) flattened to (i, j, v) rows. A single
    groupBy over the (i, j) key — cardinality d², map-side partials —
    sums the batches. Nothing driver-side, no N·d² explode, and integer
    accumulation is partitioning-invariant where a float sum's
    reduction order would flip low bits.

    Overflow bound: |v| per row ≤ N · (scale · max|e|)²; with
    unit-normalized embeddings and the default scale 10³ the int64
    ceiling allows ~9·10¹² rows — raise to decimal accumulation or
    lower ``scale`` beyond that.
    """
    import numpy as np
    import pyarrow as pa

    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")

    def run(batches):
        for rb in batches:
            vecs = rb.column(0).to_pylist()
            if not vecs:
                continue
            x = np.asarray(vecs, dtype=np.float64) * scale
            q = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)).astype(
                np.int64
            )
            g = q.T @ q
            d = g.shape[0]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(np.arange(d, dtype=np.int32), d)),
                    pa.array(np.tile(np.arange(d, dtype=np.int32), d)),
                    pa.array(g.ravel()),
                ],
                names=["i", "j", "v"],
            )

    part = embeddings.select(vec_col).mapInArrow(run, "i int, j int, v long")
    return part.groupBy("i", "j").agg(F.sum("v").cast("long").alias("dot"))


def pq_fit(
    vecs: DataFrame,
    m: int = 4,
    sub: int = 16,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Train all ``m`` product-quantizer subspaces JOINTLY → (sliced
    quantized frame ``(vec_id, subspace, qv)``, codebooks ``(subspace,
    cluster, cv)``). Bit-identical to m independent :func:`kmeans_fit`
    runs over the ``sub``-dim slices (same id<k seeding, same Q20
    truncating means per (subspace, cluster, pos)), but each Lloyd
    round is ONE job over the exploded (vec_id, subspace) rows instead
    of a job per subspace — m× fewer corpus passes and m× fewer
    scheduling barriers, which is both the small-scale latency win and
    the 10^12-vector shape (the per-round shuffle is keyed by
    (subspace, cluster, pos): m× more keys, m× fewer rounds)."""
    if m < 1 or sub < 1:
        raise ValueError(f"m and sub must be >= 1, got m={m}, sub={sub}")
    q = vecs.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("subspace"),
                    quantize(
                        F.slice(F.col(vec_col), j * sub + 1, sub), sub
                    ).alias("qv"),
                )
                for j in range(m)
            ])
        ).alias("s"),
    ).select("vec_id", "s.subspace", "s.qv").localCheckpoint(eager=True)
    return q, _lloyd(q, k, iterations, keys=("subspace",))


def pq_encode(
    vecs: DataFrame,
    m: int = 4,
    sub: int = 16,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization → (vec_id, codes, recon_err_fp): train an
    independent k-codeword quantizer per ``sub``-dim subspace (the same
    Q20 fixed-point Lloyd's as :func:`kmeans_assign`, deterministically
    seeded per subspace with the id<k rows) and encode every vector as
    its ``m`` per-subspace argmin codes, plus the summed fixed-point
    reconstruction error (the PQ quality signal). m·log2(k) bits per
    vector — a 64-dim float32 embedding compresses 21x at m=4, k=8 —
    which is what makes a 10^12-vector ANN index RAM-resident; the
    asymmetric-distance search sums m lookup-table entries per
    candidate instead of touching raw vectors.

    Scale shape: one joint :func:`pq_fit` training (all subspaces per
    Lloyd round in a single corpus pass; broadcast-centroid argmin +
    (subspace, cluster, pos)-keyed updates — never a corpus self-join),
    then one vec_id-keyed aggregation assembling the code array. All
    integer fixed-point, so codes are bit-identical at any parallelism
    and externally replayable.
    """
    q, cents = pq_fit(
        vecs, m=m, sub=sub, k=k, iterations=iterations,
        id_col=id_col, vec_col=vec_col,
    )
    u = _assign(q, cents, k, keys=("subspace",))
    return u.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("subspace", "cluster"))),
            lambda x: x["cluster"],
        ).alias("codes"),
        F.sum("dist_fp").cast("long").alias("recon_err_fp"),
    )


def pq_adist(
    vecs: DataFrame,
    query_id: int,
    m: int = 4,
    sub: int = 16,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric PQ distance of EVERY vector to ``query_id`` →
    (vec_id, adist_fp): per subspace, a lookup table of the query
    subvector's Q20 distance to each of the k codewords (m·k rows,
    built as a one-row broadcast against the codebook), then each
    vector's distance is the SUM of m LUT entries selected by its
    codes — the scan touches m small ints per candidate, never the raw
    vectors. Shared core of pq_search (global ranking) and
    pq_ivf_search (cell-restricted ranking); both accept a precomputed
    (ideally checkpointed) frame from here via their ``adist=``
    parameter, the train-once / search-many shape a real evaluation
    uses — per search call the codebook training (m Lloyd's loops,
    each a chain of Spark jobs) dominates at small scale, and at
    10^12 vectors retraining per query would be absurd."""
    q, cents = pq_fit(
        vecs, m=m, sub=sub, k=k, iterations=iterations,
        id_col=id_col, vec_col=vec_col,
    )
    code_u = _assign(q, cents, k, keys=("subspace",)).select(
        "vec_id", "subspace", "cluster"
    )
    qrows = q.filter(F.col("vec_id") == query_id).select(
        "subspace", F.col("qv").alias("query_qv")
    )
    lut_u = cents.join(F.broadcast(qrows), "subspace").select(
        "subspace",
        "cluster",
        _dist_fp(F.col("query_qv"), F.col("cv")).alias("ldist"),
    )
    return (
        code_u.join(F.broadcast(lut_u), ["subspace", "cluster"])
        .groupBy("vec_id")
        .agg(F.sum("ldist").cast("long").alias("adist_fp"))
    )


def pq_search(
    vecs: DataFrame,
    query_id: int,
    topk: int = 10,
    m: int = 4,
    sub: int = 16,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adist: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance PQ search → the ``topk`` nearest neighbors
    of ``query_id`` as (neighbor_id, adist_fp) over the WHOLE corpus
    (see :func:`pq_adist` for the LUT mechanics; :func:`pq_ivf_search`
    adds the cell-probing scan bound). TakeOrderedAndProject top-k with
    a total (adist, id) tie-break; all Q20 integer arithmetic,
    bit-identical at any parallelism. Pass ``adist`` (a precomputed
    :func:`pq_adist` frame) to reuse one trained codebook across
    several search/evaluation calls."""
    if topk < 1:
        raise ValueError(f"topk must be >= 1, got {topk}")
    if adist is None:
        adist = pq_adist(
            vecs, query_id, m=m, sub=sub, k=k, iterations=iterations,
            id_col=id_col, vec_col=vec_col,
        )
    return (
        adist.filter(F.col("vec_id") != query_id)
        .orderBy("adist_fp", "vec_id")
        .limit(topk)
        .select(F.col("vec_id").alias("neighbor_id"), "adist_fp")
    )


def pq_ivf_search(
    vecs: DataFrame,
    query_id: int,
    topk: int = 10,
    nprobe: int = 2,
    k_coarse: int = 8,
    coarse_iterations: int = 2,
    m: int = 4,
    sub: int = 16,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    adist: DataFrame | None = None,
) -> DataFrame:
    """IVF-routed PQ search → top-k (neighbor_id, adist_fp) of
    ``query_id``: a coarse full-space quantizer assigns every vector to
    one of ``k_coarse`` cells, the query probes only its ``nprobe``
    nearest cells, and asymmetric PQ distance is ranked ONLY over the
    candidates in those cells — the production ANN shape (IVF bounds
    the scan to ~nprobe/k_coarse of the corpus, PQ bounds per-candidate
    cost to m LUT lookups). Plain PQ on raw vectors, not residuals —
    the no-residual IVF-PQ variant; residual coding would need per-cell
    codebooks.

    Shape: the coarse kmeans_fit + a broadcast probe-cell semi-join
    bounding the candidates, then the pq_adist joins (broadcast m·k
    LUT, vec_id sum) and TakeOrderedAndProject. The probe list is
    nprobe rows; at 10^12 vectors the candidate set is
    corpus·nprobe/k_coarse — the knob that trades recall for scan
    cost. All Q20 integer, bit-exact at any parallelism.
    """
    if topk < 1 or nprobe < 1:
        raise ValueError(f"topk and nprobe must be >= 1, got {topk}, {nprobe}")
    dims = m * sub
    q, coarse = kmeans_fit(
        vecs, k=k_coarse, iterations=coarse_iterations, dims=dims,
        id_col=id_col, vec_col=vec_col,
    )
    cells = _assign(q, coarse, k_coarse).select("vec_id", "cluster")
    qrow = q.filter(F.col("vec_id") == query_id).select(
        F.col("qv").alias("query_qv")
    )
    probe = (
        coarse.crossJoin(F.broadcast(qrow))
        .select(
            "cluster", _dist_fp(F.col("query_qv"), F.col("cv")).alias("cd")
        )
        .orderBy("cd", "cluster")
        .limit(nprobe)
        .select("cluster")
    )
    cand = cells.join(F.broadcast(probe), "cluster").select("vec_id")
    if adist is None:
        adist = pq_adist(
            vecs, query_id, m=m, sub=sub, k=k, iterations=iterations,
            id_col=id_col, vec_col=vec_col,
        )
    return (
        adist.join(cand, "vec_id")
        .filter(F.col("vec_id") != query_id)
        .orderBy("adist_fp", "vec_id")
        .limit(topk)
        .select(F.col("vec_id").alias("neighbor_id"), "adist_fp")
    )


def exact_topk_fp(
    vecs: DataFrame,
    query_id: int,
    topk: int = 10,
    dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT Q20 L2 top-k of ``query_id`` → (neighbor_id, dist_fp) —
    the ground truth an ANN quality evaluation compares against.
    Corpus-×-one-row broadcast scan: linear, but it touches every raw
    vector, so at 10^12 vectors this runs on an evaluation SAMPLE, not
    the corpus (same stance as similarity.brute_force_topk — the gated
    small-sf oracle / recall harness, never the production path)."""
    if topk < 1:
        raise ValueError(f"topk must be >= 1, got {topk}")
    q = vecs.select(
        F.col(id_col).cast("long").alias("vec_id"),
        quantize(F.col(vec_col), dims).alias("qv"),
    )
    qrow = q.filter(F.col("vec_id") == query_id).select(
        F.col("qv").alias("query_qv")
    )
    return (
        q.crossJoin(F.broadcast(qrow))
        .select(
            "vec_id", _dist_fp(F.col("qv"), F.col("query_qv")).alias("dist_fp")
        )
        .filter(F.col("vec_id") != query_id)
        .orderBy("dist_fp", "vec_id")
        .limit(topk)
        .select(F.col("vec_id").alias("neighbor_id"), "dist_fp")
    )


def prefix_dim_recall(
    vecs: DataFrame,
    query_id: int,
    topk: int = 10,
    dims_list: tuple[int, ...] = (8, 16, 32, 64),
    full_dims: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style embedding-dimension ablation (MRL, arXiv:
    2205.13147): recall@k of exact top-k under each PREFIX of the
    embedding (first d dims, Q20 L2) against the full-dimension ground
    truth → one row per d: (dims, hits, k, recall_pm). This is the
    measurement that decides how far an embedding column can be
    truncated before ANN quality collapses — truncation divides index
    size, shuffle volume, and distance cost by full/d, so it's usually
    the FIRST scale lever on a 10^12-vector corpus, tried before PQ.

    Same evaluation stance as q_ann_recall: both sides are exact
    corpus-×-one-row scans, so at production scale this runs on an
    evaluation sample; the gate verifies the methodology is bit-exact.
    The ground-truth top-k is localCheckpoint-ed so the per-d branches
    and their union arms don't replan it (the standing recompute
    audit), and the full-dims entry doubles as a self-check: its
    recall is 1000 by construction.
    """
    if topk < 1:
        raise ValueError(f"topk must be >= 1, got {topk}")
    if not dims_list or any(d < 1 or d > full_dims for d in dims_list):
        raise ValueError(
            f"dims_list must be non-empty with 1 <= d <= {full_dims}"
        )
    truth = (
        exact_topk_fp(vecs, query_id, topk, full_dims, id_col, vec_col)
        .select("neighbor_id")
        .localCheckpoint(eager=False)
    )
    out = None
    for d in dims_list:
        pref = exact_topk_fp(
            vecs, query_id, topk, d, id_col, vec_col
        ).select("neighbor_id")
        row = (
            pref.join(truth, "neighbor_id")
            .agg(F.count("*").cast("int").alias("hits"))
            .select(
                F.lit(d).cast("int").alias("dims"),
                "hits",
                F.lit(topk).cast("int").alias("k"),
                F.expr(f"CAST(1000 AS BIGINT) * hits div {topk}").alias(
                    "recall_pm"
                ),
            )
        )
        out = row if out is None else out.union(row)
    return out


def centroid_drift(
    emb_a: DataFrame,
    emb_b: DataFrame,
    dim: int,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid alignment between two corpus slices →
    (label, n_a, n_b, dot_q, cos2_signed_micro): the drift monitor a
    training-data pipeline runs between deliveries — for every label,
    both slices' Q20 mean vectors, their exact integer dot product,
    and the SIGNED SQUARED cosine in micro-units
    (``sign(dot) · dot² · 10⁶ div (‖a‖²·‖b‖²)``) — squared because the
    square avoids an inexact square root, keeping the metric
    bit-identical everywhere (1,000,000 = perfectly aligned, 0 =
    orthogonal, negative = pointing away). Labels present in only one
    slice are dropped (no centroid to compare).

    Shape: one posexplode + (label, dim) sum per slice — cardinality
    |labels|·d, NEVER the corpus — then a (label, dim) equi-join and a
    |labels|-row aggregate. Means are truncating integer divisions of
    Q20 sums; products run in DECIMAL(38) (dot² ≤ ~10³⁶ for
    unit-scale embeddings) so nothing overflows before the final
    division. The corpus is touched exactly once per slice.
    """

    def means(df, m):
        per = df.select(
            F.col(label_col).alias("label"),
            F.posexplode(quantize(F.col(vec_col), dim)).alias("dim", "v"),
        )
        return per.groupBy("label", "dim").agg(
            _tdiv(F.sum("v"), F.count("*")).alias(m),
            F.count("*").alias(f"n_{m}"),
        )
    ma = means(emb_a, "ma")
    mb = means(emb_b, "mb")
    j = ma.join(mb, ["label", "dim"])
    g = j.groupBy("label").agg(
        F.first("n_ma").cast("long").alias("n_a"),
        F.first("n_mb").cast("long").alias("n_b"),
        F.sum(F.col("ma") * F.col("mb")).alias("dot_q"),
        F.sum(F.col("ma") * F.col("ma")).alias("_na2"),
        F.sum(F.col("mb") * F.col("mb")).alias("_nb2"),
    )
    mag = F.expr(
        "CAST(abs(dot_q) AS DECIMAL(38,0)) * abs(dot_q) * 1000000"
        " div greatest(CAST(_na2 AS DECIMAL(38,0)) * _nb2, 1)"
    )
    return g.select(
        "label",
        "n_a",
        "n_b",
        F.col("dot_q").cast("long").alias("dot_q"),
        F.when(F.col("dot_q") < 0, -mag)
        .otherwise(mag)
        .cast("long")
        .alias("cos2_signed_micro"),
    )
