"""Document deduplication operators for training-data pipelines.

Beyond the reference's set-semantics triple dedup (SesameTestHelper
model comparison), a 100 TB corpus pipeline needs document-level dedup:

* exact        — hash-groupBy on a normalized body hash (one shuffle,
                 map-side partial agg);
* minhash LSH  — shingle → k minhashes → band buckets → candidate pairs
                 only within buckets (never all-pairs);
* simhash      — 64-bit fingerprint, near-dups share band keys;
* n-gram Jaccard — verification kernel for candidate pairs.

All hashing uses Spark's built-in xxhash64/hash/md5 so each stage is
JVM-side whole-stage codegen; the shuffles are the band-bucket groupBys
(keyed on short hash values — uniform, skew-free by construction) plus,
on the md5 path, one doc-keyed signature groupBy (the price of hashing
each shingle once instead of k times). Candidate-pair verification
joins documents back by id — at scale that join is a shuffle join on
doc_id, with AQE handling any residual skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic odd multipliers for minhash permutations (any fixed seeds)
_MINHASH_SEEDS = [0x9E3779B1 + 2 * i + 1 for i in range(64)]

# affine permutation family for the single-base-hash minhash path:
# h_i(x) = (A_i * base(x) + B_i) mod P — one expensive hash per shingle,
# k cheap mixes (standard universal-hashing minhash construction)
_MH_P = (1 << 31) - 1
_MH_A = [(s % (_MH_P - 1)) + 1 for s in _MINHASH_SEEDS]
_MH_B = [(s * 0x85EBCA6B) % _MH_P for s in _MINHASH_SEEDS]


def normalized_text(col="text"):
    return F.regexp_replace(F.trim(F.lower(F.col(col))), r"\s+", " ")


def md5_hash60(col, seed: int | None = None):
    """60-bit hash = int(md5(s [+ '#seed'])[0:15], 16).

    Exactly replicable in ANSI SQL / DuckDB (hex-digit fold over
    ``md5``), unlike xxhash64 — used by the oracle-checked query
    variants so the external gate recomputes identical fingerprints.
    xxhash64 remains the fast default for production paths (single
    JVM intrinsic vs md5 + string slicing)."""
    c = F.col(col) if isinstance(col, str) else col
    if seed is not None:
        c = F.concat(c, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _hash64(col, seed: int | None = None, method: str = "xxhash64"):
    """Dispatch: 64-bit xxhash64 (fast path) or 60-bit md5 (oracle path).

    The salt goes FIRST: Spark's multi-column ``xxhash64(a, b)`` chains
    each column's hash as the *seed* for the next, so ``xxhash64(body,
    lit(salt))`` would be a pure function of ``xxhash64(body)`` — any
    unsalted collision would survive every salt. ``xxhash64(lit(salt),
    body)`` perturbs the seed entering the body bytes instead, giving a
    genuinely independent function per salt (same rationale as
    exact_dedup's h2)."""
    if method == "md5":
        return md5_hash60(col, seed)
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(F.lit(seed), c) if seed is not None else F.xxhash64(c)


def exact_dedup(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Keep the minimum id per identical normalized body.

    Grouping is on TWO independent 64-bit hashes (128 bits effectively):
    a single 64-bit key collides ~(N^2)/2^65 times — tens of thousands
    of falsely-merged pairs at the 10^12-document target, each silently
    deleting a unique document. At 128 bits the expectation is ~1e-15.

    Independence caveat: Spark's multi-column ``xxhash64(a, b)`` chains
    each column's hash as the *seed* for the next, so
    ``xxhash64(body, lit(salt))`` is a pure function of
    ``xxhash64(body)`` — any h1 collision would also collide h2. The
    salt therefore goes FIRST (perturbing the seed entering the body
    bytes), which makes h2 genuinely independent of h1.

    Returns (doc_id, keep_id, is_duplicate)."""
    body = normalized_text(text_col)
    h = docs.select(
        F.col(id_col),
        F.xxhash64(body).alias("h1"),
        F.xxhash64(F.lit(0x5EED), body).alias("h2"),
    )
    keepers = h.groupBy("h1", "h2").agg(F.min(id_col).alias("keep_id"))
    return (
        h.join(keepers, ["h1", "h2"])
        .select(
            id_col,
            "keep_id",
            (F.col(id_col) != F.col("keep_id")).alias("is_duplicate"),
        )
    )


def shingles(docs: DataFrame, id_col="doc_id", text_col="text", k: int = 3) -> DataFrame:
    """Word k-shingles as an array column.

    Built with k-1 ``zip_with`` passes over shifted copies of the token
    array — O(n) per row. (The per-index ``slice``+``concat_ws``
    formulation is O(n·k) array copies and measured ~10× slower.)"""
    words = F.split(normalized_text(text_col), " ")
    n = F.size(words)
    cnt = F.greatest(n - (k - 1), F.lit(1))
    sh = F.slice(words, 1, cnt)
    for off in range(1, k):
        shifted = F.slice(words, off + 1, cnt)
        sh = F.zip_with(sh, shifted, lambda a, b: F.concat(a, F.lit(" "), b))
    # n < k leaves trailing nulls from the short shifted arrays; emit the
    # single truncated shingle the sequential formulation produced
    short = F.array(F.concat_ws(" ", F.slice(words, 1, k)))
    sh = F.when(n < k, short).otherwise(sh)
    return docs.select(F.col(id_col), F.array_distinct(sh).alias("shingles"))


def minhash_signatures(
    sh: DataFrame, id_col="doc_id", num_hashes: int = 16,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """k minhash values per doc.

    xxhash64 path: min over xxhash64(shingle, seed) per row — the JVM
    hash intrinsic is cheap enough to run k times per shingle.

    md5 path (SQL-replicable, used by the oracle-gated queries): ONE
    md5 per shingle (explode → hash → k affine mixes in a single
    map-side-partial groupBy), because k md5+conv evaluations per
    shingle dominate the stage. The affine family (A_i·h+B_i) mod P is
    the standard universal-hashing minhash construction."""
    if hash_method == "md5":
        base = F.pmod(md5_hash60("s"), F.lit(_MH_P))
        hashed = sh.select(
            F.col(id_col), F.explode("shingles").alias("s")
        ).select(id_col, base.alias("b"))
        mins = [
            F.min(
                F.pmod(F.col("b") * F.lit(_MH_A[i]) + F.lit(_MH_B[i]), F.lit(_MH_P))
            ).alias(f"m{i}")
            for i in range(num_hashes)
        ]
        agg = hashed.groupBy(id_col).agg(*mins)
        sig = F.array(*[F.col(f"m{i}") for i in range(num_hashes)])
        return agg.select(F.col(id_col), sig.alias("signature"))

    def seeded(seed: int):
        # bind via closure factory: a `lambda s, seed=seed:` two-param
        # lambda would be treated by F.transform as (element, index) and
        # silently rebind `seed` to the array-index column
        return lambda s: _hash64(s, seed, hash_method)

    sig = F.array(
        *[
            F.array_min(F.transform(F.col("shingles"), seeded(seed)))
            for seed in _MINHASH_SEEDS[:num_hashes]
        ]
    )
    return sh.select(F.col(id_col), sig.alias("signature"))


def banded_rows(
    docs: DataFrame,
    id_col="doc_id",
    text_col="text",
    num_hashes: int = 16,
    bands: int = 4,
    precomputed_shingles: DataFrame | None = None,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """The LSH index rows of a corpus: (id_col, band, band_hash).

    This is the materialization unit for incremental dedup at scale —
    persist it as a table bucketed on (band, band_hash) and every
    future batch joins against it without recomputing corpus
    signatures. Returns one row per (doc, band)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must divide evenly into bands={bands}; "
            f"trailing hashes would be silently ignored"
        )
    if num_hashes > len(_MINHASH_SEEDS):
        raise ValueError(
            f"num_hashes={num_hashes} exceeds the {len(_MINHASH_SEEDS)} available seeds"
        )
    rows_per_band = num_hashes // bands
    # checkpoint the shingle arrays: projection collapse would otherwise
    # inline the shingle expression into every one of the k minhash
    # expressions (k× recompute per row); localCheckpoint (not persist)
    # so the ContextCleaner reclaims storage once the result is dropped
    sh = precomputed_shingles
    if sh is None:
        sh = shingles(docs, id_col, text_col).localCheckpoint(eager=False)
    sigs = minhash_signatures(sh, id_col, num_hashes, hash_method)

    def band_key(b: int):
        sl = F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band)
        if hash_method == "md5":
            # oracle path: the band key must be SQL-replicable — a
            # joined string of the minhash values (equality-only key)
            return F.concat_ws(",", F.transform(sl, lambda v: v.cast("string")))
        return F.hash(sl).cast("string")

    return sigs.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[band_key(b) for b in range(bands)])
        ).alias("band", "band_hash"),
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    id_col="doc_id",
    text_col="text",
    num_hashes: int = 16,
    bands: int = 4,
    precomputed_shingles: DataFrame | None = None,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH.

    Docs sharing any band of minhashes land in one bucket; pairs are
    produced per bucket via a self-join on the band key — the shuffle is
    keyed by (band, band_hash), uniform by construction.
    Returns (doc_a, doc_b) with doc_a < doc_b.
    """
    banded = banded_rows(
        docs, id_col, text_col, num_hashes, bands,
        precomputed_shingles=precomputed_shingles, hash_method=hash_method,
    )
    left = banded.select(
        "band", "band_hash", F.col(id_col).alias("doc_a")
    )
    right = banded.select(
        "band", "band_hash", F.col(id_col).alias("doc_b")
    )
    return (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    id_col="doc_id",
    text_col="text",
    k: int = 3,
    precomputed_shingles: DataFrame | None = None,
) -> DataFrame:
    """Verify candidate pairs with exact shingle-set Jaccard.

    Returns (doc_a, doc_b, jaccard)."""
    # both join sides read the shingle table — materialize shingling once
    sh = precomputed_shingles
    if sh is None:
        sh = shingles(docs, id_col, text_col, k).localCheckpoint(eager=False)
    a = sh.select(F.col(id_col).alias("doc_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("doc_b"), F.col("shingles").alias("sh_b"))
    joined = candidates.join(a, "doc_a").join(b, "doc_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return joined.select(
        "doc_a",
        "doc_b",
        (inter / F.when(union == 0, F.lit(1)).otherwise(union)).alias("jaccard"),
    )


def simhash(
    docs: DataFrame, id_col="doc_id", text_col="text",
    hash_method: str = "xxhash64",
) -> DataFrame:
    """SimHash over word tokens (64-bit xxhash64 / 60-bit md5).

    Each token votes ±1 on each bit of its hash; the fingerprint takes
    the sign. Near-duplicates differ in few bits.

    Shape: explode tokens → one hash per row → per-bit conditional-sum
    aggregates in a single groupBy. One shuffle keyed by doc id (already
    the natural partitioning), and the per-bit votes reference ONE hash
    column — the array-fold formulation would inline the token-hash
    array into all bit expressions (64× recompute per row).
    Returns (doc_id, simhash)."""
    nbits = 60 if hash_method == "md5" else 64
    words = F.split(normalized_text(text_col), " ")
    tokens = docs.select(F.col(id_col), F.explode(words).alias("tok"))
    hashed = tokens.select(id_col, _hash64("tok", None, hash_method).alias("h"))

    def mask(bit: int) -> int:
        return (1 << bit) if bit < 63 else -(1 << 63)

    votes = [
        F.sum(
            F.when(F.col("h").bitwiseAND(F.lit(mask(b))) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(nbits)
    ]
    agg = hashed.groupBy(id_col).agg(*votes)
    fingerprint = None
    for b in range(nbits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(mask(b)).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        fingerprint = term if fingerprint is None else fingerprint.bitwiseOR(term)
    return agg.select(F.col(id_col), fingerprint.cast("long").alias("simhash"))


def near_dedup_minhash(
    docs: DataFrame,
    id_col="doc_id",
    text_col="text",
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Full near-dup pipeline: LSH candidates → Jaccard verify → pairs
    over threshold. Returns (doc_a, doc_b, jaccard)."""
    sh = shingles(docs, id_col, text_col).localCheckpoint(eager=False)
    cands = minhash_lsh_candidates(
        docs, id_col, text_col, num_hashes, bands,
        precomputed_shingles=sh, hash_method=hash_method,
    )
    verified = ngram_jaccard_pairs(
        docs, cands, id_col, text_col, precomputed_shingles=sh
    )
    return verified.filter(F.col("jaccard") >= threshold)


def _window_rows(
    docs: DataFrame, window: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, win): each document's DISTINCT `window`-word spans."""
    w = shingles(docs, id_col, text_col, k=window)
    return w.select(F.col(id_col), F.explode("shingles").alias("win"))


def substring_dup_pairs(
    docs: DataFrame,
    window: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact substring duplicate detection: pairs of documents sharing
    at least one verbatim `window`-word span, with the count of shared
    distinct spans — the containment/boilerplate modality that
    shingle-Jaccard misses (a 50-word quote inside a 5,000-word page
    moves Jaccard ~1% but is an exact substring dup). This is the
    n-gram-window formulation of suffix-based training-data dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better" — public method; the reference engine has no
    dedup surface).

    Shape: one narrow explode to distinct windows per doc, then an
    equi self-join keyed on the span — never a doc×doc product. The
    skew hazard is a boilerplate span shared by millions of docs
    (quadratic pairs in that bucket): ``max_bucket`` drops spans
    carried by more than that many documents before pairing — at
    scale ALWAYS set it and route the dropped spans through
    :func:`boilerplate_windows` instead, which reports them linearly.

    Documents shorter than `window` words degrade to one whole-text
    span (shingles()'s n<k rule), so short exact dups still pair.
    Returns (doc_a, doc_b, n_shared_windows)."""
    # the window explode is the expensive corpus pass and feeds the
    # bucket census AND both self-join sides; checkpoint it once
    # (observed: 0 ReusedExchange — every consumer re-ran the explode)
    ex = _window_rows(docs, window, id_col, text_col).localCheckpoint(
        eager=False
    )
    if max_bucket is not None:
        ok = (
            ex.groupBy("win")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") <= max_bucket)
            .select("win")
        )
        ex = ex.join(ok, "win").localCheckpoint(eager=False)
    a = ex.select(F.col(id_col).alias("doc_a"), "win")
    b = ex.select(F.col(id_col).alias("doc_b"), "win")
    return (
        a.join(b, "win")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )


def boilerplate_windows(
    docs: DataFrame,
    window: int = 16,
    min_docs: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The hot spans substring dedup must NOT pair on: verbatim
    `window`-word spans carried by at least ``min_docs`` documents
    (license headers, navigation chrome, legal disclaimers). One
    groupBy over the window rows — linear where the pair join would be
    quadratic. Feed the result to a filter/redaction stage and set
    ``substring_dup_pairs(max_bucket=min_docs-1)`` so the two outputs
    partition the span population. Returns (win, n_docs)."""
    ex = _window_rows(docs, window, id_col, text_col)
    return (
        ex.groupBy("win")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def incremental_near_dedup(
    corpus: DataFrame,
    new_docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 16,
    bands: int = 4,
    hash_method: str = "xxhash64",
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_bands: DataFrame | None = None,
    corpus_shingles: DataFrame | None = None,
) -> DataFrame:
    """Admission control for continuous ingest: near-dedup a NEW batch
    against an already-deduplicated corpus without re-clustering the
    corpus.

    Decision rule (deterministic, SQL-expressible): a new document's
    ``dup_of`` is the minimum verified near-duplicate id among corpus
    matches, else the minimum verified earlier-id match within the
    batch; ``admitted`` iff no match. (Greedy-by-id within the batch —
    transitive closure across batches belongs to the offline
    :func:`survivors` pass.)

    Scale shape: the corpus side is touched ONLY through its LSH band
    index (``corpus_bands`` — persist :func:`banded_rows` bucketed on
    (band, band_hash) and pass it in; at 10^12 docs the index is ~4
    rows/doc of short keys) plus a candidate-keyed join to the corpus
    shingle table for verification (the candidate set is LSH-small, so
    AQE broadcasts it). The new batch never cross-products anything.
    Re-running the same batch yields the identical decision set —
    resume-safe by construction.

    Returns (doc_id, dup_of, admitted) — one row per new document.
    """
    sh_n = shingles(new_docs, id_col, text_col).localCheckpoint(eager=False)
    sh_c = corpus_shingles
    if sh_c is None:
        sh_c = shingles(corpus, id_col, text_col).localCheckpoint(eager=False)
    bn = banded_rows(
        new_docs, id_col, text_col, num_hashes, bands,
        precomputed_shingles=sh_n, hash_method=hash_method,
    )
    bc = corpus_bands
    if bc is None:
        bc = banded_rows(
            corpus, id_col, text_col, num_hashes, bands,
            precomputed_shingles=sh_c, hash_method=hash_method,
        )

    def verify(cands: DataFrame, sh_other: DataFrame) -> DataFrame:
        a = sh_n.select(
            F.col(id_col).alias("new_id"), F.col("shingles").alias("sh_a")
        )
        b = sh_other.select(
            F.col(id_col).alias("other_id"), F.col("shingles").alias("sh_b")
        )
        joined = cands.join(a, "new_id").join(b, "other_id")
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size(F.array_union("sh_a", "sh_b"))
        jac = inter / F.when(union == 0, F.lit(1)).otherwise(union)
        return joined.select("new_id", "other_id").where(jac >= threshold)

    cand_c = (
        bn.select("band", "band_hash", F.col(id_col).alias("new_id"))
        .join(
            bc.select("band", "band_hash", F.col(id_col).alias("other_id")),
            ["band", "band_hash"],
        )
        .select("new_id", "other_id")
        .distinct()
    )
    bn_pairs = bn.select("band", "band_hash", F.col(id_col).alias("new_id"))
    cand_n = (
        bn_pairs.join(
            bn.select("band", "band_hash", F.col(id_col).alias("other_id")),
            ["band", "band_hash"],
        )
        .filter(F.col("other_id") < F.col("new_id"))
        .select("new_id", "other_id")
        .distinct()
    )
    best_c = verify(cand_c, sh_c).groupBy("new_id").agg(
        F.min("other_id").alias("dup_of_corpus")
    )
    best_n = verify(cand_n, sh_n).groupBy("new_id").agg(
        F.min("other_id").alias("dup_of_batch")
    )
    out = (
        new_docs.select(F.col(id_col).alias("new_id"))
        .join(best_c, "new_id", "left")
        .join(best_n, "new_id", "left")
    )
    dup_of = F.coalesce("dup_of_corpus", "dup_of_batch")
    return out.select(
        F.col("new_id").alias(id_col),
        dup_of.alias("dup_of"),
        dup_of.isNull().alias("admitted"),
    )


def _pad_id(c):
    """Zero-pad an id to width 20 so string ordering over the CC labels
    is the NUMERIC ordering for integer ids (bare string ordering would
    rank "1000007" below "7" and keep the copy instead of the
    original). Shared by both keeper policies — the padding convention
    must never diverge between them."""
    return F.lpad(c.cast("string"), 20, "0")


def _component_map(dup_pairs: DataFrame) -> DataFrame:
    """Verified duplicate pairs → (node, component) over the padded-id
    duplicate graph (canon.connected_components). Dup clusters are tiny
    by construction, so a duplicate graph of up to 10^6 pairs closes on
    the driver with no contraction round."""
    from .canon import connected_components

    edges = dup_pairs.select(
        _pad_id(F.col("doc_a")).alias("src"),
        _pad_id(F.col("doc_b")).alias("dst"),
    )
    return connected_components(edges)


def survivors(
    docs: DataFrame, dup_pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keeper selection over a verified duplicate graph: connected
    components (duplicate-of is transitive once verified), keep the
    minimum id per cluster, return the surviving corpus rows.

    Scale shape: tiny components (see :func:`_component_map`); the
    final anti-join is keyed on the padded id — AQE broadcasts the drop
    list when the dup fraction is small."""
    comp = _component_map(dup_pairs)
    drops = comp.filter(F.col("node") != F.col("component")).select("node")
    return docs.join(
        drops, _pad_id(F.col(id_col)) == F.col("node"), "left_anti"
    )


def survivors_by_score(
    docs: DataFrame,
    dup_pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware keeper selection over a verified duplicate graph:
    connected components as in :func:`survivors`, but the keeper per
    cluster is the member with the HIGHEST ``score_col`` (ties broken
    by the numerically smallest id), so dedup keeps the best copy
    rather than the first-seen one — the standard curation policy when
    near-dups differ in quality (truncation, boilerplate, OCR noise).

    Deterministic: ordering is (score desc, zero-padded id asc), a
    total order. The rank window partitions by COMPONENT — duplicate
    clusters, which are tiny by construction — never by a corpus-wide
    key, so the window stage is skew-free at any corpus size; rows in
    no cluster bypass the window entirely (left anti on the component
    map) and survive as-is."""
    from pyspark.sql.window import Window

    comp = _component_map(dup_pairs).withColumnRenamed("node", "__node")
    keyed = docs.withColumn("__node", _pad_id(F.col(id_col)))
    solo = keyed.join(comp, "__node", "left_anti").drop("__node")
    clustered = keyed.join(comp, "__node")
    w = (
        Window.partitionBy("component")
        .orderBy(F.col(score_col).desc(), F.col("__node").asc())
    )
    best = (
        clustered.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk", "__node", "component")
    )
    return solo.unionByName(best)


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 4,
    w: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    the MOSS algorithm — public method): hash every word k-gram, slide
    a w-window over the per-document hash sequence, keep each window's
    MINIMUM hash → a fingerprint set with the winnowing guarantee that
    any shared run of at least w+k-1 words between two documents yields
    at least one shared fingerprint. The local-fingerprint modality
    between full-text hashing (misses near-misses) and all-shingles
    MinHash (global similarity, misses contained quotes).

    Hashes are the 60-bit md5 fold (md5_hash60) so the external oracle
    recomputes identical values. Documents shorter than k words emit
    one whole-text gram (shingles()'s n<k rule). Returns DISTINCT
    (doc_id, fp).

    Plan: k-grams via k-1 JVM zip_with passes (O(n) per row), one
    posexplode, ONE per-document sliding min window (partitioned by
    doc_id — 10^9 tiny partitions, the label-prop stance, never a
    global sort), one distinct. Trailing sub-w windows are excluded
    (pos ≤ grams − w), matching the classic formulation."""
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")
    from pyspark.sql.window import Window

    words = F.split(normalized_text(text_col), " ")
    n = F.size(words)
    cnt = F.greatest(n - (k - 1), F.lit(1))
    sh = F.slice(words, 1, cnt)
    for off in range(1, k):
        sh = F.zip_with(
            sh, F.slice(words, off + 1, cnt),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    sh = F.when(n < k, F.array(F.concat_ws(" ", F.slice(words, 1, k)))).otherwise(sh)
    grams = docs.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col), F.posexplode(sh).alias("pos", "gram")
    )
    h = grams.select(id_col, "pos", md5_hash60(F.col("gram")).alias("h"))
    sliding = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    whole = Window.partitionBy(id_col)
    return (
        h.select(
            F.col(id_col),
            "pos",
            F.min("h").over(sliding).alias("fp"),
            F.max("pos").over(whole).alias("_last"),
        )
        .filter(F.col("pos") <= F.greatest(F.col("_last") - (w - 1), F.lit(0)))
        .select(id_col, "fp")
        .distinct()
    )


def segment_dedup(
    docs: DataFrame,
    seg_words: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide segment-level dedup with text reconstruction →
    (doc_id, n_segs, n_kept, clean_text): split every document into
    non-overlapping ``seg_words``-word segments, keep each distinct
    segment only at its FIRST corpus occurrence (lowest (doc_id,
    position)), and re-emit each document's surviving text — the
    remove-repeated-spans pass of C4-style curation (produces the
    cleaned corpus, where substring_dup_pairs only *reports* offending
    pairs; same public method family as Lee et al. 2022 — the
    reference engine has no dedup surface).

    Shape: one narrow posexplode to (doc, pos, segment), one hash
    aggregation per segment taking the min (doc_id, pos) struct
    (map-side partial — a boilerplate segment repeated 10^6 times
    collapses to one keeper row before the shuffle), an equi-join of
    the keeper back on the segment key, and one per-document
    reassembly aggregation (sort the kept (pos, seg) structs, join
    with spaces). No pairwise document work anywhere; AQE covers
    residual hot-segment join skew. First-occurrence-wins is a total
    deterministic rule, so the cleaned corpus is identical at any
    parallelism and under resume/replay.
    """
    if seg_words < 1:
        raise ValueError(f"seg_words must be >= 1, got {seg_words}")
    words = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.concat_ws(
            " ", F.slice(words, i * seg_words + 1, seg_words)
        ),
    )
    exploded = docs.select(
        F.col(id_col), F.posexplode(segs).alias("pos", "seg")
    )
    keeper = exploded.groupBy("seg").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__k")
    )
    kept = (
        exploded.join(keeper, "seg")
        .filter(
            (F.col("__k")[id_col] == F.col(id_col))
            & (F.col("__k")["pos"] == F.col("pos"))
        )
        .select(id_col, "pos", "seg")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                lambda x: x["seg"],
            ),
        ).alias("clean_text"),
    )
    base = docs.select(F.col(id_col), n_segs.alias("n_segs"))
    return base.join(reassembled, on=id_col, how="left").select(
        id_col,
        "n_segs",
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def conv_turn_shingles(transcripts: DataFrame) -> DataFrame:
    """Per-conversation turn-sequence shingles → (conv_id, shingles):
    each turn collapses to one md5 of (role, text), consecutive turn
    hashes pair into order-sensitive 2-shingles, and the distinct
    shingle set feeds the standard minhash/LSH machinery. A
    single-turn conversation contributes its lone turn hash.

    This is the conversation-grain analogue of word-shingling: two
    agent sessions that replay the same turn sequence (retries,
    resubmissions, forked sessions) overlap heavily even when no
    single turn is corpus-duplicated, while reordered turns do NOT
    match — the 2-gram keeps the sequence, not the bag.

    Shape: ONE hash aggregation keyed by conv_id (sorted collect_list,
    no window sort), then row-local zip_with over the shifted hash
    array — the same O(n) shingling as dedup.shingles. The heavy text
    column collapses to a 32-char hash BEFORE the shuffle, so the
    aggregation moves hashes, not bodies.
    """
    items = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("turn_idx").alias("i"),
                F.md5(F.concat_ws("\x1f", "role", "text")).alias("h"),
            )
        )
    )
    g = transcripts.groupBy("conv_id").agg(items.alias("it"))
    hs = F.transform(F.col("it"), lambda t: t["h"])
    n = F.size(F.col("it"))
    sh = F.zip_with(
        F.slice(hs, 1, n - 1),
        F.slice(hs, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    out = F.when(n < 2, F.array(F.element_at(hs, 1))).otherwise(sh)
    return g.select("conv_id", F.array_distinct(out).alias("shingles"))


def conv_near_dups(
    transcripts: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Conversation-level near-duplicate pairs → (conv_a, conv_b,
    jaccard): turn-sequence shingling (conv_turn_shingles) delegated
    through the SAME banded-LSH candidate generator and exact-Jaccard
    verifier as document dedup — never all-pairs; the bucket self-join
    is keyed by (band, band_hash) and verification touches only
    candidates. De-duplicating retried / forked agent sessions before
    chat_render keeps repeated trajectories out of a training corpus.
    """
    sh = conv_turn_shingles(transcripts).localCheckpoint(eager=False)
    cands = minhash_lsh_candidates(
        transcripts, "conv_id", "text", num_hashes, bands,
        precomputed_shingles=sh, hash_method=hash_method,
    )
    verified = ngram_jaccard_pairs(
        transcripts, cands, "conv_id", "text", precomputed_shingles=sh
    )
    return verified.filter(F.col("jaccard") >= threshold).select(
        F.col("doc_a").alias("conv_a"),
        F.col("doc_b").alias("conv_b"),
        "jaccard",
    )


def sentence_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style corpus-wide SENTENCE dedup with text reconstruction
    → (doc_id, n_sents, n_kept, clean_text): documents split at
    :func:`~semargl_spark.operators.text.sentence_split` boundaries,
    each sentence deduped corpus-wide on its NORMALIZED key —
    lowercase, punctuation stripped, digit runs folded to 0, spaces
    collapsed, the ccnet paper's dedup normalization — keeping only
    the first corpus occurrence (lowest (doc, sent_idx)); survivors
    reassemble in order with ORIGINAL spelling. Complements
    :func:`segment_dedup` (fixed word windows): boilerplate sentences
    repeated across sites vanish even when their casing/punctuation
    drifts.

    Shape identical to segment_dedup: narrow sentence explode → one
    min-struct hash aggregation on the normalized key (map-side
    partial absorbs a 10^6-fold boilerplate sentence before the
    shuffle) → keeper equi-join → per-document reassembly.
    First-occurrence-wins is total and deterministic, so the cleaned
    corpus is identical at any parallelism and under resume/replay.

    Total over its input: a document whose text yields zero sentences
    (empty/whitespace-only) still emits a row with n_sents=0 and empty
    clean_text — the base aggregate anchors on ``docs``, not on the
    sentence explode, matching the pii_redact/segment_dedup contract.
    """
    from .text import sentence_split

    sents = sentence_split(docs, id_col=id_col, text_col=text_col).select(
        id_col, "sent_idx", "sentence"
    )
    return _first_occurrence_unit_dedup(
        docs, sents, id_col, "sent_idx", "sentence", " ", "n_sents"
    )


def ccnet_norm(col):
    """The ccnet paper's dedup normalization as a Column: lowercase,
    digit runs folded to 0, punctuation stripped, whitespace collapsed,
    trimmed. Shared by sentence_dedup and paragraph_dedup so both
    granularities match the same drifted boilerplate."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower(col), r"[0-9]+", "0"),
                r"[\p{Punct}]+",
                "",
            ),
            r"\s+",
            " ",
        )
    )


def _first_occurrence_unit_dedup(
    docs: DataFrame,
    units: DataFrame,
    id_col: str,
    idx_col: str,
    unit_col: str,
    join_sep: str,
    n_units_name: str,
) -> DataFrame:
    """Shared corpus-wide first-occurrence keeper + reassembly over any
    (id, idx, unit) explode: min-struct hash agg on the ccnet
    normalization key → keeper equi-join → in-order reassembly with
    ``join_sep``; total over ``docs`` (zero-unit documents emit
    ``n_units=0`` with empty clean_text)."""
    exploded = units.withColumn("__n", ccnet_norm(F.col(unit_col)))
    keeper = exploded.groupBy("__n").agg(
        F.min(F.struct(F.col(id_col), F.col(idx_col))).alias("__k")
    )
    kept = (
        exploded.join(keeper, "__n")
        .filter(
            (F.col("__k")[id_col] == F.col(id_col))
            & (F.col("__k")[idx_col] == F.col(idx_col))
        )
        .select(id_col, idx_col, unit_col)
    )
    reassembled = kept.groupBy(id_col).agg(
        F.count("*").cast("int").alias("n_kept"),
        F.concat_ws(
            join_sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct(idx_col, unit_col))),
                lambda x: x[unit_col],
            ),
        ).alias("clean_text"),
    )
    counts = units.groupBy(id_col).agg(
        F.count("*").cast("int").alias(n_units_name)
    )
    base = docs.select(id_col).join(counts, on=id_col, how="left")
    return base.join(reassembled, on=id_col, how="left").select(
        id_col,
        F.coalesce(F.col(n_units_name), F.lit(0)).alias(n_units_name),
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
    )


def paragraph_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """CCNet-style corpus-wide PARAGRAPH dedup with reconstruction →
    (doc_id, n_paras, n_kept, clean_text): text splits at blank lines
    (one-or-more empty/whitespace-only lines, LF or CRLF — the ccnet
    paragraph unit), each paragraph dedupes corpus-wide on the shared
    :func:`ccnet_norm` key, first occurrence (lowest (doc, para_idx))
    wins, and survivors reassemble in order joined by a blank line.
    Same plan shape and totality contract as :func:`sentence_dedup`
    (same keeper helper); the coarser unit is what CCNet actually
    dedups by default — whole repeated footers/navboxes vanish in one
    match instead of sentence-by-sentence.

    Scale shape: narrow split+posexplode (no kernel needed — paragraph
    boundaries are a pure regex, unlike sentence segmentation) → the
    shared min-struct agg / keeper join / reassembly, all map-side
    -partial-friendly hash operations keyed by the normalization key
    then the doc id."""
    paras = (
        docs.select(
            F.col(id_col),
            F.posexplode(
                F.split(F.col(text_col), r"\r?\n[ \t\r]*\n[\r\n]*")
            ).alias("para_idx", "paragraph"),
        )
        # keep only paragraphs with any non-whitespace (F.trim strips
        # spaces but not tabs, so a regex class does the blank test)
        .filter(F.col("paragraph").rlike(r"\S"))
    )
    return _first_occurrence_unit_dedup(
        docs, paras, id_col, "para_idx", "paragraph", "\n\n", "n_paras"
    )
