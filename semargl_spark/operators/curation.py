"""Corpus-curation operators for large-scale training-data pipelines.

Four operators a 100-TB text-curation run needs beyond dedup/quality
(which live in dedup.py / text.py):

* PII redaction — email / phone / IPv4 scrubbing with per-document
  match counts, pure JVM ``regexp_replace`` / ``regexp_count`` (RE2- and
  Java-compatible patterns so external SQL oracles reproduce them);
* deterministic train/val/test split — md5(doc_id)-bucketed so the
  assignment is stable across runs, cluster sizes, and partitionings
  (never ``rand()``: re-running must not reshuffle the eval set);
* sequence packing — greedy prefix-sum packing of documents into
  fixed-token-capacity bins, sharded so the running-sum window is
  per-shard (a single global window would serialize 10^12 rows through
  one partition; shard-local bins are what packing pipelines do at
  scale, each shard feeding one writer);
* benchmark contamination — word-5-gram overlap between the corpus and
  a benchmark/eval set via a broadcast semi-join on n-gram strings (the
  benchmark side is tiny by construction; the corpus side stays
  shuffle-free).

All four are whole-stage-codegen Catalyst expressions — no Python UDFs.
Reference parity: the reference engine (semarglproject/semargl) has no
curation surface; these extend the task-spec training-data operator set
alongside operators/dedup.py and operators/text.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spark_util import iterate

# Patterns restricted to constructs Java regex and RE2 engines treat
# identically (no backrefs, no lookaround) so DuckDB oracles can replay
# them verbatim.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+\d{1,3}-\d{3}-\d{4}"
IPV4_RE = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"


def pii_redact(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Scrub emails / phones / IPv4s → (*id cols*, n_emails, n_phones,
    n_ips, clean_text). ``id_col`` may be a single column name or a
    list (e.g. ``["conv_id", "turn_idx"]`` for per-turn transcript
    scrubbing).

    Order matters: emails first (an email never contains a phone/IP
    form), phones before IPs so ``+1-555-0001``-style tokens are not
    half-eaten by the IP pass. Each count is taken on the progressively
    cleaned text (phones on the email-scrubbed string, IPs on the
    phone-scrubbed string), so counts always equal the replacements
    actually made — a phone-shaped token inside an email local part is
    consumed by <EMAIL> and must not increment n_phones. Projection-only
    — pushes down to the scan, no shuffle, safe at any scale.
    """
    t = F.col(text_col)
    no_email = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    no_phone = F.regexp_replace(no_email, PHONE_RE, "<PHONE>")
    clean = F.regexp_replace(no_phone, IPV4_RE, "<IP>")
    ids = [id_col] if isinstance(id_col, str) else list(id_col)
    return docs.select(
        *[F.col(c) for c in ids],
        F.regexp_count(t, F.lit(EMAIL_RE)).cast("int").alias("n_emails"),
        F.regexp_count(no_email, F.lit(PHONE_RE)).cast("int").alias("n_phones"),
        F.regexp_count(no_phone, F.lit(IPV4_RE)).cast("int").alias("n_ips"),
        clean.alias("clean_text"),
    )


def split_assign(
    docs: DataFrame,
    id_col="doc_id",
    weights=(("train", 90), ("val", 5), ("test", 5)),
) -> DataFrame:
    """Deterministic hash split → (doc_id, split_bucket, split).

    bucket = first 16 bits of md5(str(doc_id)) mod 100 — a pure function
    of the id, so membership is reproducible on any cluster, at any
    parallelism, and under resume/replay (the eval set must never move
    when the corpus is re-partitioned). ``rand(seed)`` fails all three:
    it is seeded per-partition.
    """
    total = sum(w for _, w in weights)
    if total != 100:
        raise ValueError(f"split weights must sum to 100, got {total}")
    bucket = _md5_bucket(F.col(id_col))
    expr = F.lit(weights[-1][0])
    hi = 0
    cuts = []
    for name, w in weights[:-1]:
        hi += w
        cuts.append((name, hi))
    for name, cut in reversed(cuts):
        expr = F.when(bucket < cut, F.lit(name)).otherwise(expr)
    return docs.select(
        F.col(id_col), bucket.alias("split_bucket"), expr.alias("split")
    )


def _md5_bucket(id_col, salt: str | None = None):
    """First 16 bits of md5([salt:]id) mod 100 — the deterministic
    uniform [0,100) variate behind split_assign and quota_resample.
    A ``salt`` decorrelates independent decisions on the same id (the
    resample coin must not reuse the split coin, or 'test' docs would
    systematically land in one tail of every downstream sample)."""
    s = id_col.cast("string")
    if salt is not None:
        s = F.concat(F.lit(salt + ":"), s)
    return F.conv(F.substring(F.md5(s), 1, 4), 16, 10).cast("int") % 100


def pack_sequences(
    docs: DataFrame,
    capacity: int = 256,
    n_shards: int = 8,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Greedy prefix-sum sequence packing → (doc_id, shard, n_tokens,
    bin_id, offset_in_bin).

    Documents are sharded by ``doc_id % n_shards``; within a shard, the
    running token sum (whitespace tokens, matching text.token_count)
    assigns each document the bin the *previous* cumulative total falls
    in — the standard contiguous-chunk approximation used by packing
    pipelines (documents may straddle a boundary; offset_in_bin says
    where the straddle starts). The window partitions on ``shard``, so
    at 10^12 docs each shard's sort is an independent partition-local
    task: n_shards is the writer parallelism, not a scalability cap.
    """
    from pyspark.sql import Window

    t = F.col(text_col)
    n_tokens = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.lower(t)), r"\s+"))
    )
    shard = (F.col(id_col) % n_shards).cast("int")
    staged = docs.select(
        F.col(id_col), shard.alias("shard"), n_tokens.cast("int").alias("n_tokens")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return staged.select(
        id_col,
        "shard",
        "n_tokens",
        F.floor(prev / capacity).cast("int").alias("bin_id"),
        (prev % capacity).cast("int").alias("offset_in_bin"),
    )


def _word_ngrams(text_col, n: int):
    """Word n-gram array via sequence+slice — JVM-side, no UDF."""
    words = F.split(F.trim(F.lower(text_col)), r"\s+")
    return F.when(F.size(words) < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        )
    )


def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Benchmark-contamination scan → (doc_id, n_overlap, contaminated).

    Explodes distinct word-``n``-grams on both sides and counts, per
    corpus document, how many of its distinct n-grams appear anywhere in
    the benchmark set. The benchmark n-gram set is distinct-reduced and
    broadcast (eval sets are ~10^3–10^5 docs — small by construction),
    so the corpus side is a map-side broadcast join + one groupBy on
    doc_id: no corpus-vs-corpus shuffle, linear in corpus size.
    """
    corpus_grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(_word_ngrams(F.col(text_col), n))).alias("gram"),
    )
    bench_grams = (
        benchmark.select(
            F.explode(F.array_distinct(_word_ngrams(F.col(text_col), n))).alias(
                "gram"
            )
        )
        .distinct()
    )
    hits = corpus_grams.join(
        F.broadcast(bench_grams), on="gram", how="leftsemi"
    )
    per_doc = hits.groupBy(id_col).agg(F.count("*").cast("int").alias("n_overlap"))
    return (
        docs.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# corpus-mix rollup, quota resampling, per-language quality top-k
# ---------------------------------------------------------------------------

DEFAULT_RATES = {"en": 40, "de": 80, "es": 80, "fr": 80, "und": 25}


def corpus_mix(
    docs: DataFrame,
    id_col="doc_id",
    text_col="text",
    weights=(("train", 90), ("val", 5), ("test", 5)),
) -> DataFrame:
    """Corpus composition rollup → (lang, split, n_docs, total_tokens,
    total_chars): the per-language × per-split mix a data-mixture plan
    is tuned against.

    Language, split, and token count are all row-local expressions
    composed in ONE projection (no join of lang_id / split_assign
    DataFrames back on doc_id), so the whole query is a single groupBy
    on a ~|langs|·|splits| key space — map-side partial aggregation
    absorbs 10^12 rows into a handful of partials per task.
    """
    from .text import lang_pred_col

    total = sum(w for _n, w in weights)
    if total != 100:
        raise ValueError(f"split weights must sum to 100, got {total}")
    bucket = _md5_bucket(F.col(id_col))
    split = F.lit(weights[-1][0])
    hi = 0
    cuts = []
    for name, w in weights[:-1]:
        hi += w
        cuts.append((name, hi))
    for name, cut in reversed(cuts):
        split = F.when(bucket < cut, F.lit(name)).otherwise(split)

    staged = docs.select(
        lang_pred_col(text_col).alias("lang"),
        split.alias("split"),
        F.size(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("n_tok"),
        F.length(F.col(text_col)).alias("n_chr"),
    )
    return staged.groupBy("lang", "split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("total_tokens"),
        F.sum("n_chr").cast("long").alias("total_chars"),
    )


def quota_resample(
    docs: DataFrame,
    rates: dict[str, int] | None = None,
    id_col="doc_id",
    text_col="text",
    salt: str = "rs",
) -> DataFrame:
    """Deterministic per-language downsampling → the kept rows as
    (doc_id, lang, sample_bucket): keep a document iff its md5 coin
    (salted so it is independent of the split_assign coin) falls below
    its language's retention rate in percent — the
    rebalance-the-language-mix step of corpus curation.

    Pure projection + filter: reproducible on any cluster at any
    parallelism (never ``rand()``), and re-running or resuming yields
    the identical sample. Unknown languages fall back to the 'und'
    rate; a rate of 100 keeps everything, 0 drops the language.
    """
    from .text import lang_pred_col

    rates = dict(DEFAULT_RATES if rates is None else rates)
    if "und" not in rates:
        raise ValueError("rates must include an 'und' fallback")
    for lang, r in rates.items():
        if not 0 <= r <= 100:
            raise ValueError(f"rate for {lang!r} must be in [0,100], got {r}")
    bucket = _md5_bucket(F.col(id_col), salt=salt)
    lang = lang_pred_col(text_col)
    rate = F.lit(rates["und"])
    for lg, r in rates.items():
        if lg != "und":
            rate = F.when(lang == lg, F.lit(r)).otherwise(rate)
    return (
        docs.select(
            F.col(id_col),
            lang.alias("lang"),
            bucket.alias("sample_bucket"),
            rate.alias("__rate"),
        )
        .filter(F.col("sample_bucket") < F.col("__rate"))
        .drop("__rate")
    )


def quality_topk(
    docs: DataFrame,
    k: int = 5,
    n_salts: int = 16,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Per-language quality top-k → (lang, doc_id, quality, rank):
    the best ``k`` documents of each language by the blended quality
    score, ties broken by doc_id — per-domain exemplar selection /
    quota filling.

    Skew-safe two-phase top-k: a naive ``row_number() over (partition
    by lang)`` funnels the dominant language (English is routinely
    >40% of a web corpus) through ONE reducer. Phase 1 salts the
    window key to (lang, id mod n_salts) so each hot language sorts in
    n_salts independent partitions and keeps only k rows per salt;
    phase 2 re-ranks the ≤ n_salts·k survivors per language — a
    trivially small window. Every salt's local top-k is a superset
    filter of the global top-k, so the result is exact, and the
    (quality desc, doc_id asc) order is total, so ranks are
    deterministic at any parallelism.
    """
    from pyspark.sql.window import Window

    from .text import lang_pred_col, quality_col

    staged = docs.select(
        F.col(id_col).alias("doc_id"),
        lang_pred_col(text_col).alias("lang"),
        quality_col(text_col).alias("quality"),
        (F.col(id_col) % n_salts).cast("int").alias("salt"),
    )
    w1 = Window.partitionBy("lang", "salt").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    survivors = (
        staged.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn", "salt")
    )
    w2 = Window.partitionBy("lang").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("lang", "doc_id", "quality", "rank")
    )


def global_shuffle(
    docs: DataFrame,
    n_blocks: int = 64,
    seed: str = "gs",
    id_col="doc_id",
) -> DataFrame:
    """Deterministic global training-order permutation → (doc_id, pos):
    every document gets its 0-based position in the corpus ordered by
    ``(md5(seed:id), id)`` — the shuffle-the-corpus-once step before
    sequence packing / epoch sharding, reproducible at any parallelism
    (never ``rand()``, and re-running yields the identical order).

    A naive ``row_number() OVER (ORDER BY hash)`` funnels 10^12 rows
    through ONE partition. Instead: the block id is the hash's leading
    16 bits divided into ``n_blocks`` ORDER-PRESERVING ranges (a mod
    would interleave blocks and break prefix order), so global hash
    order ≡ (block asc, hash asc). Per-block ranks come from windows
    over ~n/n_blocks rows each; block offsets are an exclusive prefix
    sum over the n_blocks-row count table — collected to the driver
    (O(n_blocks), not O(n)) and broadcast-joined back. Hash ties are
    broken by id, so positions are a total order even on md5 prefix
    collisions.
    """
    from pyspark.sql.window import Window

    if not 1 <= n_blocks <= 65536 or 65536 % n_blocks:
        raise ValueError(f"n_blocks must divide 65536, got {n_blocks}")
    width = 65536 // n_blocks
    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    prefix = F.conv(F.substring(h, 1, 4), 16, 10).cast("int")
    staged = docs.select(
        F.col(id_col),
        h.alias("__h"),
        (prefix / width).cast("int").alias("__blk"),
    )
    w = Window.partitionBy("__blk").orderBy("__h", id_col)
    ranked = staged.withColumn("__rank", F.row_number().over(w) - 1)

    counts = (
        staged.groupBy("__blk").agg(F.count("*").alias("__n")).collect()
    )
    sizes = {r["__blk"]: r["__n"] for r in counts}
    offsets, acc = {}, 0
    for blk in sorted(sizes):
        offsets[blk] = acc
        acc += sizes[blk]
    off_df = staged.sparkSession.createDataFrame(
        [(b, o) for b, o in offsets.items()], "__blk int, __off long"
    )
    return (
        ranked.join(F.broadcast(off_df), "__blk")
        .select(
            F.col(id_col),
            (F.col("__off") + F.col("__rank")).cast("long").alias("pos"),
        )
    )


# ---------------------------------------------------------------------------
# per-document top terms and corpus-wide top n-grams
# ---------------------------------------------------------------------------


def top_terms(
    docs: DataFrame, k: int = 3, id_col="doc_id", text_col="text"
) -> DataFrame:
    """Per-document top-``k`` terms by the document-frequency-normalized
    weight ``tf/df`` → (doc_id, term, tf, df, rnk).

    TF-IDF-style term salience with a RATIONAL weight: a single IEEE
    division of two small integers is correctly rounded and therefore
    identical in every engine, so the ranking is gateable against an
    external SQL oracle — ``tf·log(N/df)`` would hang the gate on libm
    rounding differences. Ties break on the term string.

    Scale shape: tf is one (doc, term) groupBy with map-side partials;
    df derives from tf by a term-key groupBy (vocabulary-sized, NOT
    corpus-sized); the tf⋈df equi-join shuffles on term where AQE picks
    broadcast when the vocabulary is small; the final window partitions
    by doc_id — per-partition state is one document's term list.
    """
    from pyspark.sql.window import Window

    terms = docs.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("term"),
    )
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc(F.col("tf").cast("double") / F.col("df")), F.asc("term")
    )
    return (
        tf.join(df, "term")
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.row_number().over(w).cast("int").alias("rnk"),
        )
        .where(F.col("rnk") <= k)
    )


def top_ngrams(docs: DataFrame, n: int = 3, k: int = 20, text_col="text") -> DataFrame:
    """Corpus-wide top-``k`` word ``n``-grams → (ngram, n_count, rnk):
    the boilerplate/contamination reconnaissance view (which spans
    repeat verbatim across the corpus).

    Scale shape: explode → one (ngram) groupBy with map-side partials,
    then a global top-k which Spark executes as TakeOrderedAndProject
    (per-partition heaps of k, no global sort); the rank window runs
    over the k survivors only. Ties break (count desc, ngram asc).
    """
    from pyspark.sql.window import Window

    counts = (
        docs.select(F.explode(_word_ngrams(F.col(text_col), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_count"))
    )
    topk = counts.orderBy(F.desc("n_count"), F.asc("ngram")).limit(k)
    w = Window.orderBy(F.desc("n_count"), F.asc("ngram"))
    return topk.select(
        "ngram", "n_count", F.row_number().over(w).cast("int").alias("rnk")
    )


def c4_rule_filter(
    docs: DataFrame,
    id_col="doc_id",
    text_col="text",
    min_words: int = 50,
    max_words: int = 100_000,
    max_word_len: int = 20,
    max_top_token_permille: int = 80,
    blocklist: tuple[str, ...] = ("lorem ipsum", "javascript required"),
) -> DataFrame:
    """C4-style rule filtering → (doc_id, n_words, max_word_len,
    n_terminal_lines, n_lines, top_token_permille, has_brace,
    has_blocked, keep).

    The classic C4 cleaning rules (Raffel et al. 2020, "Exploring the
    Limits of Transfer Learning", §2.2), re-expressed as one row-local
    Catalyst projection: word-count window, curly-brace rejection (code
    leakage), blocklist phrases, over-long "words" (minified blobs), a
    terminal-punctuation line census, plus a repetition guard — the
    most frequent token's per-mille share, integer math so the keep
    decision is bit-identical in any engine. C4's remaining rule
    (three-sentence-span dedup) is the separate dedup_substring /
    boilerplate_windows operator.

    Scale shape: NO shuffle — every flag, including the top-token
    share, is computed inside the row (distinct tokens × tokens scan
    per row beats an explode + two groupBys at 10^12 docs, and the
    whole filter stays in one WholeStageCodegen span over the parquet
    scan). Thresholds are integer per-mille so no float rounding can
    flip keep across engines.
    """
    text = F.col(text_col)
    toks = F.split(F.trim(F.lower(text)), r"\s+")
    n_words = F.size(toks)
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(toks),
            lambda t: F.size(F.filter(toks, lambda x: x == t)),
        )
    )
    top_permille = ((top_cnt * 1000) - (top_cnt * 1000) % n_words) / n_words
    lines = F.split(text, "\n")
    n_terminal = F.size(F.filter(lines, lambda l: l.rlike("""[.!?"']\\s*$""")))
    lowered = F.lower(text)
    has_blocked = None
    for phrase in blocklist:
        c = F.contains(lowered, F.lit(phrase))
        has_blocked = c if has_blocked is None else (has_blocked | c)
    out = docs.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.array_max(F.transform(toks, F.length)).cast("long").alias("max_word_len"),
        n_terminal.cast("long").alias("n_terminal_lines"),
        F.size(lines).cast("long").alias("n_lines"),
        top_permille.cast("long").alias("top_token_permille"),
        (F.contains(text, F.lit("{")) | F.contains(text, F.lit("}"))).alias("has_brace"),
        has_blocked.alias("has_blocked"),
    )
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("max_word_len") <= max_word_len)
        & (F.col("top_token_permille") <= max_top_token_permille)
        & ~F.col("has_brace")
        & ~F.col("has_blocked")
    )
    return out.withColumn("keep", keep)


def preference_pairs(
    docs: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str = "doc_id",
    min_margin: float = 0.0,
) -> DataFrame:
    """RLHF-style preference-pair construction: per group (e.g. all
    responses to one prompt), pair the best-scored item against the
    worst → (group, chosen_id, rejected_id, chosen_score,
    rejected_score, margin).

    Deterministic tie-breaks via struct ordering: chosen is max
    (score, id), rejected is min (score, id), so equal scores resolve
    to the highest/lowest id and the pair is reproducible at any
    parallelism. Groups with fewer than two items are dropped; pairs
    below ``min_margin`` are dropped (margin 0 pairs are kept by
    default — callers filter harder when scores are trusted).

    Scale shape: ONE map-side-partial hash aggregation keyed by the
    group — the struct min/max partials are constant-size, so the
    shuffle carries |groups| rows, never the corpus. No window, no
    sort, no self-join.
    """
    best = F.max(F.struct(F.col(score_col), F.col(id_col))).alias("b")
    worst = F.min(F.struct(F.col(score_col), F.col(id_col))).alias("w")
    g = docs.groupBy(group_col).agg(best, worst, F.count("*").alias("n"))
    return (
        g.filter(F.col("n") >= 2)
        .select(
            F.col(group_col),
            F.col("b")[id_col].alias("chosen_id"),
            F.col("w")[id_col].alias("rejected_id"),
            F.col("b")[score_col].alias("chosen_score"),
            F.col("w")[score_col].alias("rejected_score"),
            F.round(
                F.col("b")[score_col] - F.col("w")[score_col], 6
            ).alias("margin"),
        )
        .filter(F.col("margin") >= min_margin)
    )


def context_windows(
    docs: DataFrame,
    width: int = 128,
    stride: int = 64,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Sliding context-window chunking → (doc_id, win_idx, win_start,
    n_tokens, chunk): overlapping token windows (LLM pretraining prep —
    width-token chunks every stride tokens, the last window shorter).

    Whitespace tokens (same tokenizer as text.token_count). A document
    with n tokens yields ceil(max(n - width, 0) / stride) + 1 windows;
    empty documents yield none. Entirely row-local Catalyst (split →
    sequence → posexplode → slice): no shuffle at all, so it
    pipelines into whatever writer follows at any corpus size. Window
    starts are k·stride — deterministic, so the SQL oracle re-derives
    every chunk byte-for-byte.
    """
    if width < 1 or stride < 1:
        raise ValueError(f"width and stride must be >= 1, got {width}/{stride}")
    t = F.col(text_col)
    toks = F.split(F.trim(F.lower(t)), r"\s+")
    n = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(F.size(toks))
    n_win = (F.ceil(F.greatest(n - width, F.lit(0)) / stride) + 1).cast("int")
    staged = docs.select(
        F.col(id_col), toks.alias("_toks"), n.alias("_n"), n_win.alias("_nw")
    ).filter(F.col("_n") > 0)
    k = F.posexplode(F.sequence(F.lit(0), F.col("_nw") - 1))
    exploded = staged.select(F.col(id_col), "_toks", "_n", k.alias("win_idx", "_k"))
    start = (F.col("_k") * stride).cast("int")
    window = F.slice(F.col("_toks"), start + 1, width)
    return exploded.select(
        F.col(id_col),
        F.col("win_idx").cast("int"),
        start.alias("win_start"),
        F.least(F.col("_n") - start, F.lit(width)).cast("int").alias("n_tokens"),
        F.array_join(window, " ").alias("chunk"),
    )


def cooccurrence(
    docs: DataFrame,
    window: int = 2,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """GloVe-style co-occurrence counts → (w1, w2, n): for every token,
    every token 1..window positions AFTER it in the same document
    (directed; symmetrize downstream if wanted). Whitespace tokens,
    same normalization as :func:`context_windows` / text.token_count.

    Plan: the naive shape — a per-document self join with a position
    band — is QUADRATIC on long documents (a 10^6-token dump is 10^12
    candidate pairs under AQE's nose). Instead the left side replicates
    each token exactly ``window`` times with a derived target position,
    making an exact equi-join on (doc, pos): volume is window·|tokens|,
    linear at any document length. One pair aggregation with map-side
    partials finishes it; the (w1, w2) key space is vocabulary-sized,
    so 10^12 input positions collapse to a handful per task."""
    if window < 1:
        raise ValueError("window must be >= 1")
    t = F.col(text_col)
    toks = F.split(F.trim(F.lower(t)), r"\s+")
    staged = docs.filter(F.length(F.trim(t)) > 0).select(
        F.col(id_col).alias("_doc"), toks.alias("_toks")
    )
    pe = F.posexplode(F.col("_toks"))
    tok = staged.select("_doc", pe.alias("pos", "word"))
    offsets = F.array(*[F.lit(i) for i in range(1, window + 1)])
    left = tok.select(
        "_doc", F.col("pos").alias("_p"), F.col("word").alias("w1"),
        F.explode(offsets).alias("_k"),
    ).select(
        "_doc", (F.col("_p") + F.col("_k")).alias("pos"), "w1"
    )
    return (
        left.join(tok, on=["_doc", "pos"])
        .groupBy(F.col("w1"), F.col("word").alias("w2"))
        .agg(F.count("*").cast("long").alias("n"))
    )


def ppmi(
    cooc: DataFrame,
    scale: int = 10**6,
    min_count: int = 1,
) -> DataFrame:
    """PPMI association weights over a co-occurrence matrix (the
    GloVe/word2vec-SGNS preprocessing step after :func:`cooccurrence`):
    (w1, w2, n, lift) where

        lift = floor(scale · n · total / (n1 · n2))

    n1/n2 are the directed marginals Σn per w1 / per w2 and total = Σn.
    PMI(w1,w2) = ln(lift/scale); the pair is PPMI-positive iff
    lift > scale. The log is left to the (driver-side or training-side)
    consumer so the distributed output stays fraction-free integers —
    bit-identical across engines, same discipline as text.bm25_search.

    Overflow budget (same shape as bm25_search): scale·n·total < 2^63.
    At larger corpora drop ``scale`` — ranking by lift is
    scale-invariant down to ~10^3.

    Plan: the input is localCheckpointed once so the corpus-sized
    upstream join isn't recomputed for each marginal; then two
    vocabulary-sized hash aggregations, one single-row driver scalar
    (total), and two equi-joins back on w1 / w2. No window over the
    corpus, no cross join; a celebrity token skews its marginal-join
    key, which AQE skew-join splits (the pair side is pre-aggregated,
    so the hot key's row count is bounded by vocabulary, not corpus)."""
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    c = cooc.localCheckpoint(eager=False)
    m1 = c.groupBy("w1").agg(F.sum("n").cast("long").alias("_n1"))
    m2 = c.groupBy("w2").agg(F.sum("n").cast("long").alias("_n2"))
    total = int(c.agg(F.sum("n")).first()[0] or 0)
    if total == 0:
        return c.select(
            "w1", "w2", "n", F.lit(None).cast("long").alias("lift")
        ).limit(0)
    return (
        c.filter(F.col("n") >= min_count)
        .join(m1, "w1")
        .join(m2, "w2")
        .select(
            "w1",
            "w2",
            "n",
            F.expr(
                f"(CAST({scale} AS BIGINT) * n * CAST({total} AS BIGINT))"
                f" DIV (_n1 * _n2)"
            ).alias("lift"),
        )
    )


def weighted_sample(
    docs: DataFrame,
    k: int,
    weight_col: str = "n_chars",
    id_col: str = "doc_id",
    salt: str = "ws",
) -> DataFrame:
    """Exact-size deterministic weighted sampling → the ``k`` selected
    rows as (doc_id, weight, priority) — the corpus-mixing step that
    draws a fixed-budget subcorpus where a document's selection odds
    scale with its weight (token count, quality score, source boost).

    Integer priority sampling: priority = md5_60(id#salt) DIV weight,
    keep the k lowest (priority, id). Doubling a document's weight
    halves its expected priority, so heavier documents win
    proportionally more of the k slots; the md5 draw makes the choice
    uniform within a weight class. Everything is integer arithmetic on
    a salted md5 — reproducible at any parallelism and cluster size
    (never ``rand()``), decorrelated from the split/resample coins by
    the salt, and exactly replayable by an external SQL oracle (the
    division is integer ``DIV``: float division of a 60-bit hash would
    lose bits past the 53-bit double mantissa and tie-break
    differently across engines).

    Scale shape: one projection + TakeOrderedAndProject — each
    partition keeps its local top-k, the driver merges p×k rows, never
    a global sort of 10^12 docs. Weights are clamped to >= 1 so a
    zero-weight row degrades to minimum odds instead of dividing by
    zero.
    """
    from .dedup import md5_hash60

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = F.greatest(F.col(weight_col).cast("long"), F.lit(1))
    u = md5_hash60(F.col(id_col).cast("string"), seed=salt)
    return (
        docs.select(F.col(id_col), w.alias("weight"), u.alias("__u"))
        .select(
            id_col,
            "weight",
            F.expr("__u div weight").cast("long").alias("priority"),
        )
        .orderBy("priority", id_col)
        .limit(k)
    )


def ngram_novelty(
    docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document n-gram novelty → (doc_id, n_grams, n_unique,
    novelty_pm): of a document's distinct word-``n``-grams, how many
    appear in NO other document (corpus-wide document frequency 1), as
    a per-mille ratio — the inverse-boilerplate curation signal (high
    novelty = original text, low = template/mirror content).

    Two hash aggregations: explode distinct n-grams per doc, count each
    gram's document frequency (map-side partial combine — hot
    boilerplate grams collapse before the shuffle), then join the df
    back to the exploded grams and re-aggregate per document. The gram
    df table is vocabulary-sized, the join is an equi-join on gram
    (AQE handles residual hot-gram skew); no pairwise document
    comparison anywhere. The ratio is integer per-mille (1000·unique
    DIV total) so it is bit-identical at any parallelism; documents
    shorter than ``n`` words have no grams → novelty_pm NULL.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    grams = docs.select(
        F.col(id_col),
        F.explode(F.array_distinct(_word_ngrams(F.col(text_col), n))).alias("gram"),
    )
    gram_df = grams.groupBy("gram").agg(F.count("*").cast("int").alias("__df"))
    per_doc = (
        grams.join(gram_df, "gram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_grams"),
            F.sum((F.col("__df") == 1).cast("int")).cast("int").alias("n_unique"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).alias("n_grams"),
            F.coalesce(F.col("n_unique"), F.lit(0)).alias("n_unique"),
            F.when(
                F.col("n_grams").isNotNull(),
                F.expr("CAST(1000 AS BIGINT) * n_unique div n_grams"),
            ).alias("novelty_pm"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    k: int = 20,
    n_salts: int = 16,
    stratum_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "sts",
) -> DataFrame:
    """Exact-k uniform sample per stratum → (stratum, doc_id, coin,
    rank): the ``k`` documents with the smallest salted md5 coin in
    each stratum — fixed-budget per-language/per-source eval-set
    drawing, reproducible at any parallelism and independent of the
    split/resample/weighted-sample coins by the salt.

    Same skew-safe two-phase shape as quality_topk: a naive
    ``row_number() over (partition by stratum)`` funnels the dominant
    stratum through ONE reducer; phase 1 salts the window key so each
    hot stratum sorts in n_salts independent partitions keeping k rows
    each, phase 2 re-ranks the ≤ n_salts·k survivors. Each salt's
    local bottom-k is a superset of the stratum's global bottom-k, so
    the result is exact, and (coin, doc_id) is a total order, so ranks
    are deterministic.
    """
    from pyspark.sql.window import Window

    from .dedup import md5_hash60

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    coin = md5_hash60(F.col(id_col).cast("string"), seed=salt)
    staged = docs.select(
        F.col(stratum_col).alias("stratum"),
        F.col(id_col).alias("doc_id"),
        coin.alias("coin"),
        (F.col(id_col) % n_salts).cast("int").alias("salt"),
    )
    w1 = Window.partitionBy("stratum", "salt").orderBy(
        F.asc("coin"), F.asc("doc_id")
    )
    survivors = (
        staged.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn", "salt")
    )
    w2 = Window.partitionBy("stratum").orderBy(F.asc("coin"), F.asc("doc_id"))
    return (
        survivors.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("stratum", "doc_id", "coin", "rank")
    )


def dsir_scores(
    docs: DataFrame,
    target: DataFrame,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir",
) -> DataFrame:
    """DSIR-style importance score per document → (doc_id, n_feats,
    score_micro): how much more a document looks like the ``target``
    distribution than the raw corpus, under hashed word uni+bigram
    bag-of-features models (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling", arXiv:2302.03169).

    Features are md5-hashed into ``n_buckets`` buckets; target and raw
    bucket profiles are add-one smoothed, and each bucket gets an
    integer micro-unit likelihood ratio

        ratio_micro(b) = floor(10^6 · (t_b+1)(R+B) / ((r_b+1)(T+B)))

    where t/r are target/raw bucket occurrence counts and T/R their
    totals. A document scores the count-weighted MEAN ratio of its
    buckets. DSIR proper scores the log-product; the arithmetic mean of
    per-bucket ratios is the same monotone-per-bucket family quantized
    to integers — the exactness stance of operators/lm.py: every step
    is DECIMAL(38) multiply / integer floor-div / sum, so the result is
    bit-identical at any parallelism and replayable by an external SQL
    oracle (a float log-sum would tie-break differently per shuffle).

    Scale shape (10^12-doc corpus): per-doc bucket counts first (one
    row per (doc, bucket), map-side partial), the two profile groupBys
    reduce to ≤ n_buckets rows each, the ratio table is a B-row
    broadcast join, and the final per-doc aggregate is one hash agg.
    No pairwise work, no Python in the hot path. The caller feeds the
    selected slice to :func:`weighted_sample` with
    ``weight_col='score_micro'`` for the Gumbel-top-k-analogous
    weighted draw (integer priority sampling, same guarantees).

    Documents with no features (empty after normalization never happens
    — the splitter yields [''] — but a disjoint hash universe could)
    return score_micro NULL.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    from .dedup import md5_hash60

    def bucket_counts(d: DataFrame) -> DataFrame:
        grams = F.concat(
            _word_ngrams(F.col(text_col), 1), _word_ngrams(F.col(text_col), 2)
        )
        return (
            d.select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("gram"))
            .select(
                "doc_id",
                (md5_hash60("gram", seed=salt) % n_buckets).alias("b"),
            )
            .groupBy("doc_id", "b")
            .agg(F.count("*").cast("long").alias("c"))
        )

    fb = bucket_counts(docs)
    tb = bucket_counts(target).groupBy("b").agg(F.sum("c").alias("t"))
    raw = fb.groupBy("b").agg(F.sum("c").alias("r"))
    totals = raw.agg(
        F.sum("r").cast("long").alias("R_tot")
    ).crossJoin(
        tb.agg(F.coalesce(F.sum("t"), F.lit(0)).cast("long").alias("T_tot"))
    )
    ratio = (
        raw.join(tb, "b", "left")
        .crossJoin(totals)  # one-row broadcast
        .select(
            "b",
            F.expr(
                # both sides widen to DECIMAL(38,0) BEFORE multiplying:
                # (r+1)*(T_tot+B) as BIGINT*BIGINT overflows once bucket
                # counts pass ~3e9 (certain at the 10^12-doc target)
                f"CAST((CAST(1000000 AS DECIMAL(38,0))"
                f" * (coalesce(t, 0) + 1) * (R_tot + {n_buckets}))"
                f" div (CAST(r + 1 AS DECIMAL(38,0))"
                f" * (T_tot + {n_buckets})) AS BIGINT)"
            ).alias("rm"),
        )
    )
    scored = (
        fb.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.expr(
                "CAST(sum(CAST(c AS DECIMAL(38,0)) * rm) div sum(c) AS BIGINT)"
            ).alias("score_micro"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
            F.col("score_micro"),
        )
    )


def bradley_terry(
    pairs: DataFrame,
    winner_col: str = "chosen_id",
    loser_col: str = "rejected_id",
    rounds: int = 3,
    scale: int = 1_000_000,
) -> DataFrame:
    """Bradley–Terry strength scores from pairwise preference outcomes
    → (item_id, wins, games, strength_mu): the reward-model side of the
    RLHF data pipeline — collapse a corpus of (winner, loser)
    comparisons (human votes, LLM-judge verdicts, A/B outcomes) into
    one scalar strength per item via ``rounds`` iterations of the
    classic minorization–maximization update (Hunter 2004)

        w_i ← W_i / Σ_j n_ij / (w_i + w_j)

    regularized with one virtual win and one virtual loss against a
    fixed opponent of strength 1.0 (the standard BT prior), so
    never-winning items stay positive and the update is total.

    All arithmetic is fixed-point micro-units with integer floor
    division (the ``wordpiece_train`` stance): strengths start at
    ``scale`` (1.0), each pair contributes
    ``n_ij·scale² div (w_i + w_j)`` to the denominator, and the update
    is ``(W_i+1)·scale² div den`` under DECIMAL(38) so a 10^12-vote
    item cannot overflow — bit-identical at any parallelism and
    replayable by an external engine, unlike float MM.

    Scale shape, per round: the undirected comparison table (built
    once, n summed per pair — bounded by distinct pairs, not votes)
    joins the weight table on each endpoint (two hash equi-joins on
    item keys), the per-pair terms collapse through ONE map-side
    partial sum keyed by item, and the update is a |items|-row join.
    A celebrity item (compared against everything) skews the endpoint
    join → AQE skew split applies; the vote volume itself was already
    absorbed in the one-time pair aggregation. ``spark_util.iterate``
    truncates the weights (|items| rows) per round so the plan stays
    flat across rounds.
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    s2 = scale * scale
    directed = (
        pairs.select(
            F.col(winner_col).cast("long").alias("a"),
            F.col(loser_col).cast("long").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count("*").alias("n"))
    )
    und = (
        directed.select(
            F.least("a", "b").alias("u"),
            F.greatest("a", "b").alias("v"),
            "n",
        )
        .groupBy("u", "v")
        .agg(F.sum("n").alias("n"))
        .localCheckpoint(eager=False)
    )
    wins = directed.groupBy(F.col("a").alias("item_id")).agg(
        F.sum("n").alias("wins")
    )
    items = (
        und.select(F.col("u").alias("item_id"), "n")
        .unionByName(und.select(F.col("v").alias("item_id"), "n"))
        .groupBy("item_id")
        .agg(F.sum("n").alias("games"))
        .join(wins, "item_id", "left")
        .select(
            "item_id",
            F.coalesce(F.col("wins"), F.lit(0)).cast("long").alias("wins"),
            F.col("games").cast("long").alias("games"),
        )
        .localCheckpoint(eager=False)
    )
    weights = items.select(
        "item_id", F.lit(scale).cast("long").alias("w")
    )

    def _update(weights, _r):
        wu = weights.select(
            F.col("item_id").alias("u"), F.col("w").alias("wu")
        )
        wv = weights.select(
            F.col("item_id").alias("v"), F.col("w").alias("wv")
        )
        terms = (
            und.join(wu, "u")
            .join(wv, "v")
            .select(
                "u",
                "v",
                F.expr(f"(n * CAST({s2} AS DECIMAL(38,0)))"
                       " div (wu + wv)").alias("t"),
            )
        )
        den = (
            terms.select(F.col("u").alias("item_id"), "t")
            .unionByName(terms.select(F.col("v").alias("item_id"), "t"))
            .groupBy("item_id")
            .agg(F.sum("t").alias("den"))
        )
        return (
            items.join(den, "item_id")
            .join(weights, "item_id")
            .select(
                "item_id",
                F.expr(
                    f"((wins + 1) * CAST({s2} AS DECIMAL(38,0)))"
                    f" div (den + (2 * CAST({s2} AS DECIMAL(38,0)))"
                    f" div (w + {scale}))"
                )
                .cast("long")
                .alias("w"),
            )
        )

    weights = iterate(_update, weights, rounds)[0]
    return items.join(weights, "item_id").select(
        "item_id", "wins", "games", F.col("w").alias("strength_mu")
    )


def pack_manifest(
    docs: DataFrame,
    capacity: int = 256,
    n_shards: int = 8,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Bin manifest for packed training sequences → (shard, bin_id,
    n_docs, fill_tokens, members): the per-bin companion of
    :func:`pack_sequences` a data loader actually consumes — which
    documents land in each bin, in order, with their start offsets
    (``members`` is ``;``-joined ``id:offset`` pairs), plus the bin's
    document count and token fill. Offsets are the attention-reset
    boundaries: training masks cross-document attention at each
    member's start. A document is listed in the bin its FIRST token
    falls in (the straddle convention of pack_sequences), so
    ``fill_tokens`` of a bin with a straddling tail exceeds
    ``capacity`` — the loader's signal that the tail continues into
    the next bin.

    Shape: pack_sequences' shard window, then ONE hash aggregation
    keyed by (shard, bin_id) — sorted struct collect_list over a
    capacity-bounded member list (a bin holds at most
    capacity/min_doc_tokens + 1 documents), map-side partials, no
    second window.
    """
    packed = pack_sequences(docs, capacity, n_shards, id_col, text_col)
    items = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("offset_in_bin").alias("o"),
                F.col(id_col).alias("i"),
                F.col("n_tokens").alias("t"),
            )
        )
    )
    g = packed.groupBy("shard", "bin_id").agg(items.alias("_m"))
    return g.select(
        "shard",
        "bin_id",
        F.size(F.col("_m")).cast("int").alias("n_docs"),
        F.aggregate(
            F.col("_m"), F.lit(0).cast("long"), lambda a, x: a + x["t"]
        ).alias("fill_tokens"),
        F.array_join(
            F.transform(
                F.col("_m"),
                lambda x: F.concat_ws(
                    ":", x["i"].cast("string"), x["o"].cast("string")
                ),
            ),
            ";",
        ).alias("members"),
    )


def span_corruption(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rate_pm: int = 150,
) -> DataFrame:
    """T5-style span-corruption training pairs (Raffel et al. 2020,
    arXiv:1910.10683) → (doc_id, n_words, n_masked, n_spans,
    corrupted, targets): each word is masked by a deterministic salted
    coin (``md5_60(doc#pos) % 1000 < rate_pm`` — partition-invariant,
    replayable, externally recomputable), consecutive masked words
    merge into one span, the input keeps unmasked words with each span
    replaced by its ``<extra_id_K>`` sentinel, and the target is the
    sentinel-prefixed span contents terminated by the final sentinel —
    the denoising-objective data generator next to the causal-LM exits
    (chat_render, context_windows).

    Shape: ZERO shuffles — the whole construction is one row-local
    JVM fold over the word array (the chat_render stance: the
    accumulator carries only the sentinel counter, the previous-word
    mask bit, and the two token lists), so it pipelines straight into
    the writer at any corpus size. Empty documents are dropped.
    """
    if not 0 < rate_pm < 1000:
        raise ValueError(f"rate_pm must be in (0, 1000), got {rate_pm}")
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    indexed = F.transform(
        words, lambda x, i: F.struct(i.alias("i"), x.alias("w"))
    )
    flag = lambda t: (  # noqa: E731 — the salted coin
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#", F.col("doc_id").cast("string"), t["i"]
                    )
                ),
                1, 15,
            ),
            16, 10,
        ).cast("long")
        % 1000
        < rate_pm
    )
    acc0 = F.struct(
        F.lit(0).alias("prev"),
        F.lit(0).alias("k"),
        F.expr("cast(array() as array<string>)").alias("cor"),
        F.expr("cast(array() as array<string>)").alias("tgt"),
    )

    def step(acc, t):
        sent = F.concat(
            F.lit("<extra_id_"), acc["k"].cast("string"), F.lit(">")
        )
        is_m = flag(t)
        opens = is_m & (acc["prev"] == 0)
        return F.struct(
            F.when(is_m, 1).otherwise(0).alias("prev"),
            F.when(opens, acc["k"] + 1).otherwise(acc["k"]).alias("k"),
            F.when(opens, F.concat(acc["cor"], F.array(sent)))
            .when(is_m, acc["cor"])
            .otherwise(F.concat(acc["cor"], F.array(t["w"])))
            .alias("cor"),
            F.when(
                opens,
                F.concat(acc["tgt"], F.array(sent), F.array(t["w"])),
            )
            .when(is_m, F.concat(acc["tgt"], F.array(t["w"])))
            .otherwise(acc["tgt"])
            .alias("tgt"),
        )

    folded = F.aggregate(F.col("_iw"), acc0, step)
    terminal = F.concat(
        F.lit("<extra_id_"), F.col("_f.k").cast("string"), F.lit(">")
    )
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), indexed.alias("_iw")
        )
        .filter(F.size("_iw") > 0)
        .select("doc_id", F.size("_iw").alias("_n"), folded.alias("_f"))
        .select(
            "doc_id",
            F.col("_n").cast("int").alias("n_words"),
            (F.col("_n") - F.size("_f.cor")
             + F.col("_f.k")).cast("int").alias("n_masked"),
            F.col("_f.k").cast("int").alias("n_spans"),
            F.array_join(F.col("_f.cor"), " ").alias("corrupted"),
            F.when(
                F.col("_f.k") == 0, terminal
            ).otherwise(
                F.concat(
                    F.array_join(F.col("_f.tgt"), " "),
                    F.lit(" "), terminal,
                )
            ).alias("targets"),
        )
    )


def fim_transform(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fill-in-the-middle training pairs (Bavarian et al. 2022,
    arXiv:2207.14255) → (doc_id, n_words, cut_a, cut_b, fim): the
    document's words split at two deterministic cut points into
    prefix/middle/suffix and re-emitted in PSM order
    ``<|fim_pre|> P <|fim_suf|> S <|fim_mid|> M`` — the infilling
    objective used alongside causal LM for code and structured text.
    Cut points are salted md5 draws over [0, n]
    (``md5_60(doc#cut{0,1}) % (n+1)``, sorted), so the transformation
    is a pure function of (doc_id, text): partition-invariant,
    resume-replayable, externally recomputable. Degenerate cuts
    (empty prefix/middle/suffix) are legal FIM instances and kept.

    Shape: ZERO shuffles — two hash draws and three array slices per
    row, all JVM; pipelines into the writer.
    """
    words = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda x: x != ""
    )

    def draw(salt):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "#", F.col("doc_id").cast("string"), F.lit(salt)
                    )
                ),
                1, 15,
            ),
            16, 10,
        ).cast("long") % (F.col("_n") + 1)

    base = (
        docs.select(F.col(id_col).alias("doc_id"), words.alias("_w"))
        .filter(F.size("_w") > 0)
        .withColumn("_n", F.size("_w").cast("long"))
        .withColumn("_c0", draw("cut0"))
        .withColumn("_c1", draw("cut1"))
        .select(
            "doc_id", "_w", "_n",
            F.least("_c0", "_c1").cast("int").alias("cut_a"),
            F.greatest("_c0", "_c1").cast("int").alias("cut_b"),
        )
    )
    part = lambda s, length: F.array_join(  # noqa: E731
        F.slice(F.col("_w"), s, length), " "
    )
    return base.select(
        "doc_id",
        F.col("_n").cast("int").alias("n_words"),
        "cut_a",
        "cut_b",
        F.concat(
            F.lit("<|fim_pre|> "), part(F.lit(1), F.col("cut_a")),
            F.lit(" <|fim_suf|> "),
            part(F.col("cut_b") + 1, F.col("_n").cast("int") - F.col("cut_b")),
            F.lit(" <|fim_mid|> "),
            part(F.col("cut_a") + 1, F.col("cut_b") - F.col("cut_a")),
        ).alias("fim"),
    )


def curriculum_order(
    docs: DataFrame,
    score_col: str,
    thresholds: tuple[int, ...],
    n_blocks: int = 64,
    seed: str = "cur",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum training order → (doc_id, bucket, pos): documents
    grouped into quality buckets by explicit ascending ``thresholds``
    (bucket = how many thresholds the score clears), HIGHER buckets
    first, hash-shuffled within a bucket — the anneal-from-clean data
    ordering (easy/high-quality early, long tail later) layered on the
    same deterministic machinery as :func:`global_shuffle`.

    Thresholds are explicit integers (not corpus quantiles) so the
    bucket of a document is a pure row-local function — stable under
    resume, re-partitioning, and corpus growth; derive thresholds once
    from :func:`length_quantiles`-style reports if corpus-relative
    cuts are wanted.

    Scale shape: the global order is (inverse bucket asc, md5 asc,
    id), realized as ``(len(thresholds)+1)·n_blocks`` ORDER-PRESERVING
    composite blocks: per-block rank windows over ~n/blocks rows each,
    an O(buckets·n_blocks) driver prefix sum broadcast back — never a
    corpus-wide row_number through one partition.
    """
    from pyspark.sql.window import Window

    if not thresholds or list(thresholds) != sorted(set(thresholds)):
        raise ValueError(
            f"thresholds must be strictly ascending and non-empty, "
            f"got {thresholds}"
        )
    if not 1 <= n_blocks <= 65536 or 65536 % n_blocks:
        raise ValueError(f"n_blocks must divide 65536, got {n_blocks}")
    width = 65536 // n_blocks
    n_buckets = len(thresholds) + 1
    bucket = sum(
        (F.col(score_col) >= t).cast("int") for t in thresholds
    )
    inv = F.lit(n_buckets - 1) - bucket
    h = F.md5(F.concat(F.lit(seed + ":"), F.col(id_col).cast("string")))
    prefix = F.conv(F.substring(h, 1, 4), 16, 10).cast("int")
    staged = docs.select(
        F.col(id_col),
        bucket.cast("int").alias("bucket"),
        h.alias("__h"),
        (inv * n_blocks + (prefix / width).cast("int"))
        .cast("int")
        .alias("__blk"),
    )
    w = Window.partitionBy("__blk").orderBy("__h", id_col)
    ranked = staged.withColumn("__rank", F.row_number().over(w) - 1)
    counts = (
        staged.groupBy("__blk").agg(F.count("*").alias("__n")).collect()
    )
    sizes = {r["__blk"]: r["__n"] for r in counts}
    offsets, acc = {}, 0
    for blk in sorted(sizes):
        offsets[blk] = acc
        acc += sizes[blk]
    off_df = staged.sparkSession.createDataFrame(
        [(b, o) for b, o in offsets.items()], "__blk int, __off long"
    )
    return (
        ranked.join(F.broadcast(off_df), "__blk")
        .select(
            F.col(id_col),
            "bucket",
            (F.col("__rank") + F.col("__off")).cast("long").alias("pos"),
        )
    )


def domain_cap(
    docs: DataFrame,
    k: int = 10,
    n_salts: int = 16,
    id_col="doc_id",
    url_col="url",
    text_col="text",
) -> DataFrame:
    """Per-domain document cap → (domain, doc_id, quality, rank): keep
    the best ``k`` documents of each REGISTERED domain (last two host
    labels) by the blended quality score — the RefinedWeb/C4-style
    guard against one crawler-friendly site dominating the corpus.

    Skew-safe like :func:`quality_topk`: web domains are zipf-extreme
    (one host can be >10 % of a crawl), so phase 1 salts the window to
    (domain, id mod n_salts) and keeps k per salt, phase 2 re-ranks
    the ≤ n_salts·k survivors — exact, and never funnels a hot domain
    through one reducer. URL parsing is two Catalyst regexes (scheme
    strip + last-two-labels), whole-stage codegen.
    """
    from pyspark.sql.window import Window

    from .text import quality_col

    host = F.regexp_extract(F.col(url_col), r"^[a-z]+://([^/]+)", 1)
    domain = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    staged = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        domain.alias("domain"),
        quality_col(text_col).alias("quality"),
        (F.col(id_col) % n_salts).cast("int").alias("salt"),
    )
    w1 = Window.partitionBy("domain", "salt").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    survivors = (
        staged.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= k)
        .drop("rn", "salt")
    )
    w2 = Window.partitionBy("domain").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    return (
        survivors.withColumn(
            "rank", F.row_number().over(w2).cast("int")
        )
        .filter(F.col("rank") <= k)
        .select("domain", "doc_id", "quality", "rank")
    )


_TRACKING_PARAM = r"^(utm_[^=&]*|fbclid|gclid|msclkid|mc_cid|mc_eid)(=|$)"


def url_canonicalize(
    docs: DataFrame, id_col: str = "doc_id", url_col: str = "url",
    keep: tuple = (),
) -> DataFrame:
    """URL canonicalization — the crawl-dedup primitive that makes two
    spellings of one page compare equal BEFORE any content hashing:
    lowercase scheme+authority, fragment dropped, default port
    stripped, trailing path slashes collapsed, tracking parameters
    (utm_*/fbclid/gclid/…) removed, surviving query parameters sorted.
    Percent-decoding is deliberately NOT performed (it can change
    semantics); ``www.`` is kept (conservative).

    → (doc_id, url, url_canon, host, is_valid, changed): absolute
    http(s)-style URLs canonicalize; anything without a scheme://
    passes through unchanged with ``is_valid`` false.

    Scale shape: pure JVM regex/array expressions, shuffle-free — runs
    as a projection inside whatever scan feeds it; at 10^12 rows the
    cost is the scan itself.
    """
    u = F.regexp_replace(F.trim(F.col(url_col)), r"#.*$", "")
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    auth = F.lower(
        F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    auth = (
        F.when(scheme == "http", F.regexp_replace(auth, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(auth, r":443$", ""))
        .otherwise(auth)
    )
    pathq = F.regexp_extract(
        u, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)$", 1
    )
    path = F.regexp_extract(pathq, r"^([^?]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(pathq, r"\?(.*)$", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~F.regexp_like(p, F.lit(_TRACKING_PARAM)),
    )
    q = F.array_join(F.sort_array(params), "&")
    canon = F.concat(
        scheme,
        F.lit("://"),
        auth,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    is_valid = scheme != ""
    out_canon = F.when(is_valid, canon).otherwise(F.trim(F.col(url_col)))
    return docs.select(
        F.col(id_col),
        F.col(url_col).alias("url"),
        out_canon.alias("url_canon"),
        F.when(is_valid, F.regexp_replace(auth, r":[0-9]+$", ""))
        .otherwise(F.lit(""))
        .alias("host"),
        is_valid.alias("is_valid"),
        (out_canon != F.col(url_col)).alias("changed"),
        *[F.col(c) for c in keep],
    )


def robots_rules(
    robots: DataFrame,
    host_col: str = "host",
    text_col: str = "content",
    agent: str = "*",
) -> DataFrame:
    """Parse robots.txt bodies into the rule set applying to ``agent``.

    → (host, path, directive, rule_len): one row per Allow/Disallow
    rule inside a User-agent section matching ``agent`` (exact token or
    ``*``). Robots grammar via gaps-and-islands: a section starts at a
    User-agent line whose previous directive-bearing line is not also a
    User-agent line (consecutive UA lines share one section, per the
    original spec); comments and blank lines are ignored; empty
    Disallow values (``Disallow:``) produce no rule (allow-all).

    Scale shape: one line split/posexplode (narrow), one per-host
    window for section numbering, one tiny (host, section) rollup —
    robots corpora are ~50 lines × #hosts, dwarfed by the URL side
    they later filter.
    """
    from pyspark.sql.window import Window

    lines = robots.select(
        F.col(host_col).alias("host"),
        F.posexplode(F.split(F.col(text_col), r"\r?\n")).alias(
            "line_idx", "_line"
        ),
    )
    line = F.regexp_replace(F.col("_line"), r"#.*$", "")
    kind = (
        F.when(F.regexp_like(line, F.lit(r"(?i)^\s*user-agent\s*:")), "ua")
        .when(F.regexp_like(line, F.lit(r"(?i)^\s*allow\s*:")), "allow")
        .when(F.regexp_like(line, F.lit(r"(?i)^\s*disallow\s*:")), "disallow")
        .otherwise("other")
    )
    value = F.trim(F.regexp_extract(line, r"(?i)^\s*[a-z-]+\s*:\s*(\S.*?)\s*$", 1))
    x = (
        lines.select("host", "line_idx", kind.alias("kind"),
                     value.alias("value"))
        .filter(F.col("kind") != "other")
    )
    w = Window.partitionBy("host").orderBy("line_idx")
    new_sec = (
        (F.col("kind") == "ua")
        & (F.coalesce(F.lag("kind").over(w), F.lit("x")) != "ua")
    ).cast("int")
    x = x.withColumn("section", F.sum(new_sec).over(w))
    applies = (
        x.filter(F.col("kind") == "ua")
        .groupBy("host", "section")
        .agg(
            F.max(
                (F.lower(F.col("value")) == agent.lower())
                | (F.col("value") == "*")
            ).alias("applies")
        )
        .filter(F.col("applies"))
        .drop("applies")
    )
    return (
        x.filter(F.col("kind").isin("allow", "disallow") & (F.col("value") != ""))
        .join(applies, ["host", "section"])
        .select(
            "host",
            F.col("value").alias("path"),
            F.col("kind").alias("directive"),
            F.length("value").cast("int").alias("rule_len"),
        )
    )


def _rule_regex(path_col):
    """robots rule → anchored regex: regex metachars escaped, ``*`` →
    ``.*``, a trailing ``$`` anchor honored (Google REP semantics)."""
    c = path_col
    for ch in ("\\", ".", "^", "+", "?", "(", ")", "[", "]", "{", "}", "|"):
        c = F.replace(c, F.lit(ch), F.lit("\\" + ch))
    c = F.replace(c, F.lit("$"), F.lit("\\$"))
    c = F.replace(c, F.lit("*"), F.lit(".*"))
    # un-escape a trailing end anchor ("\$" in the replacement: Java
    # treats a bare $ there as a group reference)
    c = F.regexp_replace(c, r"\\\$$", "\\$")
    return F.concat(F.lit("^"), c)


def robots_filter(
    urls: DataFrame,
    robots: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    agent: str = "*",
) -> DataFrame:
    """Evaluate crawl permission for each URL against robots.txt rules
    (Google REP precedence: the longest matching rule wins, ties go to
    Allow; no matching rule ⇒ allowed).

    → (doc_id, url, host, matched_path, directive, allowed).

    Scale shape: rules broadcast (robots corpora are tiny next to the
    URL frontier), match via regex derived from the rule (``*`` and a
    trailing ``$`` honored), precedence via one per-URL window over the
    matched rules only — URLs with no matching rule never enter the
    window.
    """
    from pyspark.sql.window import Window

    rules = robots_rules(robots, agent=agent).withColumn(
        "_re", _rule_regex(F.col("path"))
    )
    u = urls.select(
        F.col(id_col),
        F.col(url_col).alias("url"),
        F.lower(
            F.regexp_extract(
                F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)", 1
            )
        ).alias("host"),
        F.coalesce(
            F.nullif(
                F.regexp_extract(
                    F.col(url_col),
                    r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1,
                ),
                F.lit(""),
            ),
            F.lit("/"),
        ).alias("_path"),
    )
    matched = (
        u.join(F.broadcast(rules), "host")
        .filter(F.expr("_path rlike _re"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("rule_len").desc(), F.col("directive").asc()
    )
    best = (
        matched.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(id_col, F.col("path").alias("matched_path"), "directive")
    )
    return (
        u.join(best, id_col, "left")
        .select(
            id_col,
            "url",
            "host",
            "matched_path",
            "directive",
            F.coalesce(F.col("directive") == "allow", F.lit(True)).alias(
                "allowed"
            ),
        )
    )


# Four RE2-safe shapes: {name-first, content-first} × {quoted, unquoted}.
# Unquoted attribute values cannot contain whitespace per the HTML syntax,
# so the unquoted capture stops at whitespace/quote/'>' — a quoted value
# never matches the unquoted shape (the quote char is excluded at the
# first position) and vice versa, so no tag double-counts.
_META_ROBOTS_PATS = (
    r'(?i)<meta[^>]*\bname\s*=\s*["\x27]?robots\b[^>]*'
    r'\bcontent\s*=\s*["\x27]([^"\x27>]*)',
    r'(?i)<meta[^>]*\bname\s*=\s*["\x27]?robots\b[^>]*'
    r'\bcontent\s*=\s*([^\s"\x27>]+)',
    r'(?i)<meta[^>]*\bcontent\s*=\s*["\x27]([^"\x27>]*)["\x27][^>]*'
    r'\bname\s*=\s*["\x27]?robots\b',
    r'(?i)<meta[^>]*\bcontent\s*=\s*([^\s"\x27>]+)[^>]*'
    r'\bname\s*=\s*["\x27]?robots\b',
)


def robots_directives(
    pages: DataFrame,
    id_col: str = "doc_id",
    html_col: str = "html",
    header_col: str | None = None,
) -> DataFrame:
    """Page-level robots directives — the crawl-QA filter AFTER the
    fetch (robots.txt gates the request; ``<meta name=robots>`` and the
    ``X-Robots-Tag`` response header gate what an indexer may KEEP).

    → (id, directives, noindex, nofollow, noarchive, keep_index):
    ``directives`` is the sorted distinct token union over EVERY
    ``<meta name=robots>`` tag on the page (the Robots Meta spec says
    directives from multiple tags combine; both attribute orders,
    quoted or unquoted content values) and, when ``header_col`` is
    given, the header; ``none`` expands to noindex+nofollow per the
    spec; ``keep_index`` is the training-corpus keep decision (pages a
    site asked indexers not to keep should not land in a corpus).

    Scale shape: row-local JVM regex extraction + array expressions —
    no shuffle, whole-stage codegen; RE2-safe patterns.
    """
    meta = F.concat_ws(
        ",",
        *[
            F.regexp_extract_all(F.col(html_col), F.lit(p), F.lit(1))
            for p in _META_ROBOTS_PATS
        ],
    )
    hdr = (
        F.coalesce(F.col(header_col), F.lit(""))
        if header_col is not None
        else F.lit("")
    )
    toks = F.array_sort(
        F.array_distinct(
            F.filter(
                F.transform(
                    F.split(F.concat_ws(",", meta, hdr), ","),
                    lambda t: F.lower(F.trim(t)),
                ),
                lambda t: t != "",
            )
        )
    )
    has = F.array_contains
    noindex = has(toks, "noindex") | has(toks, "none")
    nofollow = has(toks, "nofollow") | has(toks, "none")
    noarchive = has(toks, "noarchive")
    return pages.select(
        F.col(id_col),
        toks.alias("directives"),
        noindex.alias("noindex"),
        nofollow.alias("nofollow"),
        noarchive.alias("noarchive"),
        (~noindex).alias("keep_index"),
    )


def html_links(
    pages: DataFrame,
    id_col: str = "doc_id",
    url_col: str = "url",
    html_col: str = "html",
) -> DataFrame:
    """Outlink extraction — the crawl-frontier DISCOVERY step (fetch →
    extract links → canonicalize → robots → schedule closes the crawl
    loop). ``<a href>`` values are lifted JVM-side (tag-anchored
    regexp_extract_all), fragments stripped, then resolved against the
    page URL by the SAME RFC-3986 kernel the RDF extractors use
    (kernels/iri.resolve_iri — reference E1, AbstractIri resolution
    quirks included), so crawling and extraction share one resolution
    semantics.

    → (id, link_idx, href, url_abs, is_external): ``href`` is the raw
    attribute value (fragment stripped); ``url_abs`` the resolved
    absolute URL, NULL for non-http(s) targets (mailto:, javascript:)
    and unresolvable refs; ``is_external`` compares lowercased hosts
    (NULL when url_abs is).

    Scale shape: narrow JVM extraction + posexplode (rows grow by the
    links-per-page factor), one thin mapInArrow for the resolution
    kernel over (base, href) pairs, then row-local host comparison. No
    shuffle anywhere.
    """
    import pyarrow as pa

    hrefs = F.expr(
        f"regexp_extract_all({html_col}, "
        "'(?i)<a\\\\b[^>]*\\\\bhref\\\\s*=\\\\s*[\"\\']?([^\"\\'\\\\s>]*)', 1)"
    )
    exploded = pages.select(
        F.col(id_col),
        F.col(url_col).alias("_base"),
        F.posexplode(hrefs).alias("link_idx", "_raw"),
    ).select(
        id_col,
        "_base",
        F.col("link_idx").cast("int"),
        F.substring_index("_raw", "#", 1).alias("href"),
    )
    id_field = exploded.schema[id_col]

    def run(batches):
        from ..kernels.iri import resolve_iri

        id_type = None
        for rb in batches:
            names = rb.schema.names
            id_arr = rb.column(names.index(id_col))
            id_type = id_arr.type
            ids = id_arr.to_pylist()
            bases = rb.column(names.index("_base")).to_pylist()
            idxs = rb.column(names.index("link_idx")).to_pylist()
            hrefs_ = rb.column(names.index("href")).to_pylist()
            out = []
            for b, h in zip(bases, hrefs_):
                try:
                    out.append(resolve_iri(b or "", h))
                except Exception:  # malformed ref → NULL, never a failure
                    out.append(None)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, id_type),
                    pa.array(bases, pa.string()),
                    pa.array(idxs, pa.int32()),
                    pa.array(hrefs_, pa.string()),
                    pa.array(out, pa.string()),
                ],
                names=[id_col, "_base", "link_idx", "href", "_abs"],
            )

    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("_base", StringType(), True),
            StructField("link_idx", IntegerType(), True),
            StructField("href", StringType(), True),
            StructField("_abs", StringType(), True),
        ]
    )
    resolved = exploded.mapInArrow(run, schema=schema)
    host = lambda c: F.lower(  # noqa: E731
        F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    url_abs = F.when(
        F.col("_abs").rlike(r"^(?i)https?://"), F.col("_abs")
    )
    return resolved.select(
        id_col,
        "link_idx",
        "href",
        url_abs.alias("url_abs"),
        F.when(
            url_abs.isNotNull(), host(url_abs) != host(F.col("_base"))
        ).alias("is_external"),
    )


def html_page_meta(
    pages: DataFrame, id_col: str = "doc_id", html_col: str = "html"
) -> DataFrame:
    """Page metadata lift — the provenance/dedup side-channel a crawl
    keeps per page: ``<title>``, ``<meta name=description>`` (both
    attribute orders), ``<link rel=canonical href>`` (both orders,
    the canonical-URL preference that outranks url_canonicalize's
    syntactic form when present), ``<html lang>``, and ``og:title``.

    → (id, title, description, canonical_url, page_lang, og_title),
    NULL when absent; values are whitespace-trimmed. Row-local JVM
    regex projection — no shuffle, whole-stage codegen, RE2-safe
    patterns.
    """
    h = F.col(html_col)

    def ex(pattern):
        return F.nullif(F.trim(F.regexp_extract(h, pattern, 1)), F.lit(""))

    def meta2(name):
        return F.coalesce(
            ex(rf'(?i)<meta[^>]*\bname\s*=\s*["\x27]?{name}\b[^>]*'
               r'\bcontent\s*=\s*["\x27]([^"\x27>]*)'),
            ex(rf'(?i)<meta[^>]*\bcontent\s*=\s*["\x27]([^"\x27>]*)'
               rf'["\x27][^>]*\bname\s*=\s*["\x27]?{name}\b'),
        )

    canonical = F.coalesce(
        ex(r'(?i)<link[^>]*\brel\s*=\s*["\x27]?canonical\b[^>]*'
           r'\bhref\s*=\s*["\x27]?([^"\x27\s>]+)'),
        ex(r'(?i)<link[^>]*\bhref\s*=\s*["\x27]?([^"\x27\s>]+)["\x27]?'
           r'[^>]*\brel\s*=\s*["\x27]?canonical\b'),
    )
    og_title = ex(
        r'(?i)<meta[^>]*\bproperty\s*=\s*["\x27]?og:title["\x27]?[^>]*'
        r'\bcontent\s*=\s*["\x27]([^"\x27>]*)'
    )
    return pages.select(
        F.col(id_col),
        ex(r"(?i)<title[^>]*>\s*([^<]*)").alias("title"),
        meta2("description").alias("description"),
        canonical.alias("canonical_url"),
        ex(r'(?i)<html[^>]*\blang\s*=\s*["\x27]?([A-Za-z-]+)').alias(
            "page_lang"
        ),
        og_title.alias("og_title"),
    )


def crawl_schedule(
    urls: DataFrame,
    delays: DataFrame | None = None,
    id_col: str = "doc_id",
    url_col: str = "url",
    default_delay_s: int = 1,
) -> DataFrame:
    """Per-host politeness scheduling for a fetch frontier: each host's
    URLs get consecutive fetch slots spaced by that host's crawl delay
    (robots ``Crawl-delay`` or the default), so a fetcher can consume
    the frame ordered by ``fetch_offset_s`` and never hit one host
    faster than allowed.

    ``delays``: optional ``(host, crawl_delay_s)`` side table
    (broadcast). → (doc_id, url, host, fetch_seq, crawl_delay_s,
    fetch_offset_s).

    Scale shape: one per-host window (row_number over the frontier's
    natural key) — the same partitioning a host-sharded fetcher needs
    anyway; hot hosts are bounded by their own politeness budget, so
    window skew IS the schedule, not a bottleneck.
    """
    from pyspark.sql.window import Window

    u = urls.select(
        F.col(id_col),
        F.col(url_col).alias("url"),
        F.lower(
            F.regexp_extract(
                F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]*)", 1
            )
        ).alias("host"),
    )
    if delays is not None:
        u = u.join(F.broadcast(delays), "host", "left")
        delay = F.coalesce(
            F.col("crawl_delay_s"), F.lit(default_delay_s)
        ).cast("int")
    else:
        delay = F.lit(default_delay_s).cast("int")
    w = Window.partitionBy("host").orderBy(id_col)
    seq = (F.row_number().over(w) - 1).cast("int")
    return u.select(
        id_col,
        "url",
        "host",
        seq.alias("fetch_seq"),
        delay.alias("crawl_delay_s"),
        (seq.cast("long") * delay).alias("fetch_offset_s"),
    )


_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_filter(
    docs: DataFrame,
    id_col="doc_id",
    text_col="text",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, "Scaling Language Models",
    appendix A1.1) as one row-local Catalyst projection → per-rule
    flags + the keep decision:

    word count in [min_words, max_words]; mean word length in [3, 10]
    (integer form: ``3·n ≤ Σlen ≤ 10·n``); symbol-to-word ratio ≤ 0.1
    (``#`` and ``...``); < 90 % of lines bullet-led; < 30 % of lines
    ellipsis-ended; ≥ 80 % of words contain an alphabetic character;
    ≥ 2 distinct Gopher stop words present. Every threshold is integer
    cross-multiplication — no float can flip a verdict across engines.

    Scale shape: NO shuffle — flags are in-row array/string
    expressions inside one WholeStageCodegen span over the scan, the
    same discipline as c4_rule_filter.
    """
    t = F.trim(F.col(text_col))
    toks = F.filter(F.split(t, r"\s+"), lambda x: x != "")
    n_words = F.size(toks).cast("long")
    sum_chars = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    ).cast("long")
    n_hash = (F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))).cast("long")
    n_ellipsis = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    ).cast("long")
    lines = F.filter(
        F.transform(F.split(t, r"\n"), F.trim), lambda x: x != ""
    )
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda x: F.regexp_like(x, F.lit(r"^[-*•]")))
    ).cast("long")
    n_ell_end = F.size(
        F.filter(lines, lambda x: F.regexp_like(x, F.lit(r"(\.\.\.|…)$")))
    ).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda x: F.regexp_like(x, F.lit("[A-Za-z]")))
    ).cast("long")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            F.array(*[F.lit(w) for w in _GOPHER_STOPWORDS]),
        )
    ).cast("int")

    ok_word_count = (n_words >= min_words) & (n_words <= max_words)
    ok_mean_len = (3 * n_words <= sum_chars) & (sum_chars <= 10 * n_words)
    ok_symbol = 10 * (n_hash + n_ellipsis) <= n_words
    ok_bullets = 10 * n_bullet < 9 * F.greatest(n_lines, F.lit(1).cast("long"))
    ok_ell_lines = 10 * n_ell_end < 3 * F.greatest(n_lines, F.lit(1).cast("long"))
    ok_alpha = 5 * n_alpha >= 4 * n_words
    ok_stop = n_stop >= 2

    return docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        sum_chars.alias("sum_word_chars"),
        n_lines.alias("n_lines"),
        n_stop.alias("n_stop_kinds"),
        ok_word_count.alias("ok_word_count"),
        ok_mean_len.alias("ok_mean_len"),
        ok_symbol.alias("ok_symbol_ratio"),
        ok_bullets.alias("ok_bullets"),
        ok_ell_lines.alias("ok_ellipsis_lines"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (
            ok_word_count & ok_mean_len & ok_symbol & ok_bullets
            & ok_ell_lines & ok_alpha & ok_stop
        ).alias("keep"),
    )
