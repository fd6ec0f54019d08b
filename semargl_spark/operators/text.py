"""Text analysis operators for training-data curation.

All pure JVM expressions (split/regexp/aggregate) — whole-stage codegen,
shuffle-free projections over the documents table:

* language-ID: stopword-hit heuristic over a small per-language lexicon
  (inlined literal arrays; a production system would broadcast n-gram
  models — the plumbing is identical);
* quality score: length / punctuation / stopword / repetition ratios;
* token counting: whitespace tokens + a BPE-ish subword estimate
  (chars/4 heuristic blended with punctuation splits);
* document fingerprint: polynomial rolling hash over word tokens
  (order-sensitive, unlike the dedup shingle hashes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spark_util import iterate

_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "est", "que"],
}


def _tokens(text_col="text"):
    return F.split(F.trim(F.lower(F.col(text_col))), r"\s+")


# GPT-2-style pretokenizer shape, restricted to constructs Java regex
# and RE2-family engines treat identically (letters / digits / other
# runs, each with an optional leading space) so external SQL oracles
# can recount it
_BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"


# sentence boundary: terminal punctuation, then whitespace, then a
# capital/digit opener — with bounded lookbehinds guarding the common
# abbreviation false-splits ("Dr. Smith", "5 p.m. We left"). Java regex
# (lookbehind alternation is bounded); the gate's oracle is closed-form,
# not a regex replay.
_SENT_BOUNDARY = (
    r"(?:(?<=[.!?])|(?<=[.!?][\"')]))"
    r"(?<!\b(?:Dr|Mr|Ms|St|No|vs)\.)"
    r"(?<!\b(?:Mrs|etc)\.)"
    r"(?<!\bProf\.)"
    r"(?<!\b[ap]\.m\.)"
    r"(?<!\b[A-Z]\.)"
    r"\s+(?=[A-Z0-9\"(])"
)


def sentence_split(
    docs: DataFrame, id_col="doc_id", text_col="text"
) -> DataFrame:
    """Sentence segmentation → (id, sent_idx, sentence, n_chars,
    n_words): the unit under sentence-level dedup / quality scoring /
    contamination checks. Boundaries are terminal-punctuation runs
    followed by whitespace and a capital/digit/quote opener, with
    bounded-lookbehind guards for titles ("Dr. Smith"), clock
    abbreviations ("5 p.m. We left"), and single-initial names
    ("J. Doe"); blank segments vanish, a trailing fragment without
    terminal punctuation is kept as the last sentence.

    Scale shape: one JVM regex split + posexplode — row-local, rows
    grow by the sentences-per-doc factor, no shuffle, whole-stage
    codegen.
    """
    sents = F.split(F.col(text_col), _SENT_BOUNDARY)
    return (
        docs.select(
            F.col(id_col),
            F.posexplode(sents).alias("sent_idx", "_raw"),
        )
        .select(
            id_col,
            F.col("sent_idx").cast("int"),
            F.trim("_raw").alias("sentence"),
        )
        .filter(F.col("sentence") != "")
        .withColumn("n_chars", F.length("sentence").cast("int"))
        .withColumn(
            "n_words",
            F.size(F.split("sentence", r"\s+")).cast("int"),
        )
    )


def token_count(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """(doc_id, n_tokens, n_chars, n_bpe_tokens, n_subwords_est):
    whitespace tokens, a BPE-ish pretokenizer regex count, and the
    chars/4 rule-of-thumb."""
    toks = _tokens(text_col)
    n_chars = F.length(F.col(text_col))
    # split("") yields [''] — an empty/whitespace-only document has 0
    # tokens, not 1 (keeps n_tokens consistent with n_bpe_tokens=0)
    n_tokens = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(toks))
    return docs.select(
        F.col(id_col),
        n_tokens.cast("int").alias("n_tokens"),
        n_chars.cast("int").alias("n_chars"),
        F.regexp_count(F.col(text_col), F.lit(_BPE_PATTERN))
        .cast("int")
        .alias("n_bpe_tokens"),
        F.ceil(n_chars / 4).cast("int").alias("n_subwords_est"),
    )


def lang_pred_col(text_col="text"):
    """Stopword-vote language prediction as a bare Column — reused by
    lang_id and by the curation rollups (corpus_mix / quota_resample /
    quality_topk compose it row-locally instead of joining the lang_id
    DataFrame back on doc_id, which would cost a shuffle)."""
    toks = _tokens(text_col)
    hits = {
        lang: F.size(
            F.array_intersect(
                F.array_distinct(toks), F.array(*[F.lit(w) for w in words])
            )
        )
        for lang, words in _STOPWORDS.items()
    }
    langs = list(hits)
    scores = F.array(*[hits[lang] for lang in langs])
    best_idx = F.array_position(scores, F.array_max(scores)) - 1
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    return F.when(F.array_max(scores) == 0, F.lit("und")).otherwise(
        F.element_at(lang_arr, best_idx.cast("int") + 1)
    )


def lang_id(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Stopword-vote language id → (doc_id, lang_pred, lang_score)."""
    toks = _tokens(text_col)
    hits = {
        lang: F.size(
            F.array_intersect(
                F.array_distinct(toks), F.array(*[F.lit(w) for w in words])
            )
        )
        for lang, words in _STOPWORDS.items()
    }
    scores = F.array(*[hits[lang] for lang in hits])
    total = F.greatest(F.size(F.array_distinct(toks)), F.lit(1))
    return docs.select(
        F.col(id_col),
        lang_pred_col(text_col).alias("lang_pred"),
        F.round(F.array_max(scores) / total, 6).alias("lang_score"),
    )


# distinctive character trigrams per language (derived from common
# function words, space-padded so word boundaries count; a trigram may
# legitimately appear in several languages' profiles — romance articles,
# scandinavian conjunctions). Trained profiles would be broadcast the
# same way: the constant-folded lookup map below IS the broadcast-side
# of a map-side join, so swapping in learned profiles changes no plan.
_TRIGRAM_PROFILES = {
    "en": [" th", "the", "he ", " an", "and", "nd ", " of", "of ", "ing",
           "ng ", " to", "to ", " is", "is ", "ion", "at "],
    "de": [" de", "der", "er ", " di", "die", "ie ", "und", " un", "nd ",
           "ein", " ei", "ich", "ch ", "sch", " ni", "cht"],
    "es": [" de", "de ", " la", "la ", "que", " qu", "ue ", " el", "el ",
           " en", "en ", "los", " lo", "ión", "ar ", " po"],
    "fr": [" de", "de ", " le", "le ", "les", "es ", " et", "et ", "une",
           " un", "ent", "nt ", " qu", "que", "ait", " pa"],
    "it": [" il", "il ", "che", " ch", "gli", " gl", "zio", "one", " di",
           "di ", "lla", "ell", " pe", "per", "to ", "re "],
    "pt": ["ção", "ão ", " os", "os ", " em", "em ", "uma", " um", "ado",
           " nã", "não", " pa", "par", "ra ", " se", "os,"],
    "nl": [" de", "de ", "het", " he", "een", " ee", "van", " va", "aar",
           "ijk", "en ", " ni", "nie", "iet", " ze", "oor"],
    "sv": ["och", " oc", "ch ", "att", " at", "tt ", "för", " fö", "är ",
           " är", "det", " de", "en ", "ing", "som", " so"],
    "da": [" og", "og ", "det", " de", "der", "ikk", "kke", "at ", " at",
           " af", "af ", "til", " ti", "en ", "ede", "jeg"],
    "no": [" av", "av ", "jeg", "det", " de", "ikk", "kke", "og ", " og",
           "til", "en ", "ere", " ik", " på", "på ", "ken"],
    "fi": ["en ", "in ", "ssa", "ssä", "ään", "lla", "llä", "sta", " ja",
           "ja ", "ett", "ttä", "on ", " on", "kin", "äis"],
    "pl": [" ni", "nie", "ie ", " pr", "prz", "rze", "ych", "ego", "ów ",
           " że", "że ", " w ", "ać ", "ani", " po", "ną "],
    "cs": [" je", "je ", " ne", "pro", " pr", "ení", " že", "že ", "ost",
           " na", "ch ", " v ", "ého", "ou ", " se", "ře "],
    "tr": [" bi", "bir", "ir ", " ve", "ve ", "lar", "ler", " ya", "da ",
           " da", "iyo", "yor", "ını", " ka", "an ", "lik"],
    "ro": [" în", "în ", "ul ", "lui", " cu", "cu ", "are", " ca", "eaz",
           "ază", " și", "și ", " pe", "tre", "ea ", "ște"],
    "hu": [" az", "az ", " eg", "egy", "gy ", " ho", "hog", "ogy", " me",
           "nek", "ban", "ben", " sz", "nak", "ett", "tt "],
    "id": [" di", "di ", " ya", "yan", "ang", "ng ", " me", "men", "kan",
           "an ", " be", "ber", " da", "dan", "ah ", "nya"],
    "ca": [" el", "els", " am", "amb", "mb ", " qu", "que", "és ", " és",
           "per", " pe", "ent", "nt ", " de", "del", "ada"],
    "ru": [" и ", " не", "не ", "что", " чт", "то ", " на", "на ", "ого",
           "ени", " по", "ть ", "ать", " в ", "ско", "ост"],
    "uk": [" і ", " не", "що ", " що", " та", "та ", "ння", "ого", " на",
           " з ", "ти ", "іст", "сть", " ук", "ої ", "ває"],
}


def lang_id_ngram(
    docs: DataFrame, id_col="doc_id", text_col="text", keep: tuple = ()
) -> DataFrame:
    """Character-trigram language ID (the classic n-gram heuristic):
    score(lang) = occurrences of the language's distinctive trigrams in
    the space-padded lowercased text, normalized by trigram count.
    Entirely JVM-side and shuffle-free: each trigram does ONE lookup in
    a constant-folded ``trigram -> [lang indices]`` map (the broadcast
    side of a map-side join), so per-document work is O(len(text)) —
    not O(len(text) × |languages|) as per-language array scans would be.
    Returns (doc_id, lang_pred, lang_score[, *keep]) — ``keep`` columns
    pass through so downstream rollups (e.g. the confusion matrix
    against a labeled column) stay projection-only instead of joining
    the prediction frame back on doc_id."""
    padded = F.concat(F.lit(" "), F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " "), F.lit(" "))
    t = docs.withColumn("_pt", padded)
    tris = F.expr("transform(sequence(1, greatest(length(_pt) - 2, 1)), i -> substr(_pt, i, 3))")
    t = t.withColumn("_tris", tris)
    langs = list(_TRIGRAM_PROFILES)
    tri2langs: dict[str, list[int]] = {}
    for li, lang in enumerate(langs):
        for g in dict.fromkeys(_TRIGRAM_PROFILES[lang]):
            tri2langs.setdefault(g, []).append(li)
    lookup = F.map_from_arrays(
        F.array(*[F.lit(g) for g in tri2langs]),
        F.array(*[F.array(*[F.lit(i) for i in ls]) for ls in tri2langs.values()]),
    )
    # array of matching language indices, one entry per profile hit
    t = t.withColumn(
        "_hits",
        F.flatten(
            F.transform(
                F.col("_tris"),
                lambda x: F.coalesce(
                    F.element_at(lookup, x), F.array().cast("array<int>")
                ),
            )
        ),
    )
    def _counts(li):
        # a default-arg lambda would have arity 2, which F.filter treats
        # as the (element, index) form — build the 1-arg closure instead
        return F.size(F.filter(F.col("_hits"), lambda i: i == F.lit(li)))

    scores = F.array(*[_counts(li) for li in range(len(langs))])
    best_idx = F.array_position(scores, F.array_max(scores))
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    total = F.greatest(F.size(F.col("_tris")), F.lit(1))
    return t.select(
        F.col(id_col),
        F.when(F.array_max(scores) == 0, F.lit("und"))
        .otherwise(F.element_at(lang_arr, best_idx.cast("int")))
        .alias("lang_pred"),
        F.round(F.array_max(scores) / total, 6).alias("lang_score"),
        *[F.col(c) for c in keep],
    )


def lang_confusion(
    docs: DataFrame, id_col="doc_id", text_col="text", true_col="lang"
) -> DataFrame:
    """Confusion matrix of the trigram language-ID against a labeled
    column → (lang_true, lang_pred, n_docs) — the model-quality
    evaluation a curation run reports per corpus snapshot (which
    languages leak into which, how much lands in 'und').

    The prediction is composed row-locally (``lang_id_ngram`` with the
    label passed through), so the whole matrix is one projection plus a
    single tiny-key hash aggregation (≤ (|langs|+1)² groups) with
    map-side partials — no join of the prediction frame back onto the
    corpus, no shuffle proportional to corpus size beyond the count
    merge."""
    pred = lang_id_ngram(docs, id_col=id_col, text_col=text_col, keep=(true_col,))
    return (
        pred.groupBy(
            F.col(true_col).alias("lang_true"), F.col("lang_pred")
        ).agg(F.count("*").cast("long").alias("n_docs"))
    )


def quality_col(text_col="text"):
    """The blended [0,1] quality score as a bare Column (same formula
    as quality_score's ``quality`` output) — reused by the curation
    top-k so lang + quality compose in ONE row-local projection."""
    toks = _tokens(text_col)
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    all_stop = F.array(*[F.lit(w) for ws in _STOPWORDS.values() for w in ws])
    stop_hits = F.size(F.filter(toks, lambda t: F.array_contains(all_stop, t)))
    stopword_ratio = stop_hits / n_tokens
    distinct_ratio = F.size(F.array_distinct(toks)) / n_tokens
    len_score = F.least(F.size(toks) / F.lit(64.0), F.lit(1.0))
    return F.round(
        (
            len_score * 0.4
            + F.least(stopword_ratio * 4, F.lit(1.0)) * 0.3
            + distinct_ratio * 0.3
        ),
        6,
    )


def quality_score(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Heuristic quality features + a blended [0,1] score.

    (doc_id, len_score, punct_ratio, stopword_ratio, repetition_ratio,
    quality)."""
    text = F.col(text_col)
    toks = _tokens(text_col)
    n_tokens = F.greatest(F.size(toks), F.lit(1))
    n_chars = F.greatest(F.length(text), F.lit(1))

    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    punct_ratio = n_punct / n_chars

    all_stop = F.array(
        *[F.lit(w) for ws in _STOPWORDS.values() for w in ws]
    )
    stop_hits = F.size(
        F.filter(toks, lambda t: F.array_contains(all_stop, t))
    )
    stopword_ratio = stop_hits / n_tokens

    distinct_ratio = F.size(F.array_distinct(toks)) / n_tokens
    repetition_ratio = 1 - distinct_ratio

    len_score = F.least(F.size(toks) / F.lit(64.0), F.lit(1.0))

    quality = quality_col(text_col)
    return docs.select(
        F.col(id_col),
        F.round(len_score, 6).alias("len_score"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        F.round(repetition_ratio, 6).alias("repetition_ratio"),
        quality.alias("quality"),
    )


def fingerprint(
    docs: DataFrame, id_col="doc_id", text_col="text",
    hash_method: str = "xxhash64",
) -> DataFrame:
    """Order-sensitive polynomial rolling hash over word tokens:
    h = Σ hash(tok_i)·31^(n-1-i) mod (2^31−1), kept in-range per step so
    ANSI-mode long arithmetic never overflows.

    ``hash_method="md5"`` swaps the token hash for the SQL-replicable
    60-bit md5 fold so an external oracle can recompute fingerprints."""
    from .dedup import _hash64

    toks = _tokens(text_col)
    m = F.lit((1 << 31) - 1).cast("long")
    rolled = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * F.lit(31).cast("long") + F.pmod(_hash64(t, None, hash_method), m), m
        ),
    )
    return docs.select(F.col(id_col), rolled.alias("fingerprint"))


def _ppm(num, den):
    """floor(num·10^6 / den) as an exact bigint (0 when den = 0).

    Integer parts-per-million instead of a rounded double: floor over
    bigints is bit-identical in every engine, while round-half-up vs
    half-even on a double ratio can flip the last digit between Spark
    and an external SQL oracle."""
    scaled = (num.cast("long") * F.lit(1_000_000)).cast("long")
    q = ((scaled - scaled % den) / den).cast("long")
    return F.when(den == 0, F.lit(0).cast("long")).otherwise(q)


def repetition_stats(docs: DataFrame, id_col="doc_id", text_col="text") -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models" §A1.1 repetition filters, adapted to
    word/bigram granularity for single-line corpora):

    * ``dup_word_ppm`` — fraction (ppm) of word instances that are
      repeats of an earlier word: 1 − distinct/total;
    * ``top_bigram_ppm`` — fraction of bigram instances taken by the
      single most frequent bigram;
    * ``dup_bigram_ppm`` — fraction of bigram instances whose bigram
      occurs more than once.

    Scale shape: unigram stats are row-local array expressions (no
    shuffle); bigram counting explodes to (doc_id, gram) and aggregates
    twice — both shuffles are keyed by doc_id(+gram), uniform in
    document size, with map-side partial aggregation. The per-row
    alternative (counting the mode of an array with nested
    higher-order functions) is O(len²) per document and falls over on
    long documents; explode+groupBy is linear and spill-safe.

    All outputs are exact integers (counts / floored ppm) so the query
    is hash-gateable against an external SQL oracle.
    """
    toks = _tokens(text_col)
    n_words = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(toks)).cast("long")
    uni = docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.when(n_words == 0, F.lit(0))
        .otherwise(F.size(F.array_distinct(toks)))
        .cast("long")
        .alias("n_distinct_words"),
        toks.alias("__toks"),
    )
    bigrams = F.zip_with(
        F.slice(F.col("__toks"), 1, F.greatest(F.size("__toks") - 1, F.lit(0))),
        F.slice(F.col("__toks"), 2, F.greatest(F.size("__toks") - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    gram_counts = (
        uni.filter(F.col("n_words") >= 2)
        .select(F.col(id_col), F.explode(bigrams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("c"))
    )
    bg = gram_counts.groupBy(id_col).agg(
        F.sum("c").alias("n_bigrams"),
        F.max("c").alias("top_bigram_n"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias("dup_bg_n"),
    )
    return (
        uni.drop("__toks")
        .join(bg, id_col, "left")
        .select(
            id_col,
            "n_words",
            "n_distinct_words",
            _ppm(
                F.col("n_words") - F.col("n_distinct_words"), F.col("n_words")
            ).alias("dup_word_ppm"),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("top_bigram_n", F.lit(0)).cast("long").alias("top_bigram_n"),
            _ppm(
                F.coalesce("top_bigram_n", F.lit(0)),
                F.coalesce("n_bigrams", F.lit(0)),
            ).alias("top_bigram_ppm"),
            _ppm(
                F.coalesce("dup_bg_n", F.lit(0)),
                F.coalesce("n_bigrams", F.lit(0)),
            ).alias("dup_bigram_ppm"),
        )
    )


def length_quantiles(
    docs: DataFrame,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Exact nearest-rank token-length quantiles per group — corpus
    length-distribution reporting for curation cut-offs (truncation
    budgets, packing bin sizes).

    Scale shape: the raw rows collapse FIRST to a (group, n_tokens)
    value histogram — token counts are a small integer domain, so the
    histogram is tiny no matter how many documents feed it — and the
    quantile is read off the cumulative histogram with one window over
    that tiny table. Neither Spark's exact ``percentile`` (builds a
    per-group value map in aggregation-buffer memory) nor a per-group
    sort of 10^12 raw rows happens. Nearest-rank definition: quantile q
    = the smallest value whose cumulative count ≥ ceil(q·n) — integer
    ranks, no interpolation, so the result is bit-exact in any engine.

    Returns (group, n_docs, q50, q90, ... one column per requested q).
    """
    from pyspark.sql.window import Window

    toks = _tokens(text_col)
    n_tokens = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(toks))
    hist = docs.select(
        F.col(by).alias("grp"), n_tokens.cast("long").alias("v")
    ).groupBy("grp", "v").agg(F.count(F.lit(1)).alias("c"))
    w_cum = Window.partitionBy("grp").orderBy("v")
    w_all = Window.partitionBy("grp")
    cum = hist.select(
        "grp", "v", F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("tot"),
    )
    aggs = [F.max("tot").cast("long").alias("n_docs")] + [
        F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(float(q)) * F.col("tot")), F.col("v"))
        ).alias(f"q{int(round(q * 100))}")
        for q in qs
    ]
    return cum.groupBy(F.col("grp").alias(by)).agg(*aggs)


def bpe_pair_counts(docs: DataFrame, k: int = 20, text_col="text") -> DataFrame:
    """One BPE training round at corpus scale: the top-k most frequent
    adjacent character pairs → (pair, n), counted the way distributed
    BPE actually runs — corpus collapses to a word-frequency table
    FIRST (one groupBy, vocabulary-sized output), then pairs explode
    over the *vocabulary* weighted by word frequency. At 10^12 turns
    the pair explosion touches |vocab|·avg_len rows, not corpus tokens,
    which is the difference between a feasible merge step and an
    impossible one. Top-k via TakeOrderedAndProject (count desc, pair
    asc tie-break), never a global sort.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    words = docs.select(F.explode(_tokens(text_col)).alias("word")).filter(
        F.length("word") >= 2
    )
    wf = words.groupBy("word").agg(F.count("*").alias("c"))
    pairs = wf.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substr(word, i, 2))")
        ).alias("pair"),
        "c",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col="text",
    min_count: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """Full BPE tokenizer training (subword-nmt semantics) → the
    ordered merge table (step, pair, merged, n): per round, the most
    frequent adjacent symbol pair over the corpus (frequency desc, pair
    asc tie-break) is merged into one symbol everywhere, exactly as
    ``learn_bpe`` does — pair statistics count every adjacent position
    (overlaps included: [a,a,a] counts (a,a) twice) while the merge
    itself is greedy left-to-right non-overlapping ([a,a,a] → [aa, a]),
    matching subword-nmt's zero-width-boundary ``re.sub``. Words are
    restricted to ``[a-z0-9]+`` so char splitting and binary collation
    agree across engines.

    Scale shape: BPE training is a function of the word-FREQUENCY table
    only (vocabulary-sized — ~10^6–10^8 rows at web scale vs a 10^12-row
    corpus), so the corpus collapses to that table in ONE distributed
    aggregation (map-side partials), the table comes to the driver, and
    the rounds run there over an incrementally maintained pair index
    and a lazy max-heap (:func:`_fast_bpe_merges`). The Spark job count
    is independent of ``n_merges``: a production budget of 32k–100k
    merges is thousands of rounds, which a per-round Spark loop (about
    three scheduled jobs per merge — BENCH/bpe_batched.json) cannot
    run. The driver holds only the vocabulary, and ``min_count`` /
    ``max_words`` bound it (standard practice — HF trainers expose
    min_frequency); the truncation is deterministic (c desc, word asc),
    and both default to exact. The one regime a per-round Spark loop
    would win — a vocabulary too large for the driver at a tiny merge
    budget — has no caller; :func:`bpe_pair_counts` still gives the
    first round's statistics fully distributed.

    Reference parity: the reference (a parser framework) has no
    tokenizer training; target-side surface for the documents table.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    merges = _fast_bpe_merges(
        _collect_word_freq(docs, text_col, min_count, max_words), n_merges
    )
    return docs.sparkSession.createDataFrame(
        merges, "step int, pair string, merged string, n long"
    )


def bpe_segment(
    docs: DataFrame,
    n_merges: int = 8,
    text_col="text",
) -> DataFrame:
    """Corpus vocabulary segmented under ``n_merges`` trained BPE merges
    → (word, segmented, n_subwords, c): the apply side of
    :func:`bpe_train` — per distinct word, its subword decomposition
    (space-joined) and subword count, plus the word's corpus frequency.
    ``n_subwords/c``-weighted averages give tokenizer fertility, the
    metric that decides whether a merge budget is large enough for a
    corpus. The rows are the trainer's own final symbol state, so
    training and segmenting are one pass; segmenting NEW text is a
    broadcast join of its words against this table.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = _collect_word_freq(docs, text_col, 1, None)
    st = _PairStats(words)
    _bpe_rounds(st, n_merges)
    return docs.sparkSession.createDataFrame(
        [(w, " ".join(s), len(s), c) for (w, c), s in zip(words, st.syms)],
        "word string, segmented string, n_subwords int, c long",
    )


def _collect_word_freq(
    docs: DataFrame, text_col: str, min_count: int, max_words: int | None
) -> list[tuple[str, int]]:
    """The one distributed step of the trainers: corpus → word
    frequency table (one shuffle with map-side partials), bounded to
    the driver by ``min_count`` / ``max_words`` (deterministic
    (c desc, word asc) truncation so the bound never reorders merges
    among surviving words)."""
    wf = (
        docs.select(F.explode(_tokens(text_col)).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$") & (F.length("word") >= 2))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= min_count)
    )
    if max_words is not None:
        wf = wf.orderBy(F.desc("c"), F.asc("word")).limit(max_words)
    return [(r["word"], r["c"]) for r in wf.collect()]


class _PairStats:
    """Incrementally maintained adjacent-pair statistics over a
    segmented word-frequency table: pair → total count (ALL adjacent
    positions, overlapping included, × word frequency — identical to
    a recount of the whole vocabulary) and pair → ids of words
    containing it, plus per-symbol totals for WordPiece scoring.
    ``syms`` is the current segmentation of each word."""

    def __init__(self, words: list[tuple[str, int]]):
        self.freq = [c for _, c in words]
        self.syms: list[list[str]] = [list(w) for w, _ in words]
        self.pair_n: dict[tuple[str, str], int] = {}
        self.pair_words: dict[tuple[str, str], set[int]] = {}
        self.sym_n: dict[str, int] = {}
        for wid, s in enumerate(self.syms):
            c = self.freq[wid]
            for i in range(len(s) - 1):
                p = (s[i], s[i + 1])
                self.pair_n[p] = self.pair_n.get(p, 0) + c
                self.pair_words.setdefault(p, set()).add(wid)
            for sym in s:
                self.sym_n[sym] = self.sym_n.get(sym, 0) + c

    def merge(self, a: str, b: str) -> set[tuple[str, str]]:
        """Apply the (a, b) merge to every word containing the pair,
        updating pair/symbol counts incrementally — the left-to-right
        non-overlapping greedy scan, exactly the oracle's list_reduce fold.
        Returns the set of pairs whose counts changed (the heap
        refresh set)."""
        pair = (a, b)
        merged = a + b
        touched: set[tuple[str, str]] = set()
        for wid in list(self.pair_words.get(pair, ())):
            s = self.syms[wid]
            c = self.freq[wid]
            out: list[str] = []
            i = 0
            changed = False
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                    changed = True
                else:
                    out.append(s[i])
                    i += 1
            if not changed:
                continue
            for seq, sign in ((s, -1), (out, 1)):
                for i in range(len(seq) - 1):
                    p = (seq[i], seq[i + 1])
                    touched.add(p)
                    n = self.pair_n.get(p, 0) + sign * c
                    if n:
                        self.pair_n[p] = n
                    else:
                        self.pair_n.pop(p, None)
                    # membership pruned lazily: next merge re-checks
                    self.pair_words.setdefault(p, set()).add(wid)
                for sym in seq:
                    n = self.sym_n.get(sym, 0) + sign * c
                    if n:
                        self.sym_n[sym] = n
                    else:
                        self.sym_n.pop(sym, None)
            self.syms[wid] = out
        self.pair_words.pop(pair, None)
        touched.discard(pair)
        return touched


def _fast_bpe_merges(
    words: list[tuple[str, int]], n_merges: int
) -> list[tuple[int, str, str, int]]:
    """Driver-local BPE trainer over a word-frequency table → the merge
    table rows (step, pair, merged, n); pure Python, no Spark."""
    return _bpe_rounds(_PairStats(words), n_merges)


def _bpe_rounds(
    st: _PairStats, n_merges: int
) -> list[tuple[int, str, str, int]]:
    """BPE merge rounds over ``st`` (advanced in place): pair index +
    lazy max-heap, argmax (count desc, pair asc) — symbols are ASCII
    [a-z0-9] so the Python string heap order equals Spark's UTF8 binary
    ordering."""
    import heapq

    heap = [(-n, f"{a} {b}") for (a, b), n in st.pair_n.items()]
    heapq.heapify(heap)
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        best = None
        while heap:
            neg_n, pair_s = heapq.heappop(heap)
            a, b = pair_s.split(" ")
            if st.pair_n.get((a, b)) == -neg_n:  # stale entries skipped
                best = (a, b, -neg_n)
                break
        if best is None:  # every word fully merged to one symbol
            break
        a, b, n = best
        merges.append((step, f"{a} {b}", a + b, n))
        for p in st.merge(a, b):
            pn = st.pair_n.get(p)
            if pn is not None:
                heapq.heappush(heap, (-pn, f"{p[0]} {p[1]}"))
    return merges


def wordpiece_train(
    docs: DataFrame,
    n_merges: int = 8,
    text_col="text",
    precision: int = 10**12,
    min_count: int = 1,
    max_words: int | None = None,
) -> DataFrame:
    """WordPiece tokenizer training (Schuster & Nakajima, ICASSP'12; the
    likelihood-scored merge rule BERT's tokenizer was trained with) →
    the ordered merge table (step, pair, merged, score_q, n).

    Differs from :func:`bpe_train` only in the per-round argmax: BPE
    merges the most FREQUENT adjacent pair; WordPiece merges the pair
    maximizing the corpus-likelihood gain count(ab) /
    (count(a)·count(b)) — rare-but-strongly-associated pairs win over
    merely common ones. Pair counts and the greedy merge follow
    subword-nmt exactly as in :func:`bpe_train`. The score is quantized
    to ``score_q = ⌊count(ab)·precision / (count(a)·count(b))⌋`` in
    exact DECIMAL(38) arithmetic (ties below 1/precision break on pair
    ascending), which keeps every round's argmax bit-identical in any
    engine — the float division HuggingFace's trainer uses cannot be
    externally replayed. (HF also renders continuation pieces with a
    ``##`` prefix; that is tokenizer-output presentation, orthogonal to
    the merge order learned here.)

    Scale shape = :func:`bpe_train`'s: one distributed word-frequency
    collapse, then driver-local rounds (:func:`_fast_wordpiece_merges`),
    so the Spark job count is independent of ``n_merges``;
    ``min_count`` / ``max_words`` bound the driver's vocabulary the
    same way.
    """
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    if precision < 1:
        raise ValueError(f"precision must be >= 1, got {precision}")
    merges = _fast_wordpiece_merges(
        _collect_word_freq(docs, text_col, min_count, max_words),
        n_merges,
        precision,
    )
    return docs.sparkSession.createDataFrame(
        merges, "step int, pair string, merged string, score_q long, n long"
    )


def _fast_wordpiece_merges(
    words: list[tuple[str, int]], n_merges: int, precision: int
) -> list[tuple[int, str, str, int, int]]:
    """Driver-local WordPiece trainer over a word-frequency table → the
    merge table rows (step, pair, merged, score_q, n); pure Python, no
    Spark. The score depends on SYMBOL totals, which drift on every
    merge — so instead of a heap (whose entries would stale on
    symbol-count changes, not just pair-count changes) each round scans
    the pair table once. Python int floor-division replays the
    DECIMAL(38,0) DIV exactly (both are exact integer arithmetic on
    positives)."""
    st = _PairStats(words)
    merges: list[tuple[int, str, str, int, int]] = []
    for step in range(1, n_merges + 1):
        if not st.pair_n:  # every word fully merged to one symbol
            break
        neg_score, pair_s, n = min(
            (-((n * precision) // (st.sym_n[a] * st.sym_n[b])), f"{a} {b}", n)
            for (a, b), n in st.pair_n.items()
        )
        a, b = pair_s.split(" ")
        merges.append((step, pair_s, a + b, -neg_score, n))
        st.merge(a, b)
    return merges


def tfidf_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    scale: int = 10**6,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Exact-integer TF-IDF retrieval → the top-``k`` documents for
    ``query`` as (doc_id, score): score = Σ over matched query terms of
    tf(term, doc) · floor(scale / df(term)). Rarer terms dominate (the
    1/df rational weight preserves the idf ORDERING without a
    cross-engine-fragile log), integers make the ranking bit-identical
    in any engine, and ties break on doc_id so top-k is a deterministic
    SET.

    Scale shape: the token explode is FILTERED to the query's terms
    before any aggregation — the posting volume is per-query-term, not
    corpus-vocabulary; df is a query-terms-sized aggregate joined back
    by term (AQE broadcasts it); the final top-k is
    TakeOrderedAndProject (per-task heaps). This is a search, not an
    index build — see :func:`inverted_index` for the reusable index.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if scale < 1:
        raise ValueError(f"scale must be >= 1, got {scale}")
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("empty query")
    tok = docs.select(
        F.col(id_col), F.explode(_tokens(text_col)).alias("term")
    ).filter(F.col("term").isin(*terms))
    tf = tok.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf = df.select(
        "term",
        ((F.lit(scale) - F.lit(scale) % F.col("df")) / F.col("df"))
        .cast("long").alias("idf"),
    )
    scored = (
        tf.join(idf, "term")
        .groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("idf")).cast("long").alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def inverted_index(
    docs: DataFrame,
    cap: int = 16,
    min_df: int = 1,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Inverted-index build → (term, df, postings_csv): per vocabulary
    term, its exact document frequency and the ``cap`` smallest doc ids
    joined with ',' — the retrieval-index hand-off, same bounded-
    collect discipline as graph.adjacency_export (an uncapped posting
    list for a stopword is a 10^10-element row).

    One explode + distinct + per-term aggregation; ``min_df`` prunes
    hapaxes when the index is for lookup rather than analysis.
    """
    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    post = docs.select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode(_tokens(text_col)).alias("term"),
    ).distinct()
    out = post.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc")), 1, cap), ","
        ).alias("postings_csv"),
    )
    return out.filter(F.col("df") >= min_df)


def bm25_search(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1_tenths: int = 12,
    b_pct: int = 75,
    scale: int = 10**6,
    id_col="doc_id",
    text_col="text",
) -> DataFrame:
    """Exact-integer BM25 top-``k`` retrieval → (doc_id, score).

    Okapi BM25 with k1 = k1_tenths/10, b = b_pct/100, every term
    cleared of fractions so the ranking is bit-identical across
    engines (the reason floats are banned from oracle-gated scoring):

      idf(t)        = floor(scale·(2N − 2df + 1) / (2df + 1))
      contribution  = (idf · tf·(k1_tenths+10)·100·total)
                      DIV (tf·1000·total + k1_tenths·(100−b_pct)·total
                           + k1_tenths·b_pct·dl·N)

    where dl = doc token count, total = Σ dl (so dl/avgdl appears as
    dl·N/total, multiplied through). Integer DIV is used directly —
    the products exceed 2^53, so the float-safe (x − x%d)/d trick
    would lose bits. Overflow budget: |idf·num| < 2^63 needs
    scale·2N · tf·2200·total < 9.2e18 — at larger corpora drop
    ``scale`` (ranking is scale-invariant down to ~10^3).

    Plan shape: same as :func:`tfidf_search` — query-term-filtered
    explode, two tiny aggregates (df per term; N and total are ONE
    collected row), TakeOrderedAndProject top-k.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("empty query")
    toks = docs.select(F.col(id_col), F.explode(_tokens(text_col)).alias("term"))
    dl = toks.groupBy(id_col).agg(F.count("*").cast("long").alias("dl"))
    g = dl.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("dl").cast("long").alias("total"),
    ).first()
    n_docs, total = int(g["n"]), int(g["total"])
    tf = (
        toks.filter(F.col("term").isin(*terms))
        .groupBy(id_col, "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    idf = df.select(
        "term",
        F.expr(
            f"CAST({scale} AS BIGINT) * (2 * {n_docs} - 2 * df + 1) "
            f"DIV (2 * df + 1)"
        ).alias("idf"),
    )
    scored = (
        tf.join(idf, "term")
        .join(dl, id_col)
        .withColumn(
            "contrib",
            F.expr(
                f"(idf * (tf * {(k1_tenths + 10) * 100} * CAST({total} AS BIGINT))) "
                f"DIV (tf * 1000 * CAST({total} AS BIGINT) "
                f"+ {k1_tenths * (100 - b_pct)} * CAST({total} AS BIGINT) "
                f"+ {k1_tenths * b_pct} * dl * CAST({n_docs} AS BIGINT))"
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("contrib").cast("long").alias("score"))
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def rrf_fuse(
    ranked: list[DataFrame],
    k: int = 10,
    c: int = 60,
    scale: int = 10**6,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion of ranked retrieval lists →
    (doc_id, rrf_score, n_lists, best_rank): the standard way to merge
    a lexical (BM25) and a semantic (embedding top-k) ranking without
    comparable scores — only ranks cross the fusion boundary.

    Each input carries (id_col, rank) with rank 1-based. The classic
    RRF score Σ 1/(c + rank) is computed fraction-free as
    Σ floor(scale / (c + rank)) with integer DIV, so the fused ranking
    is bit-identical in any engine (same discipline as
    :func:`bm25_search`); c = 60 is the constant from the original RRF
    paper (Cormack/Clarke/Buettcher, SIGIR 2009). Ties break on doc_id
    ascending. ``n_lists`` (how many lists retrieved the doc) and
    ``best_rank`` come along for downstream filtering.

    Plan shape: the inputs are top-m lists — a few hundred rows each no
    matter the corpus size, because the expensive work (index scan,
    candidate generation) already happened upstream in the per-list
    retrieval operators. The fusion is a unionByName over tiny frames →
    one map-side-partial groupBy → TakeOrderedAndProject top-k; at
    10^12 documents the fusion cost is unchanged — it scales with m·L
    (list length × list count), not with the corpus.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    parts = [
        r.select(F.col(id_col), F.col("rank").cast("long").alias("rank"))
        for r in ranked
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy(id_col).agg(
        F.sum(F.expr(f"CAST({scale} AS BIGINT) DIV ({c} + rank)"))
        .cast("long")
        .alias("rrf_score"),
        F.count("*").cast("int").alias("n_lists"),
        F.min("rank").cast("int").alias("best_rank"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)


def unigram_vocab(
    docs: DataFrame,
    n_pieces: int = 256,
    max_piece_len: int = 4,
    text_col="text",
) -> DataFrame:
    """Substring piece inventory for unigram segmentation → (piece, cnt):
    every contiguous substring of length 1..``max_piece_len`` of every
    corpus word, weighted by the word's corpus frequency — ALL single
    characters (the coverage guarantee SentencePiece keeps so every
    word stays segmentable) plus the top ``n_pieces`` multi-character
    substrings by (cnt desc, piece asc).

    This is the seed-inventory step of unigram-LM tokenizer training
    (Kudo 2018, arXiv:1804.10959 §3.2 seeds from frequent substrings);
    :func:`unigram_segment` is the Viterbi step over it.

    Scale shape: the corpus collapses to the word-frequency table once
    (the only corpus-sized shuffle, shared with bpe_train); substring
    expansion then runs over the VOCABULARY (≤ max_piece_len rows per
    word-char), one map-side-partial groupBy, and the top-N is a
    TakeOrderedAndProject — never a global sort.
    """
    if max_piece_len < 1:
        raise ValueError(f"max_piece_len must be >= 1, got {max_piece_len}")
    if n_pieces < 0:
        raise ValueError(f"n_pieces must be >= 0, got {n_pieces}")
    wf = (
        docs.select(F.explode(_tokens(text_col)).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    def _substrs(plen: int):
        # single-parameter lambda: a 2-arg lambda would be bound by
        # F.transform as (element, index) and silently shadow plen
        return lambda i: F.col("word").substr(i, F.lit(plen))

    parts = []
    for plen in range(1, max_piece_len + 1):
        parts.append(
            wf.filter(F.length("word") >= plen).select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.length("word") - plen + 1),
                        _substrs(plen),
                    )
                ).alias("piece"),
                "c",
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    agg = allp.groupBy("piece").agg(F.sum("c").cast("long").alias("cnt"))
    chars = agg.filter(F.length("piece") == 1)
    multi = (
        agg.filter(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(n_pieces)
    )
    return chars.unionByName(multi)


def unigram_segment(
    docs: DataFrame,
    n_pieces: int = 256,
    max_piece_len: int = 4,
    text_col="text",
    max_word_len: int | None = None,
) -> DataFrame:
    """SentencePiece-style Viterbi subword segmentation over the
    :func:`unigram_vocab` inventory → (word, segmented, n_pieces,
    piece_cnt_sum, c) per distinct corpus word.

    Objective (exact-integer stand-in for unigram-LM likelihood):
    lexicographically minimize (number of pieces, -Σ piece corpus
    count, segmented string). True unigram-LM maximizes Π p(piece) —
    a transcendental-log sum whose float rounding ties break
    differently per engine; under the per-word DP lattice this
    objective is the same Viterbi recurrence with an exactly-orderable
    cost, so the result is bit-identical at any parallelism and
    replayable by an external SQL oracle (the stance of bpe_train /
    wordpiece_train). Fewest-pieces-first IS the dominant term of the
    likelihood whenever pieces have comparable probability mass, and
    the frequency sum arbitrates within equal piece counts.

    The lexicographic string tie-break composes under the DP because
    two segmentations of the same prefix spell the same characters —
    their first difference is always a space-vs-letter position, which
    appending a common suffix never moves.

    Scale shape: vocabulary-sized, not corpus-sized — the DP runs once
    per DISTINCT word via mapInPandas (O(len·max_piece_len) per word)
    with the piece table shipped in the task closure (bounded by
    ``n_pieces`` + alphabet, the same driver-side dictionary pattern as
    operators/link.py); re-tokenizing the corpus is then a broadcast
    join of this table. ``max_word_len`` optionally bounds the lattice
    (gate queries use it so the SQL oracle's unrolled DP stays small).
    """
    vocab = unigram_vocab(docs, n_pieces, max_piece_len, text_col)
    pieces = {r["piece"]: r["cnt"] for r in vocab.collect()}
    wf = (
        docs.select(F.explode(_tokens(text_col)).alias("word"))
        .filter(F.col("word").rlike("^[a-z0-9]+$"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    if max_word_len is not None:
        wf = wf.filter(F.length("word") <= max_word_len)
    K = max_piece_len

    def seg_iter(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for word, c in zip(pdf["word"], pdf["c"]):
                dp = [None] * (len(word) + 1)
                dp[0] = (0, 0, "")
                for j in range(1, len(word) + 1):
                    best = None
                    for plen in range(1, min(K, j) + 1):
                        cnt = pieces.get(word[j - plen:j])
                        prev = dp[j - plen]
                        if cnt is None or prev is None:
                            continue
                        piece = word[j - plen:j]
                        cand = (
                            prev[0] + 1,
                            prev[1] - cnt,
                            (prev[2] + " " + piece) if prev[2] else piece,
                        )
                        if best is None or cand < best:
                            best = cand
                    dp[j] = best
                fin = dp[len(word)]
                if fin is None:  # unreachable for corpus words (all
                    rows.append((word, None, None, None, int(c)))  # chars
                else:           # are in the inventory) — kept for safety
                    rows.append((word, fin[2], fin[0], -fin[1], int(c)))
            yield pd.DataFrame(
                rows,
                columns=["word", "segmented", "n_pieces",
                         "piece_cnt_sum", "c"],
            )

    return wf.mapInPandas(
        seg_iter,
        "word string, segmented string, n_pieces int, "
        "piece_cnt_sum long, c long",
    )


def textrank_segments(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
    max_chunks: int = 12,
    threshold_pm: int = 100,
    rounds: int = 2,
    top_k: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Key-passage extraction per document (TextRank, Mihalcea &
    Tarau 2004, over fixed ``chunk_words``-word segments) →
    (doc_id, sid, score_micro, segment): each document's first
    ``max_chunks`` segments form a tiny similarity graph (edge when
    word-set Jaccard ≥ ``threshold_pm`` per-mille), integer-exact
    PageRank runs ``rounds`` iterations over ALL documents' graphs in
    one batched plan, and the ``top_k`` highest-scoring segments per
    document survive — the central-passage signal summarization-style
    curation uses to pick what a document is about.

    All arithmetic is fixed-point (d = 85/100 damping, floor
    division): ``r' = 15·scale div 100 + 85·Σ(r_j div deg_j) div
    100`` — bit-identical at any parallelism and exactly replayable.
    Isolated segments keep the base (1-d) mass.

    Shape: this is the batched-tiny-graphs pattern — every join and
    aggregation keys on (doc_id[, sid]), so per-document work is
    bounded by ``max_chunks``² ≈ 150 pair rows regardless of corpus
    size, the key space is uniform (no cross-document edges exist by
    construction), and rounds add join depth, not row volume. The
    final selection window partitions by doc_id over ≤ max_chunks
    rows. A 10^12-document corpus is 10^12 independent 150-row
    problems in one plan.
    """
    if rounds < 1 or top_k < 1 or chunk_words < 1 or max_chunks < 1:
        raise ValueError("rounds/top_k/chunk_words/max_chunks must be >= 1")
    words = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"),
        lambda x: x != "",
    )
    n_chunks = F.least(
        F.expr(f"(size(_w) + {chunk_words - 1}) div {chunk_words}"),
        F.lit(max_chunks),
    )
    segs = (
        docs.select(F.col(id_col).alias("doc_id"), words.alias("_w"))
        .filter(F.size("_w") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_chunks - 1),
                    lambda i: F.array_join(
                        F.slice(
                            F.col("_w"),
                            i * chunk_words + 1,
                            chunk_words,
                        ),
                        " ",
                    ),
                )
            ).alias("sid", "segment"),
        )
        .localCheckpoint(eager=False)
    )
    ws = segs.select(
        "doc_id", "sid",
        F.array_distinct(F.split("segment", " ")).alias("ws"),
    )
    a = ws.select("doc_id", F.col("sid").alias("i"), F.col("ws").alias("wi"))
    b = ws.select("doc_id", F.col("sid").alias("j"), F.col("ws").alias("wj"))
    edges = (
        a.join(b, "doc_id")
        .filter(F.col("i") != F.col("j"))
        .select(
            "doc_id", "i", "j",
            F.expr("(1000 * size(array_intersect(wi, wj)))"
                   " div greatest(size(array_union(wi, wj)), 1)")
            .alias("jac_pm"),
        )
        .filter(F.col("jac_pm") >= threshold_pm)
        .select("doc_id", "i", "j")
        .localCheckpoint(eager=False)
    )
    deg = edges.groupBy("doc_id", F.col("i").alias("j")).agg(
        F.count("*").alias("deg")
    )
    nodes = ws.select("doc_id", "sid")
    r = nodes.select(
        "doc_id", "sid", F.lit(scale).cast("long").alias("r")
    )
    base = (15 * scale) // 100

    def _rank(r, _round):
        flow = (
            edges.join(
                r.select(
                    "doc_id", F.col("sid").alias("j"), F.col("r").alias("rj")
                ),
                ["doc_id", "j"],
            )
            .join(deg, ["doc_id", "j"])
            .select(
                "doc_id", F.col("i").alias("sid"),
                F.expr("rj div deg").alias("f"),
            )
            .groupBy("doc_id", "sid")
            .agg(F.sum("f").alias("inflow"))
        )
        return nodes.join(flow, ["doc_id", "sid"], "left").select(
            "doc_id", "sid",
            (F.lit(base) + F.expr("(85 * coalesce(inflow, 0)) div 100"))
            .cast("long")
            .alias("r"),
        )

    r = iterate(_rank, r, rounds)[0]
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("r").desc(), F.col("sid").asc()
    )
    return (
        r.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= top_k)
        .join(segs, ["doc_id", "sid"])
        .select(
            "doc_id",
            "sid",
            F.col("r").alias("score_micro"),
            "segment",
        )
    )


def normalize_text(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode normalization pass → (doc_id, text_norm, changed,
    n_chars_raw, n_chars_norm): NFC composition, C0 control stripping
    (tab and newline survive), and horizontal-whitespace collapse with
    outer trim — the canonical first stage of a pretraining text
    pipeline, where un-normalized combining sequences defeat exact
    dedup and token counts.

    NFC has no Catalyst expression, so this is one ``mapInArrow``
    batch pass (the same documented Python seam as the parser
    kernels); the regex passes use classes with identical semantics in
    Python ``re`` and the oracle's RE2. Shape: a narrow 1→1 projection
    — no shuffle, no driver involvement; peak memory one Arrow batch.
    """
    import re as _re
    import unicodedata
    from collections.abc import Iterator

    import pyarrow as pa
    from pyspark.sql.types import (
        BooleanType, IntegerType, LongType, StringType, StructField,
        StructType,
    )

    src = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(text_col).cast("string").alias("text"),
    )
    out_schema = StructType([
        StructField("doc_id", LongType(), False),
        StructField("text_norm", StringType(), True),
        StructField("changed", BooleanType(), True),
        StructField("n_chars_raw", IntegerType(), True),
        StructField("n_chars_norm", IntegerType(), True),
    ])
    arrow_schema = pa.schema([
        ("doc_id", pa.int64()),
        ("text_norm", pa.string()),
        ("changed", pa.bool_()),
        ("n_chars_raw", pa.int32()),
        ("n_chars_norm", pa.int32()),
    ])
    ctrl = _re.compile("[\x00-\x08\x0b-\x1f\x7f]")
    hspace = _re.compile("[ \t]+")

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            ids = rb.column(0).to_pylist()
            texts = rb.column(1).to_pylist()
            norms, chg, nr, nn = [], [], [], []
            for t in texts:
                if t is None:
                    norms.append(None)
                    chg.append(None)
                    nr.append(None)
                    nn.append(None)
                    continue
                s = unicodedata.normalize("NFC", t)
                s = ctrl.sub("", s)
                s = hspace.sub(" ", s).strip()
                norms.append(s)
                chg.append(s != t)
                nr.append(len(t))
                nn.append(len(s))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.int64()),
                    pa.array(norms, pa.string()),
                    pa.array(chg, pa.bool_()),
                    pa.array(nr, pa.int32()),
                    pa.array(nn, pa.int32()),
                ],
                schema=arrow_schema,
            )

    return src.mapInArrow(run, schema=out_schema)


def lang_segments(
    docs: DataFrame, id_col="doc_id", text_col="text", sep: str = "\n"
) -> DataFrame:
    """Per-segment language runs — the multilingual-document splitter:
    a crawl document interleaving English boilerplate with German body
    text should contribute only its German runs to a German corpus, so
    the per-DOCUMENT language verdict (:func:`lang_id_ngram`) is the
    wrong granularity. Segments (default: lines) are scored with the
    same trigram heuristic, then consecutive same-language segments
    collapse into runs via gaps-and-islands run-length encoding.

    → (doc_id, run_idx, lang, seg_start, seg_end, n_segs): one row per
    maximal same-language run, 0-based segment offsets, ``run_idx``
    ordinal within the document.

    Scale shape: the split/explode is narrow (rows grow by the segment
    factor, no shuffle); scoring stays the constant-folded trigram-map
    lookup of lang_id_ngram; the only exchange is the per-document
    window every turn-ordering query already pays, and the rollup
    reuses its partitioning. Blank segments are dropped BEFORE the
    window (filter-then-lag discipline), so boilerplate blank-line
    padding never splits a run.
    """
    from pyspark.sql.window import Window

    segs = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("seg_idx", "text"),
    ).filter(F.trim(F.col("text")) != "")
    scored = lang_id_ngram(segs, id_col=id_col, keep=("seg_idx",))
    w = Window.partitionBy(id_col).orderBy("seg_idx")
    chg = (
        F.when(
            F.lag("lang_pred").over(w).isNull()
            | (F.lag("lang_pred").over(w) != F.col("lang_pred")),
            1,
        )
        .otherwise(0)
        .alias("_chg")
    )
    runs = scored.select(id_col, "seg_idx", "lang_pred", chg).withColumn(
        "_grp", F.sum("_chg").over(w)
    )
    return (
        runs.groupBy(id_col, "_grp", "lang_pred")
        .agg(
            F.min("seg_idx").cast("int").alias("seg_start"),
            F.max("seg_idx").cast("int").alias("seg_end"),
            F.count("*").cast("int").alias("n_segs"),
        )
        .select(
            id_col,
            (F.col("_grp") - 1).cast("int").alias("run_idx"),
            F.col("lang_pred").alias("lang"),
            "seg_start",
            "seg_end",
            "n_segs",
        )
    )


_BLOCK_SPLIT = (
    r"(?i)</?(?:p|div|br|h[1-6]|li|ul|ol|table|tr|td|section|article|"
    r"header|footer|nav|blockquote)[^>]*>"
)
_ANCHOR = r"(?is)<a[^>]*>(.*?)</a>"


def _html_norm(col):
    """Strip tags, unescape the common entities, collapse whitespace —
    the exact chain the DuckDB oracle replays (amp LAST, standard
    single-pass unescape order)."""
    c = F.regexp_replace(col, r"<[^>]+>", " ")
    for ent, rep in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", '"'), ("&#39;", "'"), ("&amp;", "&")):
        c = F.replace(c, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def html_main_blocks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 25,
    max_link_pm: int = 330,
) -> DataFrame:
    """Main-content extraction from raw HTML — the jusText/trafilatura-
    style boilerplate separator a crawl-curation pipeline runs before
    any quality scoring: split the document into blocks at block-level
    tags, measure each block's normalized text length and anchor-text
    link density, and keep long low-link-density blocks (navigation,
    footers, and tag clouds are short and link-dense; body prose is
    long and link-sparse).

    → (doc_id, block_idx, block_text, text_len, link_pm, kept): one row
    per non-empty block with the integer-permil link density and the
    keep verdict at (``min_len``, ``max_link_pm``); callers concatenate
    ``kept`` blocks for the cleaned document.

    Scale shape: one narrow split/posexplode (no shuffle — row count
    grows by the block factor only), every measurement a JVM regex/
    string expression; anchors that span a block boundary are simply
    not counted (the split truncates them identically in the oracle
    replay, so parity holds; the heuristic tolerates it).
    """
    segs = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), _BLOCK_SPLIT)).alias(
            "block_idx", "_raw"
        ),
    )
    anchors = F.expr(f"regexp_extract_all(_raw, '{_ANCHOR}', 1)")
    link_len = F.aggregate(
        F.transform(anchors, lambda x: F.length(_html_norm(x))),
        F.lit(0),
        lambda a, x: a + x,
    )
    x = segs.select(
        id_col,
        "block_idx",
        _html_norm(F.col("_raw")).alias("block_text"),
        link_len.alias("_link_len"),
    ).filter(F.length("block_text") > 0)
    return x.selectExpr(
        id_col,
        "CAST(block_idx AS INT) AS block_idx",
        "block_text",
        "CAST(length(block_text) AS INT) AS text_len",
        "CAST(1000 * _link_len div greatest(length(block_text), 1) "
        "AS BIGINT) AS link_pm",
        f"length(block_text) >= {int(min_len)} AND "
        f"1000 * _link_len div greatest(length(block_text), 1) "
        f"<= {int(max_link_pm)} AS kept",
    )
