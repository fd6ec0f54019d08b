"""Curation operators: PII redaction, deterministic splits, sequence
packing, benchmark contamination (operators/curation.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from semargl_spark.operators import curation


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_pii_redact_scrubs_and_counts(spark):
    docs = _df(
        spark,
        [
            (1, "mail bob.smith+x@sub.example.org and alice@ex.io now"),
            (2, "call +1-555-0199 or +44-202-9000 thanks"),
            (3, "hosts 10.0.0.1 and 192.168.254.3 up"),
            (4, "clean text no pii at all"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.pii_redact(docs).collect()}
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (2, 0, 0)
    assert out[1]["clean_text"] == "mail <EMAIL> and <EMAIL> now"
    assert out[2]["n_phones"] == 2
    assert out[2]["clean_text"] == "call <PHONE> or <PHONE> thanks"
    assert out[3]["n_ips"] == 2
    assert out[3]["clean_text"] == "hosts <IP> and <IP> up"
    assert out[4]["clean_text"] == "clean text no pii at all"
    assert out[5]["clean_text"] == ""


def test_pii_redact_phone_not_eaten_by_ip_pass(spark):
    # "+1-555-0123" must become <PHONE>, never a partial <IP> chew
    docs = _df(spark, [(1, "x +1-555-0123 y")], "doc_id long, text string")
    row = curation.pii_redact(docs).collect()[0]
    assert row["clean_text"] == "x <PHONE> y"
    assert (row["n_phones"], row["n_ips"]) == (1, 0)


def test_pii_redact_counts_match_replacements(spark):
    # a phone-shaped token inside an email local part is consumed by the
    # <EMAIL> pass, so it must NOT increment n_phones (r3 advice): counts
    # are taken on the progressively cleaned text
    docs = _df(
        spark,
        [(1, "mail foo+1-555-0001@x.com now"),
         (2, "ip-shaped mail 10.0.0.1@odd.example stays 10.0.0.2")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.pii_redact(docs).collect()}
    assert out[1]["clean_text"] == "mail <EMAIL> now"
    assert (out[1]["n_emails"], out[1]["n_phones"], out[1]["n_ips"]) == (1, 0, 0)
    assert out[2]["clean_text"] == "ip-shaped mail <EMAIL> stays <IP>"
    assert (out[2]["n_emails"], out[2]["n_ips"]) == (1, 1)


def test_split_assign_deterministic_and_partition_invariant(spark):
    docs = spark.range(2000).withColumnRenamed("id", "doc_id")
    a = {r["doc_id"]: r["split"] for r in curation.split_assign(docs).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in curation.split_assign(docs.repartition(13)).collect()
    }
    assert a == b  # membership survives any repartitioning
    counts = {}
    for s in a.values():
        counts[s] = counts.get(s, 0) + 1
    # md5 buckets ≈ uniform: 90/5/5 within a loose tolerance at n=2000
    assert 0.85 * 2000 <= counts["train"] <= 0.95 * 2000
    assert counts["val"] + counts["test"] == 2000 - counts["train"]
    assert min(counts.get("val", 0), counts.get("test", 0)) > 0


def test_split_assign_rejects_bad_weights(spark):
    docs = spark.range(3).withColumnRenamed("id", "doc_id")
    try:
        curation.split_assign(docs, weights=(("a", 50), ("b", 40)))
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


def test_pack_sequences_prefix_sum_invariants(spark):
    docs = _df(
        spark,
        [(i, " ".join(["w"] * (10 * (i % 7 + 1)))) for i in range(64)],
        "doc_id long, text string",
    )
    rows = curation.pack_sequences(docs, capacity=100, n_shards=4).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == {0, 1, 2, 3}
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: r["doc_id"])
        prev = 0
        for r in rs:
            assert r["shard"] == r["doc_id"] % 4
            assert r["bin_id"] == prev // 100
            assert r["offset_in_bin"] == prev % 100
            prev += r["n_tokens"]
        # bins are contiguous: every bin id up to the last appears
        bins = sorted({r["bin_id"] for r in rs})
        assert bins == list(range(bins[-1] + 1))


def test_contamination_flags_exact_and_partial_overlap(spark):
    bench = _df(
        spark, [(100, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    docs = _df(
        spark,
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # both 5-grams hit
            (2, "x alpha beta gamma delta epsilon y"),  # inner 5-gram hits
            (3, "zeta epsilon delta gamma beta alpha"),  # reversed: no hit
            (4, "too short"),  # < 5 words
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.contamination(docs, bench).collect()}
    assert out[1]["n_overlap"] == 2 and out[1]["contaminated"]
    assert out[2]["n_overlap"] == 1 and out[2]["contaminated"]
    assert out[3]["n_overlap"] == 0 and not out[3]["contaminated"]
    assert out[4]["n_overlap"] == 0 and not out[4]["contaminated"]


def test_contamination_counts_distinct_grams_once(spark):
    # the same 5-gram repeated in a document counts once (array_distinct)
    bench = _df(spark, [(9, "a b c d e")], "doc_id long, text string")
    docs = _df(spark, [(1, "a b c d e a b c d e")], "doc_id long, text string")
    row = curation.contamination(docs, bench).collect()[0]
    assert row["n_overlap"] == 1


def test_contamination_uses_broadcast_join(spark):
    bench = _df(spark, [(9, "a b c d e")], "doc_id long, text string")
    docs = _df(spark, [(1, "a b c d e f g")], "doc_id long, text string")
    plan = (
        curation.contamination(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan


# --------------------------- corpus_mix / quota_resample / quality_topk


_EN = "the cat and the dog ran to the house for it is that warm in there"
_DE = "der hund und die katze das ist nicht ein problem mit zu viel"
_MIX_ROWS = [(i, _EN if i % 2 else _DE) for i in range(40)]


def test_corpus_mix_totals_cover_the_corpus(spark):
    docs = _df(spark, _MIX_ROWS, "doc_id long, text string")
    rows = curation.corpus_mix(docs).collect()
    assert sum(r["n_docs"] for r in rows) == 40
    assert {r["lang"] for r in rows} <= {"en", "de"}
    # token totals are exact whitespace-token sums per group
    en_docs = sum(r["n_docs"] for r in rows if r["lang"] == "en")
    en_toks = sum(r["total_tokens"] for r in rows if r["lang"] == "en")
    assert en_toks == en_docs * len(_EN.split())
    # splits come from the same md5 buckets as split_assign
    split_of = {
        r["doc_id"]: r["split"]
        for r in curation.split_assign(docs).collect()
    }
    for r in rows:
        n = sum(
            1
            for i, txt in _MIX_ROWS
            if split_of[i] == r["split"]
            and (txt is _EN) == (r["lang"] == "en")
        )
        assert n == r["n_docs"]


def test_quota_resample_is_deterministic_and_rate_bounded(spark):
    docs = _df(spark, _MIX_ROWS, "doc_id long, text string")
    kept1 = {r["doc_id"] for r in curation.quota_resample(docs).collect()}
    kept2 = {
        r["doc_id"]
        for r in curation.quota_resample(docs.repartition(7)).collect()
    }
    assert kept1 == kept2  # partitioning-invariant
    # rate=100 keeps everything, rate=0 drops the language entirely
    all_kept = curation.quota_resample(
        docs, rates={"en": 100, "de": 100, "und": 100}
    ).count()
    assert all_kept == 40
    none_en = curation.quota_resample(
        docs, rates={"en": 0, "de": 100, "und": 100}
    ).collect()
    assert all(r["lang"] != "en" for r in none_en)


def test_quota_resample_coin_independent_of_split_coin(spark):
    docs = _df(spark, _MIX_ROWS, "doc_id long, text string")
    sample = {
        r["doc_id"]: r["sample_bucket"]
        for r in curation.quota_resample(
            docs, rates={"en": 100, "de": 100, "und": 100}
        ).collect()
    }
    split = {
        r["doc_id"]: r["split_bucket"]
        for r in curation.split_assign(docs).collect()
    }
    assert any(sample[i] != split[i] for i in sample)  # salted → different


def test_quality_topk_matches_naive_window(spark):
    import random

    rng = random.Random(7)
    words = _EN.split() + _DE.split()
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(3, 40))))
        for i in range(120)
    ]
    docs = _df(spark, rows, "doc_id long, text string")
    got = {
        (r["lang"], r["rank"]): (r["doc_id"], r["quality"])
        for r in curation.quality_topk(docs, k=4, n_salts=8).collect()
    }
    # naive single-window reference
    from pyspark.sql.window import Window

    from semargl_spark.operators.text import lang_pred_col, quality_col

    staged = docs.select(
        "doc_id",
        lang_pred_col("text").alias("lang"),
        quality_col("text").alias("quality"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("quality"), F.asc("doc_id")
    )
    want = {
        (r["lang"], r["rank"]): (r["doc_id"], r["quality"])
        for r in staged.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 4)
        .collect()
    }
    assert got == want


def test_quality_topk_partitioning_invariant(spark):
    docs = _df(spark, _MIX_ROWS, "doc_id long, text string")
    a = sorted(map(tuple, curation.quality_topk(docs, k=3).collect()))
    b = sorted(
        map(tuple, curation.quality_topk(docs.repartition(13), k=3).collect())
    )
    assert a == b


def test_global_shuffle_is_a_permutation_matching_naive_order(spark):
    docs = _df(spark, [(i, "x") for i in range(200)], "doc_id long, text string")
    out = {r["doc_id"]: r["pos"] for r in curation.global_shuffle(docs).collect()}
    assert sorted(out.values()) == list(range(200))  # exact permutation
    # matches the naive single-window global order
    naive = {
        r["doc_id"]: r["pos"]
        for r in docs.selectExpr(
            "doc_id",
            "cast(row_number() over (order by md5(concat('gs:', cast(doc_id as string))), doc_id) - 1 as long) pos",
        ).collect()
    }
    assert out == naive
    # and it is partitioning-invariant
    again = {
        r["doc_id"]: r["pos"]
        for r in curation.global_shuffle(docs.repartition(11)).collect()
    }
    assert again == out


def test_global_shuffle_rejects_non_divisor_blocks(spark):
    import pytest

    docs = _df(spark, [(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        curation.global_shuffle(docs, n_blocks=100)


def test_top_terms_ranks_rare_terms_first(spark):
    # 'rare' appears in one doc (df=1), 'common' in all three (df=3):
    # within doc 0, tf/df favors rare (1/1) over common (2/3)
    docs = _df(
        spark,
        [
            (0, "common rare common"),
            (1, "common zz"),
            (2, "common yy yy"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r["doc_id"], r["rnk"]): (r["term"], r["tf"], r["df"])
        for r in curation.top_terms(docs, k=2).collect()
    }
    assert out[(0, 1)] == ("rare", 1, 1)
    assert out[(0, 2)] == ("common", 2, 3)
    assert out[(2, 1)] == ("yy", 2, 1)


def test_top_terms_tie_breaks_on_term(spark):
    docs = _df(spark, [(0, "b a")], "doc_id long, text string")
    out = [r["term"] for r in
           curation.top_terms(docs, k=2).orderBy("rnk").collect()]
    assert out == ["a", "b"]  # identical tf/df → lexicographic


def test_top_ngrams_counts_and_rank(spark):
    docs = _df(
        spark,
        [(0, "x y z x y z"), (1, "x y z w"), (2, "a b")],  # doc 2: no trigram
        "doc_id long, text string",
    )
    out = [(r["ngram"], r["n_count"], r["rnk"])
           for r in curation.top_ngrams(docs, n=3, k=3).orderBy("rnk").collect()]
    assert out[0] == ("x y z", 3, 1)
    assert len(out) == 3 and [r[2] for r in out] == [1, 2, 3]


# --- C4-style rule filter ----------------------------------------------

def _fifty_words():
    # 50 words, no token above 80 permille (each of 10 words appears 5x
    # = 100 permille... make it varied: 50 distinct words)
    return " ".join(f"word{i:02d}" for i in range(50))


def test_c4_filter_keeps_clean_long_doc(spark):
    docs = _df(spark, [(1, _fifty_words())], "doc_id long, text string")
    r = curation.c4_rule_filter(docs).collect()[0]
    assert r["n_words"] == 50
    assert r["top_token_permille"] == 20  # 1*1000//50
    assert r["keep"] is True


def test_c4_filter_rejects_each_rule(spark):
    long_word = "x" * 21
    repetitive = " ".join(["spam"] * 30 + [f"w{i}" for i in range(30)])
    docs = _df(
        spark,
        [
            (1, "too short"),                          # min_words
            (2, _fifty_words() + " {code}"),           # brace
            (3, _fifty_words() + " lorem ipsum"),      # blocklist
            (4, _fifty_words() + " " + long_word),     # max_word_len
            (5, repetitive),                           # 30/60 = 500 permille
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.c4_rule_filter(docs).collect()}
    assert all(out[i]["keep"] is False for i in (1, 2, 3, 4, 5))
    assert out[2]["has_brace"] and not out[1]["has_brace"]
    assert out[3]["has_blocked"]
    assert out[4]["max_word_len"] == 21
    assert out[5]["top_token_permille"] == 500


def test_c4_filter_terminal_line_census(spark):
    docs = _df(
        spark,
        [(1, 'first line.\nsecond line\nthird line?\nfourth "quote"')],
        "doc_id long, text string",
    )
    r = curation.c4_rule_filter(docs).collect()[0]
    assert r["n_lines"] == 4
    assert r["n_terminal_lines"] == 3  # ., ?, and closing quote


# --- bigram LM fluency (operators/lm.py) -------------------------------

def test_bigram_lm_score_hand_computed(spark):
    from semargl_spark.operators.lm import bigram_lm_score

    # corpus: "a b a b" and "a b c"; V=3
    # c2: (a,b)=3 (b,a)=1 (b,c)=1 ; c1: a=3, b=2
    # q(a,b) = 10^6*4 // (3+3) = 666666 ; q(b,a) = 10^6*2 // (2+3) = 400000
    # q(b,c) = 10^6*2 // (2+3) = 400000
    docs = _df(spark, [(1, "a b a b"), (2, "a b c")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    # doc1: bigrams (a,b)x2,(b,a)x1 → (666666*2+400000)//3 = 577777
    assert (out[1]["n_bigrams"], out[1]["score_micro"]) == (3, 577777)
    # doc2: (a,b),(b,c) → (666666+400000)//2 = 533333
    assert (out[2]["n_bigrams"], out[2]["score_micro"]) == (2, 533333)


def test_bigram_lm_score_short_docs_null(spark):
    from semargl_spark.operators.lm import bigram_lm_score

    docs = _df(spark, [(1, "solo"), (2, "a a")], "doc_id long, text string")
    out = {r["doc_id"]: r for r in bigram_lm_score(docs).collect()}
    assert (out[1]["n_bigrams"], out[1]["score_micro"]) == (0, None)
    assert out[2]["n_bigrams"] == 2 - 1


def test_bigram_lm_score_partitioning_invariant(spark):
    from semargl_spark.operators.lm import bigram_lm_score

    rows = [(i, f"w{i % 7} w{(i + 1) % 5} w{i % 3} w{(i + 2) % 7}") for i in range(60)]
    docs = _df(spark, rows, "doc_id long, text string")
    a = sorted(map(tuple, bigram_lm_score(docs.repartition(1)).collect()))
    b = sorted(map(tuple, bigram_lm_score(docs.repartition(13)).collect()))
    assert a == b  # fixed-point integers: bit-identical at any parallelism


def test_preference_pairs_argmax_argmin_and_margins(spark):
    from semargl_spark.operators.curation import preference_pairs

    df = spark.createDataFrame(
        [
            ("p1", 1, 0.9), ("p1", 2, 0.2), ("p1", 3, 0.5),
            ("p2", 4, 0.4), ("p2", 5, 0.4),   # tie: ids break it
            ("p3", 6, 0.7),                   # singleton: dropped
        ],
        "prompt_id string, doc_id int, score double",
    )
    out = {r["prompt_id"]: r for r in
           preference_pairs(df, "prompt_id", "score").collect()}
    assert set(out) == {"p1", "p2"}
    assert (out["p1"]["chosen_id"], out["p1"]["rejected_id"]) == (1, 2)
    assert abs(out["p1"]["margin"] - 0.7) < 1e-9
    # tie: chosen = max id, rejected = min id, margin 0 kept by default
    assert (out["p2"]["chosen_id"], out["p2"]["rejected_id"]) == (5, 4)
    assert out["p2"]["margin"] == 0.0


def test_preference_pairs_min_margin_filters(spark):
    from semargl_spark.operators.curation import preference_pairs

    df = spark.createDataFrame(
        [("p1", 1, 0.6), ("p1", 2, 0.5), ("p2", 3, 0.9), ("p2", 4, 0.1)],
        "prompt_id string, doc_id int, score double",
    )
    out = preference_pairs(df, "prompt_id", "score", min_margin=0.5).collect()
    assert [r["prompt_id"] for r in out] == ["p2"]


def test_context_windows_shapes_and_last_short_window(spark):
    from semargl_spark.operators.curation import context_windows

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),   # n=5, width 3 stride 2 → starts 0,2 → 2 windows
            (2, "x y"),         # n=2 <= width → 1 window
            (3, "   "),         # empty → none
        ],
        "doc_id int, text string",
    )
    out = context_windows(df, width=3, stride=2).collect()
    got = {(r["doc_id"], r["win_idx"]): r for r in out}
    assert len(got) == 3
    assert got[(1, 0)]["chunk"] == "a b c" and got[(1, 0)]["n_tokens"] == 3
    assert got[(1, 1)]["chunk"] == "c d e" and got[(1, 1)]["win_start"] == 2
    assert got[(2, 0)]["chunk"] == "x y" and got[(2, 0)]["n_tokens"] == 2


def test_context_windows_exact_multiple_and_validation(spark):
    import pytest as _pytest

    from semargl_spark.operators.curation import context_windows

    df = spark.createDataFrame([(1, "a b c d")], "doc_id int, text string")
    # n=4, width 2, stride 2 → starts 0,2 → exactly 2 windows, no empty tail
    out = context_windows(df, width=2, stride=2).collect()
    assert sorted(r["chunk"] for r in out) == ["a b", "c d"]
    with _pytest.raises(ValueError):
        context_windows(df, width=0)
    with _pytest.raises(ValueError):
        context_windows(df, stride=0)


def test_ppmi_hand_computed_and_min_count(spark):
    import pytest as _pytest

    from semargl_spark.operators.curation import cooccurrence, ppmi

    # "a b a b", window=1 → directed pairs (a,b)×2, (b,a)×1; total=3
    # lift(a,b) = 1e6·2·3 // (2·2) = 1_500_000  (PMI = ln 1.5 > 0)
    # lift(b,a) = 1e6·1·3 // (1·1) = 3_000_000
    df = spark.createDataFrame([(1, "a b a b")], "doc_id int, text string")
    cooc = cooccurrence(df, window=1)
    got = {(r["w1"], r["w2"]): r["lift"] for r in ppmi(cooc).collect()}
    assert got == {("a", "b"): 1_500_000, ("b", "a"): 3_000_000}
    # min_count prunes the singleton pair but keeps its mass in the
    # marginals (lift of the survivor is unchanged)
    kept = {(r["w1"], r["w2"]): r["lift"] for r in ppmi(cooc, min_count=2).collect()}
    assert kept == {("a", "b"): 1_500_000}
    with _pytest.raises(ValueError):
        ppmi(cooc, min_count=0)


def test_ppmi_empty_corpus_and_plan_shape(spark):
    from semargl_spark.operators.curation import cooccurrence, ppmi

    empty = spark.createDataFrame([], "doc_id int, text string")
    out = ppmi(cooccurrence(empty))
    assert out.collect() == [] and out.columns == ["w1", "w2", "n", "lift"]
    df = spark.createDataFrame([(1, "x y z x y")], "doc_id int, text string")
    plan = ppmi(cooccurrence(df))._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan, plan


def test_winnow_guarantee_and_short_docs(spark):
    import pytest as _pytest

    from semargl_spark.operators.dedup import winnow_fingerprints

    # two docs sharing a 6-word run: with k=4, w=3 the winnowing
    # guarantee (shared run >= w+k-1 words => shared fingerprint) holds
    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [(1, f"one two {shared} x y"), (2, f"{shared} p q r s")],
        "doc_id int, text string",
    )
    fp = winnow_fingerprints(df, k=4, w=3)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared 6-word run must share a fingerprint"

    # a doc shorter than k words emits exactly one whole-text fingerprint
    short = spark.createDataFrame([(3, "just two")], "doc_id int, text string")
    rows = winnow_fingerprints(short, k=4, w=3).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 3
    with _pytest.raises(ValueError):
        winnow_fingerprints(short, k=0)
    # partitioning invariance: fingerprints are a pure function of text
    again = {
        (r["doc_id"], r["fp"])
        for r in winnow_fingerprints(df.repartition(7), k=4, w=3).collect()
    }
    assert again == {(r["doc_id"], r["fp"]) for r in fp.collect()}


# ------------------------------------------------ weighted priority sampling


def test_weighted_sample_exact_k_and_deterministic(spark):
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 7 + 1).alias("n_chars")
    )
    a = curation.weighted_sample(docs, k=50).collect()
    assert len(a) == 50
    b = curation.weighted_sample(docs.repartition(13), k=50).collect()
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)


def test_weighted_sample_weight_bias(spark):
    # two weight classes, 1 vs 100: the heavy class must win far more
    # of the slots than its population share (50%)
    docs = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, 100).otherwise(1).alias("n_chars"),
    )
    picked = curation.weighted_sample(docs, k=200).collect()
    heavy = sum(1 for r in picked if r["doc_id"] % 2 == 0)
    assert heavy > 180  # ~100:1 odds; 50% would be ~100


def test_weighted_sample_clamps_nonpositive_weights(spark):
    docs = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("n_chars")
    )
    rows = curation.weighted_sample(docs, k=5).collect()
    assert len(rows) == 5 and all(r["weight"] == 1 for r in rows)


def test_weighted_sample_rejects_bad_k(spark):
    import pytest

    docs = spark.range(3).select(F.col("id").alias("doc_id"), F.lit(1).alias("n_chars"))
    with pytest.raises(ValueError):
        curation.weighted_sample(docs, k=0)


# ----------------------------------------------------------- n-gram novelty


def test_ngram_novelty_duplicates_vs_unique(spark):
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _df(
        spark,
        [
            (1, dup),
            (2, dup),  # exact mirror: every gram shared -> novelty 0
            (3, "one two three four five six seven eight"),  # all unique
            (4, "short text"),  # < 5 words: no grams
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.ngram_novelty(docs, n=5).collect()}
    assert out[1]["n_grams"] == 4 and out[1]["novelty_pm"] == 0
    assert out[2]["novelty_pm"] == 0
    assert out[3]["n_grams"] == 4 and out[3]["novelty_pm"] == 1000
    assert out[4]["n_grams"] == 0 and out[4]["novelty_pm"] is None


def test_ngram_novelty_partial_overlap(spark):
    # doc 2 shares exactly its first gram with doc 1 -> 1 of 2 unique
    docs = _df(
        spark,
        [
            (1, "a b c d e"),
            (2, "a b c d e f"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in curation.ngram_novelty(docs, n=5).collect()}
    assert out[1]["n_grams"] == 1 and out[1]["novelty_pm"] == 0
    assert out[2]["n_grams"] == 2
    assert out[2]["n_unique"] == 1 and out[2]["novelty_pm"] == 500


# ------------------------------------------------------- stratified sampling


def test_stratified_sample_exact_k_per_stratum(spark):
    docs = spark.range(900).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en").when(F.col("id") % 3 == 1, "de")
        .otherwise("fr").alias("lang"),
    )
    out = curation.stratified_sample(docs, k=10).collect()
    per = {}
    for r in out:
        per.setdefault(r["stratum"], []).append(r["rank"])
    assert set(per) == {"en", "de", "fr"}
    for lang, ranks in per.items():
        assert sorted(ranks) == list(range(1, 11)), lang


def test_stratified_sample_matches_naive_and_is_partition_invariant(spark):
    from pyspark.sql.window import Window

    from semargl_spark.operators.dedup import md5_hash60

    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 == 0, "en").otherwise("de").alias("lang"),
    )
    two_phase = {
        (r["stratum"], r["doc_id"], r["rank"])
        for r in curation.stratified_sample(docs, k=7, n_salts=4).collect()
    }
    # naive single-window reference (fine at test scale)
    coin = md5_hash60(F.col("doc_id").cast("string"), seed="sts")
    w = Window.partitionBy("lang").orderBy(F.asc("coin"), F.asc("doc_id"))
    naive = {
        (r["lang"], r["doc_id"], r["rank"])
        for r in docs.select("lang", "doc_id", coin.alias("coin"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 7)
        .collect()
    }
    assert two_phase == naive
    repart = {
        (r["stratum"], r["doc_id"], r["rank"])
        for r in curation.stratified_sample(
            docs.repartition(11), k=7, n_salts=4
        ).collect()
    }
    assert repart == two_phase


# --------------------------------------------------------- segment dedup


def test_segment_dedup_first_occurrence_wins(spark):
    from semargl_spark.operators.dedup import segment_dedup

    seg_a = "a b c d"          # 4-word segment shared by docs 1 and 2
    docs = _df(
        spark,
        [
            (1, seg_a + " w x y z"),   # segs: [a b c d, w x y z]
            (2, seg_a + " p q r s"),   # first seg is a corpus dup
            (3, "u v m n"),            # unique single segment
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in segment_dedup(docs, seg_words=4).collect()}
    assert out[1]["n_segs"] == 2 and out[1]["n_kept"] == 2
    assert out[1]["clean_text"] == "a b c d w x y z"
    assert out[2]["n_segs"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["clean_text"] == "p q r s"
    assert out[3]["clean_text"] == "u v m n"


def test_segment_dedup_exact_mirror_doc_fully_dropped(spark):
    from semargl_spark.operators.dedup import segment_dedup

    t = "one two three four five six seven eight"
    docs = _df(spark, [(1, t), (2, t)], "doc_id long, text string")
    out = {r["doc_id"]: r for r in segment_dedup(docs, seg_words=4).collect()}
    assert out[1]["n_kept"] == 2 and out[1]["clean_text"] == t
    assert out[2]["n_kept"] == 0 and out[2]["clean_text"] == ""


def test_segment_dedup_partition_invariant(spark):
    from semargl_spark.operators.dedup import segment_dedup

    docs = spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(
            F.lit("shared prefix words here "),
            F.col("id").cast("string"), F.lit(" tail"),
        ).alias("text"),
    )
    a = sorted(map(tuple, segment_dedup(docs, seg_words=4).collect()))
    b = sorted(map(tuple, segment_dedup(docs.repartition(17), seg_words=4).collect()))
    assert a == b


def test_segment_dedup_matches_python_mirror_random(spark):
    """Differential: segment_dedup vs a pure-Python first-occurrence
    mirror over randomized small corpora (tokenization edge cases the
    fixed fixtures miss)."""
    import random

    from semargl_spark.operators.dedup import segment_dedup

    rng = random.Random(20240819)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    for trial in range(3):
        docs = []
        for did in range(12):
            n = rng.randrange(0, 12)
            docs.append((did, " ".join(rng.choice(vocab) for _ in range(n))))
        sw = 3

        # python mirror (same normalization: lower+trim+split on \s+)
        def segs_of(text):
            words = text.strip().lower().split()
            if not words and text.strip() == "":
                words = [""]  # split('') semantics of Spark on empty
            return [
                " ".join(words[i : i + sw])
                for i in range(0, max(len(words), 1), sw)
            ] if words else []

        first = {}
        expect = {}
        for did, text in docs:
            ss = segs_of(text)
            for pos, seg in enumerate(ss):
                first.setdefault(seg, (did, pos))
        for did, text in docs:
            ss = segs_of(text)
            kept = [s for p, s in enumerate(ss) if first[s] == (did, p)]
            expect[did] = (len(ss), len(kept), " ".join(kept))

        out = {
            r["doc_id"]: (r["n_segs"], r["n_kept"], r["clean_text"])
            for r in segment_dedup(
                spark.createDataFrame(docs, "doc_id long, text string"),
                seg_words=sw,
            ).collect()
        }
        assert out == expect, f"trial {trial}"


def test_kmv_distinct_exact_small_and_estimator(spark):
    from pyspark.sql import functions as F

    from semargl_spark.operators.sketch import kmv_distinct

    # group 'small': 5 distinct values -> exact path (n_hashes < k)
    # group 'big': 5000 distinct values -> estimator path, error ~1/8
    rows = [("small", f"v{i % 5}") for i in range(50)] + [
        ("big", f"w{i}") for i in range(5000)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    got = {
        r["g"]: (r["n_hashes"], r["est_distinct"])
        for r in kmv_distinct(df, ["g"], "v", k=64).collect()
    }
    assert got["small"] == (5, 5)
    n, est = got["big"]
    assert n == 64
    # 1/sqrt(64) = 12.5% standard error; allow 4 sigma
    assert 2500 <= est <= 7500

    # prefilter with a valid lower bound must not change the sketch
    pre = {
        r["g"]: (r["n_hashes"], r["est_distinct"])
        for r in kmv_distinct(
            df.filter(F.col("g") == "big"), ["g"], "v", k=64,
            prefilter_min_distinct=1000,
        ).collect()
    }
    assert pre["big"] == got["big"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmv_distinct(df, ["g"], "v", k=1)
    with _pytest.raises(ValueError):
        kmv_distinct(df, ["g"], "v", prefilter_min_distinct=0)


def test_kmv_overlap_exact_smallsets_and_estimator(spark):
    from semargl_spark.operators.sketch import kmv_overlap

    # small sets (< k): the sketch IS the set -> exact overlap
    rows = (
        [("p", f"v{i}") for i in range(10)]
        + [("q", f"v{i}") for i in range(5, 20)]  # |p∩q|=5, |p∪q|=20
    )
    df = spark.createDataFrame(rows, "s string, v string")
    r = kmv_overlap(df, "s", "v", k=64).collect()
    assert len(r) == 1
    row = r[0]
    assert (row["set_a"], row["set_b"]) == ("p", "q")
    assert row["n_union"] == 20 and row["union_est"] == 20
    assert row["inter_est"] == 5
    assert row["jaccard_pm"] == 250  # 1000*5//20

    # large sets: 3000 shared + 2×1000 exclusive -> J = 3000/5000 = 0.6
    big = (
        [("a", f"s{i}") for i in range(3000)]
        + [("a", f"xa{i}") for i in range(1000)]
        + [("b", f"s{i}") for i in range(3000)]
        + [("b", f"xb{i}") for i in range(1000)]
    )
    bdf = spark.createDataFrame(big, "s string, v string")
    row = kmv_overlap(bdf, "s", "v", k=64).collect()[0]
    # jaccard se ~ sqrt(J(1-J)/k) = 6%; allow 4 sigma around 600
    assert 350 <= row["jaccard_pm"] <= 850
    assert 2500 <= row["union_est"] <= 7500
    assert 1200 <= row["inter_est"] <= 5200

    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmv_overlap(df, "s", "v", k=1)


def test_neighborhood_function_chain_and_star(spark):
    from semargl_spark.operators.sketch import neighborhood_function

    # directed chain a->b->c->d: ball(a, r) = r+1 until the end caps it
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string"
    )
    got = {
        (r["node"], r["r"]): r["est_reach"]
        for r in neighborhood_function(chain, rounds=3, k=16).collect()
    }
    assert got[("a", 1)] == 2 and got[("a", 2)] == 3 and got[("a", 3)] == 4
    assert got[("d", 1)] == 1 and got[("d", 3)] == 1  # sink: only itself

    # star hub -> 5000 leaves: sub-k is impossible, estimator kicks in
    star = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(5000)], "src string, dst string"
    )
    est = {
        (r["node"], r["r"]): r["est_reach"]
        for r in neighborhood_function(star, rounds=1, k=64).collect()
    }
    # true ball = 5001; 1/sqrt(64) = 12.5% sigma, allow 4 sigma
    assert 2500 <= est[("hub", 1)] <= 7500
    assert est[("leaf0", 1)] == 1

    import pytest as _pytest

    with _pytest.raises(ValueError):
        neighborhood_function(chain, rounds=0)
    with _pytest.raises(ValueError):
        neighborhood_function(chain, k=1)


def test_cm_heavy_hitters_never_underestimates(spark):
    from semargl_spark.operators.sketch import cm_heavy_hitters

    # zipf-ish corpus: token t{i} appears 200//(i+1) times
    rows = [(f"t{i}",) for i in range(40) for _ in range(200 // (i + 1))]
    df = spark.createDataFrame(rows, "v string")
    got = cm_heavy_hitters(df, "v", d=4, w=64, k=10).collect()
    assert len(got) == 10
    for r in got:
        assert r["est"] >= r["n_exact"], r  # CM never underestimates
        assert r["overest_pm"] >= 0
    top = max(got, key=lambda r: r["n_exact"])
    assert top["value"] == "t0" and top["n_exact"] == 200

    import pytest as _pytest

    with _pytest.raises(ValueError):
        cm_heavy_hitters(df, "v", d=0)


def _dsir_mirror(rows, target_ids, n_buckets):
    """Pure-Python replay of curation.dsir_scores (md5 buckets, add-one
    smoothing, integer micro-unit ratios, floor-mean per doc)."""
    import hashlib
    import re
    from collections import Counter

    def grams(t):
        ws = re.split(r"\s+", t.strip().lower())
        gs = list(ws)
        if len(ws) >= 2:
            gs += [ws[i] + " " + ws[i + 1] for i in range(len(ws) - 1)]
        return gs

    fb = Counter()
    for did, t in rows:
        for g in grams(t):
            b = int(hashlib.md5((g + "#dsir").encode()).hexdigest()[:15], 16)
            fb[(did, b % n_buckets)] += 1
    tb, raw = Counter(), Counter()
    for (did, b), c in fb.items():
        raw[b] += c
        if did in target_ids:
            tb[b] += c
    R, T = sum(raw.values()), sum(tb.values())
    rm = {
        b: (10**6 * (tb.get(b, 0) + 1) * (R + n_buckets))
        // ((raw[b] + 1) * (T + n_buckets))
        for b in raw
    }
    out = {}
    for did, _ in rows:
        bs = [(b, c) for (d, b), c in fb.items() if d == did]
        n = sum(c for _, c in bs)
        out[did] = (n, sum(c * rm[b] for b, c in bs) // n)
    return out


def test_dsir_scores_matches_python_mirror(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, "the dog ran in the park"),
        (3, "quantum flux capacitor phase variance"),
        (4, "the cat and the dog sat"),
        (5, "zeta eta theta iota kappa"),
        (6, ""),
    ]
    docs = _df(spark, rows, "doc_id long, text string")
    target = docs.where(F.col("doc_id").isin(1, 4))
    got = {
        r["doc_id"]: (r["n_feats"], r["score_micro"])
        for r in curation.dsir_scores(docs, target, n_buckets=32).collect()
    }
    assert got == _dsir_mirror(rows, {1, 4}, 32)


def test_dsir_scores_ranks_target_like_above_alien(spark):
    # docs sharing the target's vocabulary must outscore disjoint ones
    rows = [(i, "alpha beta gamma delta") for i in range(1, 5)] + [
        (9, "alpha beta gamma delta"),
        (10, "xerox yonder zipline quay"),
    ]
    docs = _df(spark, rows, "doc_id long, text string")
    target = docs.where(F.col("doc_id") <= 4)
    got = {
        r["doc_id"]: r["score_micro"]
        for r in curation.dsir_scores(docs, target, n_buckets=64).collect()
    }
    assert got[9] > got[10]


def test_dsir_scores_partition_invariant(spark):
    rows = [(i, f"tok{i % 5} tok{i % 3} shared words here") for i in range(40)]
    docs = _df(spark, rows, "doc_id long, text string")
    target = docs.where(F.col("doc_id") % 4 == 0)
    a = sorted(
        map(tuple, curation.dsir_scores(
            docs.repartition(1), target, n_buckets=16).collect())
    )
    b = sorted(
        map(tuple, curation.dsir_scores(
            docs.repartition(7), target.repartition(3), n_buckets=16).collect())
    )
    assert a == b


def test_dsir_scores_rejects_tiny_bucket_count(spark):
    import pytest

    docs = _df(spark, [(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        curation.dsir_scores(docs, docs, n_buckets=1)


def test_binarize_and_hamming_multiword(spark):
    """130-dim vectors pack into 3 words (tail zero-padded); Hamming
    matches a Python mirror including cross-word bits and ties."""
    import random

    from pyspark.sql import functions as F

    from semargl_spark.operators.similarity import (
        binarize_embeddings,
        hamming_topk,
    )

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(130)]) for i in range(12)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b = binarize_embeddings(emb, dim=130)
    got_words = {r["vec_id"]: r["bvec"] for r in b.collect()}

    def pack(v):
        words = []
        for w in range(3):
            acc = 0
            for j in range(w * 64, w * 64 + 64):
                bit = 1 if j < len(v) and v[j] > 0 else 0
                acc = ((acc << 1) | bit) & ((1 << 64) - 1)
            if acc >= 1 << 63:
                acc -= 1 << 64
            words.append(acc)
        return words

    assert got_words == {i: pack(v) for i, v in rows}

    queries = spark.createDataFrame([(0,), (7,)], "vec_id long")
    got = {
        (r["query_id"], r["neighbor_id"]): r["hamming"]
        for r in hamming_topk(b, queries, k=3).collect()
    }

    def ham(a, b_):
        return sum(
            bin((x ^ y) & ((1 << 64) - 1)).count("1")
            for x, y in zip(a, b_)
        )

    mirror = {}
    for qid in (0, 7):
        ds = sorted(
            (ham(pack(dict(rows)[qid]), pack(v)), i)
            for i, v in rows if i != qid
        )[:3]
        for d, i in ds:
            mirror[(qid, i)] = d
    assert got == mirror


def _bt_mirror(pairs, rounds=3, scale=1_000_000):
    """Pure-Python Bradley–Terry MM mirror (integer floor division)."""
    from collections import defaultdict

    s2 = scale * scale
    n = defaultdict(int)
    wins = defaultdict(int)
    for w, l in pairs:
        n[(min(w, l), max(w, l))] += 1
        wins[w] += 1
    games = defaultdict(int)
    for (u, v), c in n.items():
        games[u] += c
        games[v] += c
    items = sorted(games)
    wt = {i: scale for i in items}
    for _ in range(rounds):
        den = defaultdict(int)
        for (u, v), c in n.items():
            t = (c * s2) // (wt[u] + wt[v])
            den[u] += t
            den[v] += t
        wt = {
            i: ((wins[i] + 1) * s2)
            // (den[i] + (2 * s2) // (wt[i] + scale))
            for i in items
        }
    return {i: (wins[i], games[i], wt[i]) for i in items}


def test_bradley_terry_matches_python_mirror(spark):
    # deterministic tournament with upsets and repeat games
    pairs = []
    for d in range(40):
        for k in (1, 3):
            a, b = d, d + k
            if b >= 40:
                continue
            w, l = (a, b) if (a * 7 + b * 13) % 5 < 3 else (b, a)
            pairs.append((w, l))
    pairs += pairs[:10]  # repeated comparisons accumulate as n_ij
    df = spark.createDataFrame(pairs, "chosen_id long, rejected_id long")
    got = {
        r["item_id"]: (r["wins"], r["games"], r["strength_mu"])
        for r in curation.bradley_terry(df, rounds=3).collect()
    }
    assert got == _bt_mirror(pairs, rounds=3)


def test_bradley_terry_strength_orders_by_dominance(spark):
    # 0 beats everyone, 3 loses to everyone
    pairs = [(0, 1), (0, 2), (0, 3), (1, 3), (2, 3), (1, 2)]
    df = spark.createDataFrame(pairs, "chosen_id long, rejected_id long")
    out = {r["item_id"]: r for r in curation.bradley_terry(df).collect()}
    s = {i: out[i]["strength_mu"] for i in range(4)}
    assert s[0] > s[1] > s[3] and s[0] > s[2] > s[3]
    assert out[3]["strength_mu"] > 0  # prior keeps all-loss items positive
    assert out[0]["wins"] == 3 and out[0]["games"] == 3


def test_pack_manifest_members_and_straddle(spark):
    # shard 0 only (ids all ≡ 0 mod 1): capacity 10, docs of 4/4/5 tokens
    # doc 0 at offset 0, doc 1 at 4, doc 2 starts at 8 and straddles
    docs = spark.createDataFrame(
        [(0, "a b c d"), (8, "e f g h"), (16, "i j k l m")],
        "doc_id long, text string",
    )
    rows = curation.pack_manifest(
        docs, capacity=10, n_shards=8
    ).collect()
    by_bin = {(r["shard"], r["bin_id"]): r for r in rows}
    b0 = by_bin[(0, 0)]
    assert b0["members"] == "0:0;8:4;16:8"
    assert b0["n_docs"] == 3
    # fill exceeds capacity: doc 16 straddles into bin 1
    assert b0["fill_tokens"] == 13
    assert (0, 1) not in by_bin  # straddling tail opens no manifest row


def test_centroid_drift_aligned_and_opposed(spark):
    from semargl_spark.operators.clustering import centroid_drift

    rows_a = [(1, [1.0, 0.0, 2.0, 0.5], 0), (2, [1.0, 0.0, 2.0, 0.5], 0),
              (3, [0.0, 1.0, 0.0, 0.0], 1)]
    rows_b = [(4, [1.0, 0.0, 2.0, 0.5], 0),          # identical centroid
              (5, [0.0, -1.0, 0.0, 0.0], 1)]          # exactly opposed
    a = spark.createDataFrame(rows_a, "vec_id long, embedding array<double>, label int")
    b = spark.createDataFrame(rows_b, "vec_id long, embedding array<double>, label int")
    out = {r["label"]: r for r in centroid_drift(a, b, dim=4).collect()}
    assert out[0]["cos2_signed_micro"] == 1_000_000   # perfectly aligned
    assert out[0]["n_a"] == 2 and out[0]["n_b"] == 1
    assert out[1]["cos2_signed_micro"] == -1_000_000  # pointing away
    assert out[1]["dot_q"] < 0


def _span_corruption_mirror(doc_id, text, rate_pm=150):
    import hashlib

    words = [w for w in text.strip().split() if w]
    cor, tgt = [], []
    k, prev = 0, False
    n_masked = 0
    for i, w in enumerate(words):
        h = int(hashlib.md5(f"{doc_id}#{i}".encode()).hexdigest()[:15], 16)
        m = h % 1000 < rate_pm
        if m:
            n_masked += 1
            if not prev:
                cor.append(f"<extra_id_{k}>")
                tgt.append(f"<extra_id_{k}>")
                k += 1
            tgt.append(w)
        else:
            cor.append(w)
        prev = m
    targets = (" ".join(tgt) + f" <extra_id_{k}>") if k else f"<extra_id_{k}>"
    return (len(words), n_masked, k, " ".join(cor), targets)


def test_span_corruption_matches_python_mirror(spark):
    texts = [(i, "w%d " % i + " ".join(f"t{j}" for j in range(30)))
             for i in range(20)]
    texts.append((99, "single"))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_masked"], r["n_spans"],
                         r["corrupted"], r["targets"])
           for r in curation.span_corruption(df, rate_pm=300).collect()}
    for doc_id, text in texts:
        assert got[doc_id] == _span_corruption_mirror(doc_id, text, 300), doc_id
    # reconstruction property: unmasking restores the original text
    for doc_id, text in texts:
        n_words, n_masked, k, cor, tgt = got[doc_id]
        restored = cor
        parts = tgt.split(" ")
        spans: dict[str, list[str]] = {}
        cur = None
        for p in parts:
            if p.startswith("<extra_id_"):
                cur = p
                spans[cur] = []
            else:
                spans[cur].append(p)
        for sent, ws in spans.items():
            if ws:
                restored = restored.replace(sent, " ".join(ws))
        assert restored.split() == text.split()


def test_span_corruption_empty_doc_dropped(spark):
    df = spark.createDataFrame([(1, "  "), (2, "a b")],
                               "doc_id long, text string")
    rows = curation.span_corruption(df).collect()
    assert [r["doc_id"] for r in rows] == [2]


def test_fim_transform_matches_python_mirror(spark):
    import hashlib

    def mirror(doc_id, text):
        w = [x for x in text.strip().split() if x]
        n = len(w)

        def draw(salt):
            h = int(hashlib.md5(f"{doc_id}#{salt}".encode())
                    .hexdigest()[:15], 16)
            return h % (n + 1)

        a, b = sorted((draw("cut0"), draw("cut1")))
        return (n, a, b,
                "<|fim_pre|> " + " ".join(w[:a])
                + " <|fim_suf|> " + " ".join(w[b:])
                + " <|fim_mid|> " + " ".join(w[a:b]))

    texts = [(i, " ".join(f"w{i}_{j}" for j in range(12))) for i in range(25)]
    texts.append((99, "one"))
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["cut_a"], r["cut_b"], r["fim"])
           for r in curation.fim_transform(df).collect()}
    for doc_id, text in texts:
        assert got[doc_id] == mirror(doc_id, text), doc_id
    # reconstruction: PRE + MID + SUF restores the original word order
    for doc_id, text in texts:
        fim = got[doc_id][3]
        pre = fim.split(" <|fim_suf|> ")[0].removeprefix("<|fim_pre|> ")
        suf = fim.split(" <|fim_suf|> ")[1].split(" <|fim_mid|> ")[0]
        mid = fim.split(" <|fim_mid|> ")[1]
        joined = " ".join(x for x in (pre, mid, suf) if x)
        assert joined.split() == text.split()


def test_curriculum_order_buckets_then_hash(spark):
    import hashlib

    docs = spark.createDataFrame(
        [(i, (i % 3) * 100) for i in range(30)],
        "doc_id long, score long",
    )
    out = curation.curriculum_order(
        docs, "score", thresholds=(100, 200), n_blocks=4
    ).collect()
    rows = sorted(out, key=lambda r: r["pos"])
    # positions are a 0..n-1 permutation
    assert [r["pos"] for r in rows] == list(range(30))
    # higher buckets come first, contiguously
    assert [r["bucket"] for r in rows] == [2] * 10 + [1] * 10 + [0] * 10
    # within a bucket, order is (md5, id) ascending
    for b in (0, 1, 2):
        seg = [r for r in rows if r["bucket"] == b]
        keys = [
            (hashlib.md5(f"cur:{r['doc_id']}".encode()).hexdigest(),
             r["doc_id"]) for r in seg
        ]
        assert keys == sorted(keys)
    # partition-invariant
    out2 = curation.curriculum_order(
        docs.repartition(7), "score", thresholds=(100, 200), n_blocks=4
    ).collect()
    assert {(r["doc_id"], r["pos"]) for r in out2} == {
        (r["doc_id"], r["pos"]) for r in out
    }


def test_domain_cap_parses_urls_and_caps(spark):
    from semargl_spark.operators.curation import domain_cap

    rows = [
        (i, f"https://www.hotsite.com/page/{i}", f"the and of doc {i} " + "w " * (i % 5))
        for i in range(30)
    ] + [
        (100, "http://a.b.tiny.org/x", "the and unique text here"),
        (101, "https://tiny.org/y", "the and another unique doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = domain_cap(df, k=5).collect()
    by_domain = {}
    for r in out:
        by_domain.setdefault(r["domain"], []).append(r)
    # registered domain = last two labels: www.hotsite.com -> hotsite.com
    assert set(by_domain) == {"hotsite.com", "tiny.org"}
    assert len(by_domain["hotsite.com"]) == 5          # capped
    assert len(by_domain["tiny.org"]) == 2             # under cap
    ranks = sorted(r["rank"] for r in by_domain["hotsite.com"])
    assert ranks == [1, 2, 3, 4, 5]
    # determinism at different parallelism
    again = domain_cap(df.repartition(7), k=5).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))


def test_url_canonicalize_rules(spark):
    from semargl_spark.operators.curation import url_canonicalize

    df = spark.createDataFrame(
        [
            (1, "HTTPS://WWW.Site.COM:443/Path/9/?utm_source=x&b=2&a=1#frag"),
            (2, "http://h.org:80/a//b///"),
            (3, "not a url"),
            (4, "https://h.org"),
            (5, "https://h.org:8080/x?fbclid=abc"),  # non-default port kept
        ],
        "doc_id long, url string",
    )
    got = {r.doc_id: r for r in url_canonicalize(df).collect()}
    assert got[1].url_canon == "https://www.site.com/Path/9?a=1&b=2"
    assert got[1].host == "www.site.com" and got[1].changed
    # trailing slashes collapse; interior double slashes are preserved
    assert got[2].url_canon == "http://h.org/a//b"
    assert not got[3].is_valid and got[3].url_canon == "not a url"
    assert got[4].url_canon == "https://h.org/"  # empty path becomes /
    assert got[5].url_canon == "https://h.org:8080/x"
    assert got[5].host == "h.org"


def test_robots_filter_rep_semantics(spark):
    from semargl_spark.operators.curation import robots_filter

    robots = spark.createDataFrame(
        [
            ("h.example",
             "User-agent: *\nDisallow: /private/\nAllow: /private/ok\n"
             "Disallow:\n\nUser-agent: bot\nDisallow: /\n"),
            ("w.example",
             "User-agent: bad\nDisallow: /\n\n"
             "User-agent: *\nDisallow: /*.pdf$\n"),
        ],
        "host string, content string",
    )
    urls = spark.createDataFrame(
        [
            (1, "https://h.example/pub/x"),        # no rule → allowed
            (2, "https://h.example/private/x"),    # disallowed
            (3, "https://h.example/private/okfile"),  # longer Allow wins
            (4, "https://w.example/doc.pdf"),      # wildcard + $ anchor
            (5, "https://w.example/doc.pdf?x=1"),  # query defeats $ → allowed
            (6, "https://other.example/anything"),  # no robots → allowed
        ],
        "doc_id long, url string",
    )
    got = {r.doc_id: r for r in robots_filter(urls, robots).collect()}
    assert [got[i].allowed for i in range(1, 7)] == [
        True, False, True, False, True, True]
    assert got[2].matched_path == "/private/"
    assert got[3].matched_path == "/private/ok" and got[3].directive == "allow"
    assert got[4].matched_path == "/*.pdf$"
    # the bot-specific section must not leak into the * evaluation
    assert got[1].matched_path is None


def test_gopher_filter_rules(spark):
    from semargl_spark.operators.curation import gopher_filter

    base = "the words be of and that have with " * 8  # 64 words, all ok
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + "### " * 20),          # symbol ratio + alpha hit
            (3, base + "\n" + "\n".join(f"- b{i}" for i in range(20))),
            (4, "tiny doc"),                  # word count
            (5, base.replace("the", "zzz").replace("and", "yyy")
                 .replace("be", "xxx").replace("of", "www")
                 .replace("that", "vvv").replace("have", "uuu")
                 .replace("with", "ttt")),    # no stop words
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_filter(df).collect()}
    assert got[1].keep
    assert not got[2].ok_symbol_ratio and not got[2].keep
    assert not got[3].ok_bullets and not got[3].keep
    assert not got[4].ok_word_count and not got[4].keep
    assert got[5].n_stop_kinds == 0 and not got[5].ok_stopwords


def test_url_canonicalize_is_idempotent(spark):
    """canon(canon(u)) == canon(u) over a URL zoo including tracking
    params, ports, weird paths, fragments, and invalid strings."""
    from semargl_spark.operators.curation import url_canonicalize

    zoo = [
        "HTTPS://WWW.Site.COM:443/Path/9/?utm_source=x&b=2&a=1#frag",
        "http://h.org:80/a//b///",
        "https://h.org",
        "https://h.org:8080/x?fbclid=abc&z=9&y=1",
        "ftp://files.example:21/pub/",
        "not a url",
        "https://h.org/?utm_a=1&utm_b=2",
        "https://h.org/p?a=1&a=0",
        "  https://pad.example/x  ",
    ]
    df = spark.createDataFrame(
        list(enumerate(zoo)), "doc_id long, url string")
    first = url_canonicalize(df)
    again = url_canonicalize(
        first.select("doc_id", F.col("url_canon").alias("url")))
    pairs = first.select("doc_id", "url_canon").join(
        again.select("doc_id", F.col("url_canon").alias("url_canon2")),
        "doc_id",
    )
    bad = pairs.filter(F.col("url_canon") != F.col("url_canon2")).collect()
    assert bad == [], bad


def test_gopher_and_c4_disagree_only_on_their_own_rules(spark):
    """A doc that passes C4 but fails Gopher must fail on a rule C4
    does not have (sanity link between the two filter families)."""
    from semargl_spark.operators.curation import c4_rule_filter, gopher_filter

    # 60 clean sentence-shaped words with terminal punctuation, but
    # every line bullet-led → C4 keeps, Gopher rejects on bullets
    text = "\n".join(
        "- the quick brown fox jumps over that lazy dog with style be of."
        for _ in range(5)
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    c4 = c4_rule_filter(df).collect()[0]
    go = gopher_filter(df).collect()[0]
    assert c4.keep
    assert not go.keep and not go.ok_bullets
    assert go.ok_word_count and go.ok_stopwords and go.ok_alpha_words


def test_robots_directives_union_and_orders(spark):
    from semargl_spark.operators.curation import robots_directives

    rows = [
        (1, '<meta name="robots" content="noindex, follow">', None),
        (2, '<meta content="nofollow , NOARCHIVE" name=robots>', None),
        (3, "<p>no meta here</p>", "noindex"),
        (4, '<meta name="robots" content="none">', None),
        (5, "<p>plain</p>", None),
        (6, '<meta name="robots" content="noindex">', "noarchive"),
        (7, '<meta name="robots" content="noindex">'
            '<meta name="robots" content="nofollow">', None),
        (8, "<meta name=robots content=noarchive,nofollow>", None),
        (9, '<meta content=noindex name="robots">', None),
    ]
    df = _df(spark, rows, "doc_id long, html string, xrobots string")
    got = {r.doc_id: r for r in
           robots_directives(df, header_col="xrobots").collect()}
    assert got[1].noindex and not got[1].nofollow and not got[1].keep_index
    assert got[2].nofollow and got[2].noarchive and got[2].keep_index
    assert got[3].noindex and not got[3].keep_index  # header-only
    assert got[4].noindex and got[4].nofollow  # none expands
    assert got[5].directives == [] and got[5].keep_index
    assert got[6].directives == ["noarchive", "noindex"]  # union of both
    # multiple meta tags union per the Robots Meta spec
    assert got[7].directives == ["nofollow", "noindex"]
    assert got[7].noindex and got[7].nofollow and not got[7].keep_index
    # unquoted content values, both attribute orders
    assert got[8].directives == ["noarchive", "nofollow"]
    assert got[9].directives == ["noindex"] and not got[9].keep_index


def test_html_links_resolution_and_externality(spark):
    from semargl_spark.operators.curation import html_links

    rows = [(1, "https://site.example/dir/page.html",
             '<a href="p/1.html">x</a> <A HREF=\'../up/2\'>y</A> '
             '<a class="z" href=https://ext.example/x>e</a> '
             '<a href="mailto:a@b.c">m</a> <a href="/abs#frag">r</a> '
             '<a href="javascript:void(0)">j</a>'),
            (2, "https://other.example/", "<p>no links</p>")]
    df = spark.createDataFrame(rows, "doc_id long, url string, html string")
    got = [tuple(r) for r in html_links(df).orderBy("doc_id", "link_idx").collect()]
    assert got == [
        (1, 0, "p/1.html", "https://site.example/dir/p/1.html", False),
        (1, 1, "../up/2", "https://site.example/up/2", False),
        (1, 2, "https://ext.example/x", "https://ext.example/x", True),
        (1, 3, "mailto:a@b.c", None, None),
        (1, 4, "/abs", "https://site.example/abs", False),
        (1, 5, "javascript:void(0)", None, None),
    ]


def test_html_page_meta_orders_and_absence(spark):
    from semargl_spark.operators.curation import html_page_meta

    rows = [
        (1, '<html lang=de><head><title>T1</title>'
            '<meta name="description" content="D1">'
            '<link rel="canonical" href="https://c.example/1"></head>'),
        (2, '<head><title> spaced </title>'
            '<meta content="D2" name=description>'
            '<link href="https://c.example/2" rel=canonical>'
            '<meta property="og:title" content="OG2"></head>'),
        (3, "<body>bare page, nothing to lift</body>"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string")
    got = {r.doc_id: r for r in html_page_meta(df).collect()}
    assert got[1].title == "T1" and got[1].description == "D1"
    assert got[1].canonical_url == "https://c.example/1"
    assert got[1].page_lang == "de" and got[1].og_title is None
    # content-first meta order and href-first link order both lift
    assert got[2].title == "spaced" and got[2].description == "D2"
    assert got[2].canonical_url == "https://c.example/2"
    assert got[2].og_title == "OG2"
    assert all(
        got[3][c] is None
        for c in ("title", "description", "canonical_url", "page_lang",
                  "og_title")
    )


def test_sentence_dedup_normalized_first_wins(spark):
    from semargl_spark.operators.dedup import sentence_dedup

    rows = [
        (0, "Shared opener. Unique fact aa. Shared closer."),
        (1, "SHARED OPENER! Unique fact ab. Shared closer."),
        (2, "Shared, opener. Version 42 notes. Version 43 notes."),
        (3, "   "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in sentence_dedup(df).collect()}
    assert (got[0].n_sents, got[0].n_kept) == (3, 3)
    assert got[0].clean_text == rows[0][1]
    # normalization matches across case/punct drift: only doc 0 keeps
    # the shared opener/closer
    assert (got[1].n_sents, got[1].n_kept) == (3, 1)
    assert got[1].clean_text == "Unique fact ab."
    # digit folding: 'Version 42/43 notes' collide to one key — first kept
    assert (got[2].n_sents, got[2].n_kept) == (3, 1)
    assert got[2].clean_text == "Version 42 notes."
    # total over input: a zero-sentence doc still emits its row
    assert (got[3].n_sents, got[3].n_kept, got[3].clean_text) == (0, 0, "")


def test_paragraph_dedup_first_wins_and_totality(spark):
    from semargl_spark.operators.dedup import paragraph_dedup

    rows = [
        (0, "Alpha body.\n\nCopyright 2026 Site."),
        (1, "Beta body.\n\n  \t \n\ncopyright 2031 site!!"),
        (2, "Gamma body."),
        (3, ""),
        (4, "Delta body.\r\nline two.\r\n\r\nCopyright 2040 Site.\r\n"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in paragraph_dedup(df).collect()}
    assert (got[0].n_paras, got[0].n_kept) == (2, 2)
    assert got[0].clean_text == rows[0][1]
    # footer collapses to doc 0 despite digit/case/punct drift and a
    # whitespace-only pseudo-paragraph in between
    assert (got[1].n_paras, got[1].n_kept) == (2, 1)
    assert got[1].clean_text == "Beta body."
    assert (got[2].n_paras, got[2].n_kept) == (1, 1)
    # total over input
    assert (got[3].n_paras, got[3].n_kept, got[3].clean_text) == (0, 0, "")
    # CRLF paragraph breaks split too, so the footer still collapses
    assert (got[4].n_paras, got[4].n_kept) == (2, 1)
    assert got[4].clean_text == "Delta body.\r\nline two."
