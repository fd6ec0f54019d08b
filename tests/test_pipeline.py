"""Pipeline-stage tests: linking, canon, materialize, vocab expansion,
streaming extraction, turtle serialization."""

import shutil
import tempfile

from pyspark.sql import functions as F

from semargl_spark.operators.canon import connected_components
from semargl_spark.operators.extract import extract_statements, triples
from semargl_spark.operators.link import link_entities
from semargl_spark.operators.materialize import kg_edges, lineage_rows
from semargl_spark.operators.vocab import expand_statements
from semargl_spark.sources.transcripts import entity_dictionary, synth_transcripts

from conftest import SF_DIR


def test_link_entities_broadcast_plan(spark):
    t = synth_transcripts(spark, SF_DIR, fmt="ntriples")
    st = triples(extract_statements(t))
    linked = link_entities(st, entity_dictionary(spark, SF_DIR))
    plan = linked._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    rows = linked.limit(5).collect()
    assert all(r["canonical_iri"].startswith("urn:e:") for r in rows)


def test_connected_components_pair(spark):
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], ["src", "dst"]
    )
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_unconverged_raises(spark, monkeypatch):
    import random

    import pytest

    from semargl_spark.operators import canon

    # a 300-node path whose ids are shuffled, so min-label propagation
    # cannot ride the lexicographic order: one contraction round is far
    # too few, and returning partial components must be refused
    ids = [f"n{i:03d}" for i in range(300)]
    random.Random(7).shuffle(ids)
    edges = spark.createDataFrame(list(zip(ids, ids[1:])), ["src", "dst"])
    # at the default size bound the 299 edges close on the driver
    got = connected_components(edges, max_iter=1).select("component")
    assert [r["component"] for r in got.distinct().collect()] == ["n000"]
    # with no driver finish the rounds alone must converge or refuse
    monkeypatch.setattr(canon, "_DRIVER_EDGES", 0)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=1).collect()
    got = connected_components(edges).select("component").distinct().collect()
    assert [r["component"] for r in got] == ["n000"]


def test_kg_edges_canonicalized(spark):
    t = synth_transcripts(spark, SF_DIR, fmt="ntriples").limit(40)
    st = triples(extract_statements(t))
    edges = kg_edges(st)
    assert edges.filter(F.col("pred") == "urn:p:knows").count() > 0


def test_lineage_rows(spark):
    t = synth_transcripts(spark, SF_DIR, fmt="ntriples").limit(20)
    st = triples(extract_statements(t))
    rows = lineage_rows(st, "r1", "extract").collect()
    per_part = [r for r in rows if r["partition_id"] >= 0]
    summary = [r for r in rows if r["partition_id"] == -1]
    n = st.count()
    assert sum(r["output_rows"] for r in per_part) == n
    # the stage-summary row repeats the totals (and exists even for an
    # empty stage, so resume can see completion)
    assert len(summary) == 1 and summary[0]["output_rows"] == n
    assert all(r["stage"] == "extract" and r["run_id"] == "r1" for r in rows)

    # one ledger write reads its stage once: the stage row sums the
    # per-partition aggregate instead of aggregating the frame again
    sc = spark.sparkContext
    reads = sc.accumulator(0)

    def row(i):
        reads.add(1)
        return (f"s{i}", "error" if i % 10 == 0 else "iri")

    uncached = spark.createDataFrame(
        sc.parallelize(range(1000), 4).map(row), "subj string, obj_kind string"
    )
    rows = lineage_rows(uncached, "r1", "extract").collect()
    assert reads.value == 1000
    (stage_row,) = [r for r in rows if r["partition_id"] == -1]
    assert (stage_row["output_rows"], stage_row["error_rows"]) == (1000, 100)

    # an empty stage still records its completion: one all-zero row
    empty = lineage_rows(spark.createDataFrame([], "a string"), "r1", "canon")
    assert [tuple(r) for r in empty.collect()] == [
        ("r1", "canon", -1, 0, 0, 0, "0000000000000000", 0)
    ]


def test_vocab_expansion(spark):
    t = synth_transcripts(spark, SF_DIR, fmt="ntriples").limit(10)
    st = triples(extract_statements(t))
    vocab = spark.createDataFrame(
        [("urn:p:knows", "http://www.w3.org/2002/07/owl#equivalentProperty",
          "urn:p:friendOf")],
        ["subj", "pred", "obj"],
    )
    out = expand_statements(st, vocab)
    knows = st.filter(F.col("pred") == "urn:p:knows").count()
    friends = out.filter(F.col("pred") == "urn:p:friendOf").count()
    assert knows == friends and friends > 0
    assert out.count() == st.count() + friends


def test_streaming_extraction_matches_batch(spark):
    from semargl_spark.streaming.stream_extract import stream_extract

    tmp = tempfile.mkdtemp(prefix="semargl-stream-")
    try:
        t = synth_transcripts(spark, SF_DIR, fmt="ntriples").limit(50)
        t.write.mode("overwrite").parquet(f"{tmp}/in")
        q = stream_extract(spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt")
        q.awaitTermination()
        streamed = spark.read.parquet(f"{tmp}/out")
        batch = extract_statements(spark.read.parquet(f"{tmp}/in"))
        assert sorted(map(tuple, streamed.collect())) == sorted(
            map(tuple, batch.collect())
        )
        # re-running the drained stream is a no-op (exactly-once resume)
        q2 = stream_extract(spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt")
        q2.awaitTermination()
        assert spark.read.parquet(f"{tmp}/out").count() == batch.count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_dedup_matches_batch_distinct(spark):
    from semargl_spark.streaming.stream_dedup import stream_dedup

    tmp = tempfile.mkdtemp(prefix="semargl-sdedup-")
    try:
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        ).limit(50)
        # inject exact duplicates under fresh ids: 50 distinct bodies, 60 rows
        dupes = docs.limit(10).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
        docs.unionAll(dupes).write.mode("overwrite").parquet(f"{tmp}/in")
        q = stream_dedup(spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt")
        q.awaitTermination()
        out = spark.read.parquet(f"{tmp}/out")
        assert out.count() == 50
        assert out.distinct().count() == 50
        # rerunning the drained stream emits nothing new (exactly-once)
        q2 = stream_dedup(spark, f"{tmp}/in", f"{tmp}/out", f"{tmp}/ckpt")
        q2.awaitTermination()
        assert spark.read.parquet(f"{tmp}/out").count() == 50
        # the distinct hash SET equals the batch SELECT DISTINCT surface
        from semargl_spark.operators.dedup import _hash64, normalized_text

        body = normalized_text("text")
        batch = (
            spark.read.parquet(f"{tmp}/in")
            .select(
                _hash64(body).alias("h1"),
                _hash64(body, seed=0x5EED).alias("h2"),
            )
            .distinct()
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, batch.collect())
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_turtle_serializer():
    from semargl_spark.kernels import ntriples
    from semargl_spark.kernels.turtle import serialize

    doc = (
        '<http://ex.org/a> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://ex.org/T> .\n'
        '<http://ex.org/a> <http://ex.org/p> "x" .\n'
        '<http://ex.org/a> <http://ex.org/p> "y" .\n'
        '<http://ex.org/b> <http://ex.org/q> "multi\\nline" .\n'
    )
    ts, _ = ntriples.parse(doc)
    ttl = serialize(ts, base="http://ex.org/")
    assert "@prefix rdf:" in ttl and "@base <http://ex.org/>" in ttl
    assert "<a> a <T> ;" in ttl
    assert '"x", "y"' in ttl
    assert '"""multi\nline"""' in ttl


def test_minhash_md5_signature_matches_hashlib(spark):
    """Regression for the F.transform two-param-lambda pitfall: a
    `lambda s, seed=seed:` is treated as (element, index), silently
    rebinding the seed to the array index — signatures must equal an
    independent hashlib computation."""
    import hashlib

    from semargl_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    sh = dedup.shingles(docs)
    shl = sh.collect()[0].shingles
    sig = dedup.minhash_signatures(sh, num_hashes=8, hash_method="md5").collect()[
        0
    ].signature

    def h60(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    # affine minhash family over one base hash per shingle
    expected = [
        min(
            (dedup._MH_A[i] * (h60(s) % dedup._MH_P) + dedup._MH_B[i]) % dedup._MH_P
            for s in shl
        )
        for i in range(8)
    ]
    assert list(sig) == expected


def test_ivf_topk_recall_vs_brute_force(spark):
    from semargl_spark.operators import similarity

    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    )
    queries = emb.filter(F.col("vec_id") % 25 == 0)
    exact = similarity.brute_force_topk(emb, queries, k=5)
    approx = similarity.ivf_topk(emb, queries, k=5, nprobe=2, centroid_every=50)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    assert len(a) == len(e)  # k rows per query from both
    recall = len(e & a) / len(e)
    # nprobe=2 of ~10 cells: well over half the true neighbors recalled
    assert recall >= 0.5, recall


def test_model_diff_setops(spark):
    from semargl_spark.operators.setops import model_diff

    t = synth_transcripts(spark, SF_DIR, fmt="ntriples").filter(
        F.col("conv_id").isin("c0", "c1")
    )
    st = triples(extract_statements(t))
    a = st.filter(F.col("turn_idx") == 0)
    b = st.filter(F.col("turn_idx") == 1)
    rows = model_diff(a, b, keys=["conv_id"]).collect()
    # the only per-turn difference is the bnode label literal; bnode
    # labels themselves canonicalize to _:n0 on both sides
    assert len(rows) == 4
    assert {(r["side"], r["obj"]) for r in rows} == {
        ("a", "turn 0"), ("b", "turn 1"),
    }
    assert all(r["subj"] == "_:n0" for r in rows)
    # identical models diff to empty
    assert model_diff(a, a, keys=["conv_id"]).count() == 0


def test_render_turtle_grouping(spark):
    from semargl_spark.operators.serialize_ops import render_turtle_docs

    t = synth_transcripts(spark, SF_DIR, fmt="ntriples").filter(
        (F.col("conv_id") == "c2") & (F.col("turn_idx") == 0)
    )
    doc = render_turtle_docs(t).collect()[0]["turtle"]
    assert doc.startswith("@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .")
    # same-subject grouping: urn:e:2 appears once as a subject line
    assert doc.count("<urn:e:2> ") == 1
    assert " ;\n    <urn:p:knows> <urn:e:3> ;" in doc
    assert '_:bc2_0_n0 <urn:p:label> "turn 0"@en .' in doc


def test_stateful_conversation_progress(spark):
    import tempfile

    from semargl_spark.operators.extract import extract_statements
    from semargl_spark.streaming.stateful import conversation_progress
    from semargl_spark.streaming.stream_extract import read_transcript_stream

    base = tempfile.mkdtemp(prefix="semargl_t_state_")
    t = synth_transcripts(spark, SF_DIR, fmt="ntriples").filter(
        F.col("conv_id").isin("c0", "c1", "c2")
    )
    # several input files + maxFilesPerTrigger=4 → state spans batches
    t.repartition(8).write.mode("overwrite").parquet(f"{base}/in")
    stream = read_transcript_stream(spark, f"{base}/in")
    q = (
        conversation_progress(extract_statements(stream))
        .writeStream.format("memory")
        .queryName("t_state")
        .outputMode("update")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    final = (
        spark.table("t_state")
        .groupBy("conv_id")
        .agg(F.max("statements").alias("statements"), F.max("last_turn").alias("lt"))
        .collect()
    )
    got = {r["conv_id"]: (r["statements"], r["lt"]) for r in final}
    assert got == {"c0": (16, 3), "c1": (16, 3), "c2": (16, 3)}


def test_materialize_idempotent_rerun(spark):
    import tempfile

    from semargl_spark.operators.materialize import materialize_kg

    out = tempfile.mkdtemp(prefix="semargl_t_merge_")
    t = synth_transcripts(spark, SF_DIR, fmt="ntriples").limit(200)
    st = triples(extract_statements(t)).persist()

    def ledger_edges():
        """run_id -> the merge stage row's edge count."""
        return {
            r["run_id"]: r["output_rows"]
            for r in spark.read.parquet(f"{out}/lineage")
            .filter(F.col("partition_id") == -1)
            .collect()
        }

    assert materialize_kg(st, None, out, run_id="r1") == "r1"
    n1 = spark.read.parquet(f"{out}/nodes").count()
    e1 = spark.read.parquet(f"{out}/edges").count()
    assert n1 > 0 and ledger_edges() == {"r1": e1}

    # checkpoint-resume: a full re-run overwrites the node and edge
    # tables — counts must not grow
    materialize_kg(st, None, out, run_id="r2")
    assert spark.read.parquet(f"{out}/nodes").count() == n1
    assert spark.read.parquet(f"{out}/edges").count() == e1

    # lineage is append-only audit: both runs recorded
    assert ledger_edges() == {"r1": e1, "r2": e1}
    st.unpersist()


def test_reassemble_unifies_bnodes(spark):
    from semargl_spark.operators.extract import reassemble_conversations

    t = synth_transcripts(spark, SF_DIR, fmt="ntriples").filter(
        F.col("conv_id") == "c3"
    )
    st = triples(extract_statements(reassemble_conversations(t), "ntriples"))
    labels = st.filter(F.col("pred") == "urn:p:label").collect()
    # one document now: the author label _:a is a single bnode holding
    # all four turn labels (per-turn extraction would mint four bnodes)
    assert len(labels) == 4
    assert {r["subj"] for r in labels} == {"_:bc3_0_n0"}
    assert {r["obj"] for r in labels} == {f"turn {k}" for k in range(4)}


def test_bucketed_join_is_shuffle_free(spark):
    import tempfile

    from semargl_spark.operators.bucketing import read_bucketed, write_bucketed

    base = tempfile.mkdtemp(prefix="semargl_t_bucket_")
    t = synth_transcripts(spark, SF_DIR, fmt="ntriples")
    st = triples(extract_statements(t))
    write_bucketed(
        t.select("conv_id", "turn_idx", "text"), "t_turns", f"{base}/turns", buckets=8
    )
    write_bucketed(st, "t_stmts", f"{base}/stmts", buckets=8)

    a = read_bucketed(spark, "t_turns")
    b = read_bucketed(spark, "t_stmts")
    joined = a.join(b.hint("merge"), "conv_id")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # bucketing-aware scans expose hash partitioning: no Exchange at all
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan
    assert joined.count() == st.count() * 4  # 4 turns join each statement's conv


def test_canonical_bnodes_underscore_conv_ids(spark):
    from semargl_spark.operators.setops import canonical_bnodes

    st = spark.createDataFrame(
        [
            ("_:ba_b_3_n0", "urn:p:x", "_:bx_9_0_n1", "bnode", None, None, None),
            ("urn:e:1", "urn:p:y", "lit", "literal", None, None, None),
        ],
        "subj string, pred string, obj string, obj_kind string, "
        "lang string, dtype string, graph string",
    )
    rows = {r["subj"]: r["obj"] for r in canonical_bnodes(st).collect()}
    # conv_ids containing underscores ('a_b', 'x_9') must still strip to
    # the per-document label
    assert "_:n0" in rows and rows["_:n0"] == "_:n1"
    assert rows["urn:e:1"] == "lit"


def test_dedup_survivors_keeps_numeric_min_per_cluster(spark):
    from semargl_spark.operators.dedup import survivors

    docs = spark.createDataFrame(
        [(7, "a"), (1000007, "a tail"), (9, "b"), (42, "c"), (43, "c2"), (44, "c3")],
        ["doc_id", "text"],
    )
    # clusters: {7, 1000007} and a transitive chain {42, 43, 44}; 9 untouched
    pairs = spark.createDataFrame(
        [(7, 1000007), (42, 43), (43, 44)], ["doc_a", "doc_b"]
    )
    kept = sorted(r["doc_id"] for r in survivors(docs, pairs).collect())
    # numeric min survives — bare string ordering would keep 1000007 over 7
    assert kept == [7, 9, 42]


def test_dedup_survivors_by_score_keeps_best_and_breaks_ties_by_id(spark):
    from pyspark.sql import functions as F

    from semargl_spark.operators.dedup import survivors_by_score

    docs = spark.createDataFrame(
        [(7, "a"), (1000007, "a tail"), (9, "b"),
         (42, "cc"), (43, "cc"), (44, "c")],
        ["doc_id", "text"],
    ).withColumn("score", F.length("text").cast("long"))
    pairs = spark.createDataFrame(
        [(7, 1000007), (42, 43), (43, 44)], ["doc_a", "doc_b"]
    )
    kept = sorted(
        r["doc_id"] for r in survivors_by_score(docs, pairs, "score").collect()
    )
    # {7,1000007}: the LONGER copy wins (opposite of the min-id policy);
    # {42,43,44}: 42 and 43 tie on score → numerically smaller id wins;
    # 9 is in no cluster and passes through
    assert kept == [9, 42, 1000007]
    # full rows survive, not just ids
    cols = survivors_by_score(docs, pairs, "score").columns
    assert cols == ["doc_id", "text", "score"]


def test_fuzzy_link_recovers_distance1_and_rejects_beyond(spark):
    from semargl_spark.operators.link import fuzzy_link_entities

    st = spark.createDataFrame(
        [
            ("c1", 0, "urn:e:1", "urn:p:name", "Alicex", "literal"),
            ("c1", 1, "urn:e:2", "urn:p:name", "Bob", "literal"),
            ("c1", 2, "urn:e:3", "urn:p:name", "Carooool", "literal"),
        ],
        "conv_id string, turn_idx int, subj string, pred string, "
        "obj string, obj_kind string",
    ).selectExpr("*", "cast(null as string) lang",
                 "cast(null as string) dtype", "cast(null as string) graph")
    d = spark.createDataFrame(
        [("Alice", "urn:k:alice", 1.0), ("Bob", "urn:k:bob", 1.0),
         ("Carol", "urn:k:carol", 1.0)],
        "surface_form string, canonical_iri string, weight double",
    )
    out = {r["mention_node"]: r for r in fuzzy_link_entities(st, d).collect()}
    assert out["urn:e:1"]["canonical_iri"] == "urn:k:alice"  # 1 deletion
    assert out["urn:e:2"]["canonical_iri"] == "urn:k:bob"    # exact, score 1.0
    assert out["urn:e:2"]["score"] == 1.0
    assert "urn:e:3" not in out                              # distance 4


def test_fuzzy_link_tiebreak_is_deterministic(spark):
    from semargl_spark.operators.link import fuzzy_link_entities

    st = spark.createDataFrame(
        [("c1", 0, "urn:e:1", "urn:p:name", "entity 42x", "literal")],
        "conv_id string, turn_idx int, subj string, pred string, "
        "obj string, obj_kind string",
    ).selectExpr("*", "cast(null as string) lang",
                 "cast(null as string) dtype", "cast(null as string) graph")
    d = spark.createDataFrame(
        [("entity 42", "urn:k:a", 1.0), ("entity 421", "urn:k:b", 1.0)],
        "surface_form string, canonical_iri string, weight double",
    )
    rows = [fuzzy_link_entities(st, d).collect()[0]["canonical_iri"]
            for _ in range(3)]
    # both candidates are lev 1 / weight 1.0 → max canonical_iri wins
    assert rows == ["urn:k:b"] * 3


def test_fuzzy_link_uses_broadcast_join(spark):
    from semargl_spark.operators.link import fuzzy_link_entities

    st = spark.createDataFrame(
        [("c1", 0, "urn:e:1", "urn:p:name", "Alice", "literal")],
        "conv_id string, turn_idx int, subj string, pred string, "
        "obj string, obj_kind string",
    ).selectExpr("*", "cast(null as string) lang",
                 "cast(null as string) dtype", "cast(null as string) graph")
    d = spark.createDataFrame(
        [("Alice", "urn:k:alice", 1.0)],
        "surface_form string, canonical_iri string, weight double",
    )
    plan = (
        fuzzy_link_entities(st, d)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan


def test_incremental_dedup_decisions_and_index_reuse(spark):
    from semargl_spark.operators import dedup

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different corpus text about spark shuffles"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-dup of corpus doc 1 -> rejected, dup_of=1
            (10, "the quick brown fox jumps over the lazy dog today tail"),
            # genuinely new -> admitted
            (11, "a wholly novel document body with fresh unique words"),
            # intra-batch pair -> 12 admitted, 13 rejected with dup_of=12
            (12, "repeated batch payload alpha beta gamma delta epsilon"),
            (13, "repeated batch payload alpha beta gamma delta epsilon"),
        ],
        "doc_id long, text string",
    )
    out = dedup.incremental_near_dedup(corpus, batch, threshold=0.5)
    got = {r["doc_id"]: (r["dup_of"], r["admitted"]) for r in out.collect()}
    assert got == {
        10: (1, False),
        11: (None, True),
        12: (None, True),
        13: (12, False),
    }
    # the persisted-band-index path must reach the same decisions
    sh_c = dedup.shingles(corpus)
    idx = dedup.banded_rows(corpus, precomputed_shingles=sh_c)
    out2 = dedup.incremental_near_dedup(
        corpus, batch, threshold=0.5, corpus_bands=idx, corpus_shingles=sh_c
    )
    assert {r["doc_id"]: (r["dup_of"], r["admitted"]) for r in out2.collect()} == got


def test_substring_dup_pairs_containment_and_boilerplate_guard(spark):
    from semargl_spark.operators import dedup

    base = " ".join(f"w{i}" for i in range(1, 21))          # 20 words
    boiler = " ".join(f"b{i}" for i in range(1, 17))        # 16 words
    rows = [
        (1, base),
        (2, base + " x1 x2 x3"),                            # containment dup
        (3, " ".join(f"z{i}" for i in range(1, 21))),       # unrelated
    ] + [(10 + i, f"p{i} " + boiler) for i in range(12)]    # hot span ×12
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = dedup.substring_dup_pairs(docs, window=16, max_bucket=10)
    got = {(r.doc_a, r.doc_b): r.n_shared_windows for r in pairs.collect()}
    # doc 1 has 5 16-word windows, all contained in doc 2; the 12
    # boilerplate docs share ONLY the hot span, which the guard drops —
    # no quadratic pair blowup
    assert got == {(1, 2): 5}

    hot = dedup.boilerplate_windows(docs, window=16, min_docs=12).collect()
    assert [(r.win, r.n_docs) for r in hot] == [(boiler, 12)]

    # without the guard the hot bucket pairs quadratically: 12C2 = 66
    unguarded = dedup.substring_dup_pairs(docs, window=16)
    assert unguarded.count() == 66 + 1


def test_cc_incremental_matches_full_recompute(spark):
    from semargl_spark.operators.canon import cc_incremental, connected_components

    old = spark.createDataFrame(
        [("a", "b"), ("c", "d"), ("e", "f")], "src string, dst string")
    comp0 = connected_components(old)
    # delta: bridge two components, attach a fresh node, and one no-op edge
    delta = spark.createDataFrame(
        [("b", "c"), ("f", "g"), ("a", "b")], "src string, dst string")
    inc = {(r["node"], r["component"])
           for r in cc_incremental(comp0, delta).collect()}
    full = {(r["node"], r["component"])
            for r in connected_components(old.unionByName(delta)).collect()}
    assert inc == full
    assert ("g", "e") in inc  # fresh node joined e's component


def test_cc_incremental_noop_delta_is_identity(spark):
    from semargl_spark.operators.canon import cc_incremental, connected_components

    old = spark.createDataFrame([("a", "b"), ("b", "c")], "src string, dst string")
    comp0 = connected_components(old)
    delta = spark.createDataFrame([("a", "c")], "src string, dst string")
    inc = {(r["node"], r["component"])
           for r in cc_incremental(comp0, delta).collect()}
    assert inc == {(r["node"], r["component"]) for r in comp0.collect()}


def test_edge_provenance_counts_and_timestamps(spark):
    from semargl_spark.operators.materialize import edge_provenance

    st = spark.createDataFrame(
        [
            # edge A->B asserted in two convs, three mentions total
            ("c1", 0, "urn:a", "urn:p", "urn:b", "iri"),
            ("c1", 2, "urn:a", "urn:p", "urn:b", "iri"),
            ("c2", 1, "urn:a", "urn:p", "urn:b", "iri"),
            # literal statements never become edges
            ("c1", 0, "urn:a", "urn:n", "x", "literal"),
        ],
        "conv_id string, turn_idx int, subj string, pred string, obj string, obj_kind string",
    )
    t = spark.createDataFrame(
        [
            ("c1", 0, "2024-01-01 00:00:00"),
            ("c1", 2, "2024-01-01 00:02:00"),
            ("c2", 1, "2024-01-01 05:00:00"),
        ],
        "conv_id string, turn_idx int, ts_s string",
    ).select("conv_id", "turn_idx", F.col("ts_s").cast("timestamp").alias("ts"))
    rows = edge_provenance(st, t).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["src"], r["pred"], r["dst"]) == ("urn:a", "urn:p", "urn:b")
    assert r["n_mentions"] == 3 and r["n_convs"] == 2
    assert r["last_ts_us"] - r["first_ts_us"] == 5 * 3600 * 1_000_000


def test_pipeline_fusion_stages(spark, tmp_path):
    """--owl-axioms + --resolve-functional + --fuse-sameas end-to-end:
    a functional clash entails sameAs, voting resolves a contested
    capital, and fusion rewrites every alias mention to the canonical
    member and drops the absorbed sameAs rows."""
    import json as _json

    from jobs.run_pipeline import run

    # three transcripts (sources): t1/t2 agree urn:c:rome is the
    # capital; t3 dissents with urn:c:york. t1 also asserts the same
    # city under an alias (functional clash -> sameAs -> fusion), and
    # a partOf chain for the transitive closure.
    def nt(s, p, o):
        return f"<{s}> <{p}> <{o}> ."

    cap = "urn:p:capital"
    rows = [
        ("t1", 0, nt("urn:s:it", cap, "urn:c:rome")),
        ("t1", 1, nt("urn:s:it", cap, "urn:alias:rome")),
        ("t1", 2, nt("urn:a:1", "urn:p:partOf", "urn:a:2")),
        ("t1", 3, nt("urn:a:2", "urn:p:partOf", "urn:a:3")),
        ("t2", 0, nt("urn:s:it", cap, "urn:c:rome")),
        ("t2", 1, nt("urn:s:de", cap, "urn:c:berlin")),
        ("t3", 0, nt("urn:s:it", cap, "urn:c:york")),
        ("t3", 1, nt("urn:s:de", cap, "urn:c:berlin")),
    ]
    t = spark.createDataFrame(
        [(c, i, x, "user", None, None) for c, i, x in rows],
        "conv_id string, turn_idx int, text string, role string, "
        "tool string, ts timestamp",
    ).withColumn("fmt", F.lit("ntriples"))
    t.write.mode("overwrite").parquet(str(tmp_path / "in"))
    axioms = {"transitive": ["urn:p:partOf"], "functional": [cap]}
    ax_path = tmp_path / "axioms.json"
    ax_path.write_text(_json.dumps(axioms))

    summary = run(
        spark,
        input_path=str(tmp_path / "in"),
        output=str(tmp_path / "out"),
        run_id="rfuse",
        owl_axioms=str(ax_path),
        resolve_functional=cap,
        fuse_sameas=True,
    )
    edges = {
        (r.src, r.pred, r.dst)
        for r in spark.read.parquet(str(tmp_path / "out") + "/edges")
        .select("src", "pred", "dst").collect()
    }
    # voting: rome (2 truthful sources) beats york; the sameAs clash
    # rome~alias:rome and york-vs-rome conflicts all collapse to ONE
    # winning object, rewritten to the class minimum urn:alias:rome
    assert ("urn:s:it", cap, "urn:alias:rome") in edges
    assert not any(d in ("urn:c:rome", "urn:c:york")
                   for s, p, d in edges if p == cap and s == "urn:s:it")
    assert ("urn:s:de", cap, "urn:c:berlin") in edges
    # transitive closure materialized
    assert ("urn:a:1", "urn:p:partOf", "urn:a:3") in edges
    # absorbed sameAs rows dropped
    assert not any(p.endswith("sameAs") for _, p, _ in edges)
    assert summary["owl_inferred"] >= 2  # sameAs + a1->a3
    assert summary["resolved_claims"] == 2  # it + de
    # the functional axiom fires BEFORE voting, so all three clashing
    # objects (rome, alias:rome, york) join one sameAs class — OWL
    # treats a functional clash as identity; voting then picks the
    # winning ROW and fusion renames it to the class minimum
    assert summary["fused_nodes"] == 3
    # lineage records all three new stages
    stages = {
        r.stage
        for r in spark.read.parquet(str(tmp_path / "out") + "/lineage")
        .select("stage").distinct().collect()
    }
    assert {"owl", "resolve", "fuse"} <= stages


def test_conv_near_dups_sequence_sensitive(spark):
    """Replayed conversations pair at jaccard 1.0; reordered turn
    sequences do NOT (2-shingles keep order, not the bag)."""
    from semargl_spark.operators import dedup

    rows = []
    for conv, seq in [
        ("a1", ["x", "y", "z"]),
        ("a2", ["x", "y", "z"]),      # exact replay of a1
        ("a3", ["z", "y", "x"]),      # same bag, reversed order
        ("b1", ["x", "y", "z", "w"]), # one extra turn vs a1
        ("s1", ["solo"]),
        ("s2", ["solo"]),             # single-turn replay
    ]:
        for i, txt in enumerate(seq):
            rows.append((conv, i, "user", txt))
    t = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    got = {
        (r["conv_a"], r["conv_b"]): r["jaccard"]
        for r in dedup.conv_near_dups(t, threshold=0.1).collect()
    }
    assert got[("a1", "a2")] == 1.0
    assert got[("s1", "s2")] == 1.0
    # reversal shares zero 2-shingles with the forward order
    assert ("a1", "a3") not in got and ("a2", "a3") not in got
    # b1 = a1's shingles plus one: jaccard 2/3 when LSH buckets them
    for pair in (("a1", "b1"), ("a2", "b1")):
        if pair in got:
            assert abs(got[pair] - 2 / 3) < 1e-9


def test_conv_turn_shingles_shapes(spark):
    from semargl_spark.operators import dedup

    t = spark.createDataFrame(
        [("c1", 0, "user", "a"), ("c1", 1, "assistant", "b"),
         ("c1", 2, "user", "a"), ("c2", 0, "user", "only")],
        "conv_id string, turn_idx int, role string, text string",
    )
    out = {r["conv_id"]: r["shingles"] for r in
           dedup.conv_turn_shingles(t).collect()}
    assert len(out["c1"]) == 2  # h0-h1 and h1-h2, distinct
    assert len(out["c2"]) == 1  # lone turn hash
    for s in out["c1"]:
        h1, h2 = s.split(" ")
        assert len(h1) == 32 and len(h2) == 32


def test_pipeline_context_registry_extracts_remote_ctx(spark, tmp_path):
    """--context-registry end-to-end: a corpus whose JSON-LD documents
    reference their vocabulary by IRI extracts fully offline when the
    registry file supplies the context; without it the same rows are
    error rows only."""
    import json as _json

    from jobs.run_pipeline import run

    doc = ('{"@context":"https://kg.example/ctx/v1","@id":"urn:e:1",'
           '"knows":"urn:e:2"}')
    t = spark.createDataFrame(
        [("c1", 0, doc, "user", None, None)],
        "conv_id string, turn_idx int, text string, role string, "
        "tool string, ts timestamp",
    ).withColumn("fmt", F.lit("jsonld"))
    t.write.mode("overwrite").parquet(str(tmp_path / "in"))
    registry = {"https://kg.example/ctx/v1":
                {"knows": {"@id": "urn:p:knows", "@type": "@id"}}}

    s1 = run(spark, input_path=str(tmp_path / "in"),
             output=str(tmp_path / "out_without"), run_id="r_noreg")
    assert s1["edges"] == 0 and s1["errors"] == 1

    s2 = run(spark, input_path=str(tmp_path / "in"),
             output=str(tmp_path / "out_with"), run_id="r_reg",
             context_registry=registry)
    assert s2["errors"] == 0 and s2["edges"] == 1
    edges = spark.read.parquet(str(tmp_path / "out_with" / "edges"))
    row = edges.collect()[0]
    assert (row.src, row.pred, row.dst) == ("urn:e:1", "urn:p:knows", "urn:e:2")
