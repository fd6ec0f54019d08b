"""Streaming ingest → KG merge: exactly-once + replay idempotency.

The reference has no cross-document streaming; this is the north_rule's
incremental-ingest surface. The invariants: streaming result equals the
batch result, draining an already-drained stream is a no-op, and a
REPLAYED micro-batch (the failure mode foreachBatch exposes) rewrites
its own partition instead of duplicating edges.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from semargl_spark.operators.extract import extract_statements, triples
from semargl_spark.operators.materialize import kg_edges
from semargl_spark.sources.transcripts import synth_transcripts
from semargl_spark.streaming.stream_kg import kg_edges_view, stream_to_kg

from conftest import SF_DIR


def test_stream_to_kg_matches_batch_and_replays_clean(spark):
    base = tempfile.mkdtemp(prefix="semargl-streamkg-")
    try:
        t = synth_transcripts(spark, SF_DIR, fmt="ntriples").limit(200)
        t.repartition(8, "conv_id").write.mode("overwrite").parquet(f"{base}/in")

        q = stream_to_kg(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
        q.awaitTermination()

        streamed = kg_edges_view(spark, f"{base}/out")
        batch = kg_edges(
            triples(extract_statements(spark.read.parquet(f"{base}/in")))
        )
        assert sorted(map(tuple, streamed.collect())) == sorted(
            map(tuple, batch.collect())
        )

        # multiple micro-batches actually happened (maxFilesPerTrigger=4
        # over 8 input files)
        staging = spark.read.parquet(f"{base}/out/edges_staging")
        n_batches = staging.select("batch_id").distinct().count()
        assert n_batches >= 2

        # drain again: checkpoint makes it a no-op
        q2 = stream_to_kg(spark, f"{base}/in", f"{base}/out", f"{base}/ckpt")
        q2.awaitTermination()
        assert kg_edges_view(spark, f"{base}/out").count() == batch.count()

        # simulate a REPLAYED batch: re-merge batch 0's data by hand —
        # the batch_id partition overwrite must leave counts unchanged
        from semargl_spark.streaming.stream_kg import lineage_rows, write_lineage

        st0 = extract_statements(spark.read.parquet(f"{base}/in"))
        edges0 = kg_edges(st0.filter(F.col("obj_kind") != "error"))
        (
            edges0.withColumn("batch_id", F.lit(0))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{base}/out/edges_staging")
        )
        write_lineage(
            lineage_rows(edges0, "stream-b0", "stream_merge"),
            f"{base}/out/lineage",
        )
        # view is distinct: the richer replayed batch-0 partition may
        # overlap other batches' edges but never duplicates the view
        assert kg_edges_view(spark, f"{base}/out").count() == batch.count()
        lineage = spark.read.parquet(f"{base}/out/lineage")
        copies = (
            lineage.groupBy("run_id", "stage", "partition_id")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert copies == 1
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_stream_canonicalize_matches_batch_cc(spark):
    """The changelog-folded streaming assignment equals a from-scratch
    connected-components run over ALL equivalence edges (labels are the
    component-min in both paths), survives a re-drain, and a replayed
    batch rewrites its own changelog partition instead of forking the
    view."""
    import tempfile

    from semargl_spark.operators.canon import connected_components
    from semargl_spark.streaming.stream_kg import (
        canonical_view, stream_canonicalize,
    )

    def knows_equiv(st):
        # the same knows-block aliasing rule the pipeline_kg gate uses
        # (the synthetic dictionary maps mentions to their own IRIs, so
        # linking contributes only self-loops on this corpus)
        src_id = F.regexp_extract("subj", r"urn:e:(\d+)", 1).cast("long")
        return (
            st.filter((F.col("pred") == "urn:p:knows") & (src_id % 16 != 15))
            .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        )

    base = tempfile.mkdtemp(prefix="semargl-streamcanon-")
    try:
        t = synth_transcripts(spark, SF_DIR, fmt="ntriples").limit(200)
        t.repartition(8, "conv_id").write.mode("overwrite").parquet(f"{base}/in")

        q = stream_canonicalize(
            spark, f"{base}/in", knows_equiv, f"{base}/out", f"{base}/ckpt"
        )
        q.awaitTermination()

        st = triples(extract_statements(spark.read.parquet(f"{base}/in")))
        batch = {
            (r["node"], r["component"])
            for r in connected_components(knows_equiv(st).distinct()).collect()
        }
        streamed = {
            (r["node"], r["component"])
            for r in canonical_view(spark, f"{base}/out").collect()
        }
        assert streamed == batch and len(batch) > 0

        log = spark.read.parquet(f"{base}/out/components_log")
        assert log.select("batch_id").distinct().count() >= 2

        # drain again: checkpoint no-op
        q2 = stream_canonicalize(
            spark, f"{base}/in", knows_equiv, f"{base}/out", f"{base}/ckpt"
        )
        q2.awaitTermination()
        streamed2 = {
            (r["node"], r["component"])
            for r in canonical_view(spark, f"{base}/out").collect()
        }
        assert streamed2 == batch
    finally:
        import shutil as _sh

        _sh.rmtree(base, ignore_errors=True)


def test_canonical_view_reraises_a_corrupt_changelog_read(spark, tmp_path):
    """Only a MISSING changelog reads as "no log yet": a changelog that
    cannot be read must fail the fold, not fold the next batch into an
    empty assignment."""
    import pytest

    from semargl_spark.streaming.stream_kg import canonical_view

    assert canonical_view(spark, str(tmp_path / "fresh")) is None
    bad = tmp_path / "out" / "components_log" / "batch_id=0"
    bad.mkdir(parents=True)
    (bad / "part-00000-corrupt.snappy.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception) as err:
        canonical_view(spark, str(tmp_path / "out"))
    assert "Path does not exist" not in str(err.value)


def test_stream_sessions_match_batch_sessionizer(spark, tmp_path):
    """Session windows drained via availableNow == the batch lag()
    sessionizer restricted to watermark-closed sessions."""
    import semargl_spark.queries_pipeline as qp

    out = qp.q_events_stream_sessions(spark, SF_DIR)
    rows = {(r["session_start"], r["session_end"], r["user_id"], r["n"])
            for r in out.collect()}
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp").cast("double")
    ns = F.when(
        (epoch - F.lag(epoch).over(w)).isNull()
        | ((epoch - F.lag(epoch).over(w)) > 1800), 1).otherwise(0)
    sess = (
        ev.select("user_id", "event_id", F.col("ts").cast("timestamp").alias("ts"))
        .withColumn("sid", F.sum(ns).over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("session_start"),
             (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
             F.count("*").cast("long").alias("n"))
    )
    wm = ev.agg((F.max(F.col("ts").cast("timestamp"))
                 - F.expr("INTERVAL 1 HOUR")).alias("w")).first()["w"]
    batch = {(r["session_start"], r["session_end"], r["user_id"], r["n"])
             for r in sess.filter(F.col("session_end") <= F.lit(wm)).collect()}
    assert rows == batch and len(rows) > 0


def test_stream_cardinality_merge_is_replay_idempotent(spark, tmp_path):
    """Re-draining the same input with a FRESH checkpoint re-offers
    every batch; bottom-k union merging must leave the persisted
    sketch bit-identical (idempotent, order-insensitive)."""
    from semargl_spark.streaming.stream_sketch import (
        sketch_estimate,
        stream_cardinality,
    )

    rows = [(i, f"w{i % 300} w{(i * 7) % 300} common") for i in range(600)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.repartition(4).write.mode("overwrite").parquet(
        str(tmp_path / "in")
    )
    q = stream_cardinality(
        spark, str(tmp_path / "in"), str(tmp_path / "state"),
        str(tmp_path / "ckpt1"), k=32,
    )
    q.awaitTermination()
    first = sketch_estimate(spark, str(tmp_path / "state"), k=32).collect()
    # full replay into the same state, fresh checkpoint
    q2 = stream_cardinality(
        spark, str(tmp_path / "in"), str(tmp_path / "state"),
        str(tmp_path / "ckpt2"), k=32,
    )
    q2.awaitTermination()
    second = sketch_estimate(spark, str(tmp_path / "state"), k=32).collect()
    assert first == second
    assert first[0]["n_hashes"] == 32
    # 301 distinct words; 12.5%-sigma estimator, allow 4 sigma
    assert 150 <= first[0]["est_distinct"] <= 600


def test_stream_heavy_hitters_replay_and_batch_parity(spark, tmp_path):
    """A full re-drain with a fresh checkpoint re-offers every batch;
    per-batch grid overwrite must leave the summed counters identical
    (no double counting), and the summed grid must equal the batch CM
    grid over the same rows (counter addition commutes across batch
    boundaries)."""
    from pyspark.sql import functions as F

    from semargl_spark.operators.sketch import cm_grid, cm_probe
    from semargl_spark.streaming.stream_sketch import (
        hh_counters,
        stream_heavy_hitters,
    )

    rows = [(i, f"w{i % 50} w{(i * 3) % 50} common") for i in range(400)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.repartition(4).write.mode("overwrite").parquet(str(tmp_path / "in"))
    for ckpt in ("ckpt1", "ckpt2"):  # second run is a full replay
        q = stream_heavy_hitters(
            spark, str(tmp_path / "in"), str(tmp_path / "state"),
            str(tmp_path / ckpt), d=4, w=256,
        )
        q.awaitTermination()
    streamed = {
        (r.r, r.bucket): r.cnt
        for r in hh_counters(spark, str(tmp_path / "state")).collect()
    }
    vals = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("v")
    ).filter(F.col("v") != "")
    batch = {
        (r.r, r.bucket): r.cnt for r in cm_grid(vals, 4, 256).collect()
    }
    assert streamed == batch
    # estimates upper-bound exact counts
    top = (
        vals.groupBy("v").agg(F.count("*").cast("long").alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("v")).limit(5)
    )
    for r in cm_probe(
        hh_counters(spark, str(tmp_path / "state")), top, d=4, w=256
    ).collect():
        assert r.est >= r.n_exact


def test_stream_c14n_replay_and_batch_parity(spark, tmp_path):
    """Streaming content addresses == batch c14n_doc_hashes; a re-drain
    is a no-op and a replayed batch overwrites its own partition."""
    from pyspark.sql import functions as F

    from semargl_spark.operators.c14n_ops import c14n_doc_hashes
    from semargl_spark.streaming.stream_c14n import (
        c14n_first_seen,
        stream_c14n,
    )

    rows = []
    for d in range(12):
        conv = f"c{d}"
        r = d % 3  # 3 duplicate classes
        rows += [
            (conv, 0, "_:x", "urn:p:label", f"x{r}", "literal",
             None, None, None),
            (conv, 0, "_:x", "urn:p:knows", "_:y", "bnode",
             None, None, None),
            (conv, 0, "_:y", "urn:p:label", f"y{r}", "literal",
             None, None, None),
        ]
    ddl = ("conv_id string, turn_idx int, subj string, pred string,"
           " obj string, obj_kind string, lang string, dtype string,"
           " graph string")
    st = spark.createDataFrame(rows, ddl)
    st.repartition(4, "conv_id", "turn_idx").write.mode("overwrite").parquet(
        str(tmp_path / "in")
    )
    q = stream_c14n(spark, str(tmp_path / "in"), str(tmp_path / "out"),
                    str(tmp_path / "ckpt"))
    q.awaitTermination()
    got = {
        r["doc_sha256"]: (r["keep_conv"], r["n_docs"])
        for r in c14n_first_seen(spark, str(tmp_path / "out")).collect()
    }
    batch = c14n_doc_hashes(st)
    exp = {
        r["doc_sha256"]: (f"c{r['mn']}", r["n"])
        for r in batch.groupBy("doc_sha256").agg(
            F.min(F.substring("conv_id", 2, 9).cast("long")).alias("mn"),
            F.count("*").alias("n"),
        ).collect()
    }
    assert got == exp and len(got) == 3
    # re-drain: checkpoint makes it a no-op, counts unchanged
    q2 = stream_c14n(spark, str(tmp_path / "in"), str(tmp_path / "out"),
                     str(tmp_path / "ckpt"))
    q2.awaitTermination()
    again = {
        r["doc_sha256"]: (r["keep_conv"], r["n_docs"])
        for r in c14n_first_seen(spark, str(tmp_path / "out")).collect()
    }
    assert again == got


def test_stream_c14n_compaction_boundary_replay(spark, tmp_path):
    """Seen-set compaction (r3 verdict item 5): folding the staging
    table to min-key keeper rows under a batch_id watermark must leave
    c14n_first_seen invariant; batches draining AFTER the compaction
    still merge correctly; and a stale pre-watermark batch that
    re-lands post-compaction (crashed-writer replay) is ignored by the
    watermark — the exactly-once guard across the boundary."""
    import os

    from pyspark.sql import functions as F

    from semargl_spark.streaming.stream_c14n import (
        c14n_compact,
        c14n_first_seen,
        stream_c14n,
    )

    ddl = ("conv_id string, turn_idx int, subj string, pred string,"
           " obj string, obj_kind string, lang string, dtype string,"
           " graph string")

    def doc(d):
        conv, r = f"c{d}", d % 3
        return [
            (conv, 0, "_:x", "urn:p:label", f"x{r}", "literal",
             None, None, None),
            (conv, 0, "_:x", "urn:p:knows", "_:y", "bnode",
             None, None, None),
        ]

    in_dir, out, ck = (str(tmp_path / p) for p in ("in", "out", "ckpt"))
    first = [row for d in range(8) for row in doc(d)]
    spark.createDataFrame(first, ddl).repartition(
        4, "conv_id", "turn_idx"
    ).write.mode("overwrite").parquet(in_dir)
    stream_c14n(spark, in_dir, out, ck).awaitTermination()
    before = {
        r["doc_sha256"]: (r["keep_conv"], r["n_docs"])
        for r in c14n_first_seen(spark, out).collect()
    }
    assert sum(n for _, n in before.values()) == 8

    info = c14n_compact(spark, out)
    assert info["rows_after"] == 3  # one keeper row per content address
    after = {
        r["doc_sha256"]: (r["keep_conv"], r["n_docs"])
        for r in c14n_first_seen(spark, out).collect()
    }
    assert after == before
    # raw batch partitions are gone; only the snapshot remains
    parts = [d for d in os.listdir(out) if d.startswith("batch_id=")]
    assert parts == [f"batch_id={-(info['compacted_through'] + 2)}"]

    # fresh batches drain across the boundary and merge with keepers
    more = [row for d in range(8, 12) for row in doc(d)]
    spark.createDataFrame(more, ddl).repartition(
        2, "conv_id", "turn_idx"
    ).write.mode("append").parquet(in_dir)
    stream_c14n(spark, in_dir, out, ck).awaitTermination()
    merged = {
        r["doc_sha256"]: (r["keep_conv"], r["n_docs"])
        for r in c14n_first_seen(spark, out).collect()
    }
    assert sum(n for _, n in merged.values()) == 12
    assert {k: v[0] for k, v in merged.items()} == {
        k: v[0] for k, v in before.items()
    }  # keepers unchanged: the pre-compaction minima survive the fold

    # crashed-writer replay: a pre-watermark batch re-lands verbatim —
    # the watermark filter must ignore it entirely
    replay = spark.createDataFrame(first[:4], ddl)
    from semargl_spark.operators.c14n_ops import c14n_doc_hashes

    (
        c14n_doc_hashes(replay)
        .withColumn("batch_id", F.lit(0))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(out)
    )
    ignored = {
        r["doc_sha256"]: (r["keep_conv"], r["n_docs"])
        for r in c14n_first_seen(spark, out).collect()
    }
    assert ignored == merged

    # second compaction folds keepers + fresh batches; counts invariant
    info2 = c14n_compact(spark, out)
    assert info2["compacted_through"] > info["compacted_through"]
    final = {
        r["doc_sha256"]: (r["keep_conv"], r["n_docs"])
        for r in c14n_first_seen(spark, out).collect()
    }
    assert final == merged


def test_render_conversation_matches_batch_chat_render(spark):
    """The streaming renderer's pure kernel must be byte-identical to
    the batch chat_render template, spans included."""
    from semargl_spark.operators.conversation import chat_render
    from semargl_spark.streaming.stream_sft import render_conversation

    turns = [
        (1, "assistant", "héllo\nwörld"),
        (0, "user", "hi"),
        (2, "tool", '{"a": 1}'),
        (3, "assistant", ""),
    ]
    df = spark.createDataFrame(
        [("c1", i, r, x) for i, r, x in turns],
        "conv_id string, turn_idx int, role string, text string",
    )
    batch = chat_render(df).collect()[0]
    rendered, n_chars, n_mask, spans = render_conversation(turns)
    assert rendered == batch["rendered"]
    assert n_chars == batch["n_chars"]
    assert n_mask == batch["n_mask"]
    assert spans == batch["mask_spans"]


def test_stream_chat_render_emits_once_across_batches(spark, tmp_path):
    """Turns split across micro-batches: each conversation emits
    exactly once, on the batch where it completes."""
    from semargl_spark.streaming.stream_extract import read_transcript_stream
    from semargl_spark.streaming.stream_sft import stream_chat_render
    import pyspark.sql.functions as F

    rows = [("c%d" % c, i, "user" if i % 2 == 0 else "assistant",
             f"t{c}-{i}", None, None) for c in range(3) for i in range(4)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    df.repartition(6, "conv_id", "turn_idx").write.mode("overwrite")\
      .parquet(str(tmp_path / "in"))
    stream = read_transcript_stream(spark, str(tmp_path / "in"))
    out = stream_chat_render(stream, expected_turns=4)
    q = (out.writeStream.format("memory").queryName("sft_once")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("sft_once").collect()
    assert sorted(r["conv_id"] for r in got) == ["c0", "c1", "c2"]
    for r in got:
        assert r["n_mask"] == 2 and r["rendered"].count("<|end|>") == 4


def test_stream_chat_render_dedupes_redelivered_turns(spark, tmp_path):
    """An at-least-once upstream redelivers turns: the duplicate must
    neither double-render in the document nor fake completion."""
    from semargl_spark.streaming.stream_extract import read_transcript_stream
    from semargl_spark.streaming.stream_sft import stream_chat_render

    rows = [("c0", i, "user" if i % 2 == 0 else "assistant",
             f"t{i}", None, None) for i in range(4)]
    rows += rows[:2]  # turns 0 and 1 delivered twice
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts timestamp")
    df.write.mode("overwrite").parquet(str(tmp_path / "in"))
    stream = read_transcript_stream(spark, str(tmp_path / "in"))
    out = stream_chat_render(stream, expected_turns=4)
    q = (out.writeStream.format("memory").queryName("sft_dedup")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("sft_dedup").collect()
    assert len(got) == 1
    assert got[0]["rendered"].count("<|end|>") == 4
    assert got[0]["n_mask"] == 2


def test_stream_chat_render_ttl_reclaims_stale_state(spark, tmp_path):
    """A conversation that never completes is reclaimed by the TTL:
    with on_timeout='emit' its partial render surfaces instead of
    pinning the state store forever. ProcessingTimeTimeout keeps an
    availableNow query alive indefinitely (see the operator
    docstring), so this runs a continuous processingTime trigger and
    stops it once both documents surface."""
    import time

    from semargl_spark.schema import TRANSCRIPTS_SCHEMA
    from semargl_spark.streaming.stream_sft import stream_chat_render

    # file a: incomplete conversation (2 of 4 turns); file b (a later
    # micro-batch under maxFilesPerTrigger=1) advances processing time
    # past the 1 ms TTL so the timeout fires
    a = [("stale", 0, "user", "u0", None, None),
         ("stale", 1, "assistant", "a1", None, None)]
    b = [("done", i, "user" if i % 2 == 0 else "assistant",
          f"t{i}", None, None) for i in range(4)]
    (tmp_path / "in").mkdir()
    spark.createDataFrame(a, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(str(tmp_path / "in"))
    time.sleep(1.1)  # file-source batch order follows mod time
    spark.createDataFrame(b, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(str(tmp_path / "in"))
    stream = (spark.readStream.schema(TRANSCRIPTS_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "in")))
    out = stream_chat_render(stream, expected_turns=4,
                             ttl_ms=1, on_timeout="emit")
    q = (out.writeStream.format("memory").queryName("sft_ttl")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="1 second").start())
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if spark.table("sft_ttl").count() >= 2:
                break
            time.sleep(1)
    finally:
        q.stop()
    got = {r["conv_id"]: r for r in spark.table("sft_ttl").collect()}
    assert got["done"]["rendered"].count("<|end|>") == 4
    assert got["stale"]["rendered"].count("<|end|>") == 2  # partial emit
    assert got["stale"]["n_mask"] == 1


def test_stream_chat_render_ttl_drop_discards_stale(spark, tmp_path):
    """on_timeout='drop' (the default): the stale conversation's state
    is reclaimed and nothing partial is emitted."""
    import time

    from semargl_spark.schema import TRANSCRIPTS_SCHEMA
    from semargl_spark.streaming.stream_sft import stream_chat_render

    a = [("stale", 0, "user", "u0", None, None)]
    b = [("done", i, "user" if i % 2 == 0 else "assistant",
          f"t{i}", None, None) for i in range(2)]
    (tmp_path / "in").mkdir()
    spark.createDataFrame(a, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(str(tmp_path / "in"))
    time.sleep(1.1)
    spark.createDataFrame(b, TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append").parquet(str(tmp_path / "in"))
    stream = (spark.readStream.schema(TRANSCRIPTS_SCHEMA)
              .option("maxFilesPerTrigger", 1)
              .parquet(str(tmp_path / "in")))
    out = stream_chat_render(stream, expected_turns=2, ttl_ms=1)
    q = (out.writeStream.format("memory").queryName("sft_ttl_drop")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="1 second").start())
    try:
        deadline = time.time() + 90
        while time.time() < deadline:
            rows = spark.table("sft_ttl_drop").collect()
            if any(r["conv_id"] == "done" for r in rows):
                # give the timeout batch a moment to run, then confirm
                # the stale conversation never surfaced
                time.sleep(4)
                rows = spark.table("sft_ttl_drop").collect()
                break
            time.sleep(1)
    finally:
        q.stop()
    assert sorted(r["conv_id"] for r in rows) == ["done"]


def test_stream_work_time_covers_every_micro_batch(spark, tmp_path):
    """A gate's streaming work time sums every micro-batch of its run,
    not just the 100 the query's ``recentProgress`` ring keeps."""
    from semargl_spark import queries_pipeline as QP

    src = tmp_path / "in"
    src.mkdir()
    for i in range(105):
        (src / f"part-{i:03d}.txt").write_text(f"line {i}\n")
    q = (
        spark.readStream.format("text").option("maxFilesPerTrigger", 1)
        .load(str(src))
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    key = f"test_work_{tmp_path.name}"
    QP._drain(spark, q, key)
    ring = q.recentProgress
    dropped = ring[0]["batchId"]
    assert dropped >= 5 and ring[-1]["batchId"] == 104
    ring_ms = sum(p["durationMs"]["triggerExecution"] for p in ring)
    # the batches the ring dropped ran too, each for at least 1 ms
    assert QP.STREAM_WORK_SEC.pop(key) >= round((ring_ms + dropped) / 1000.0, 3)
