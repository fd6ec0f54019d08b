"""Streaming ingest → KG materialize (north_rule: incremental pipeline
over the landing transcript table, resumable, exactly-once).

``foreachBatch`` + an idempotent per-batch write gives exactly-once
merge semantics on a replay-prone substrate: each micro-batch's edges
land in a ``batch_id=N`` partition via dynamic partition overwrite, so
a batch replayed after a failure overwrites ITS OWN partition instead
of appending duplicates (the parquet analogue of Iceberg's
snapshot-per-commit; Structured Streaming guarantees the same batch_id
is re-offered on replay). The queryable edge set is the staging table
minus the batch column, distinct.

Per-batch lineage rows (run_id = "<run>-b<batch_id>") extend the batch
ledger (operators/materialize.write_lineage) to streaming: the same
(run_id, stage) dynamic overwrite keeps replays duplicate-free, and an
auditor can replay counts batch by batch.

Scale: each micro-batch is a narrow extract + one distinct shuffle over
just that batch's edges; the cumulative distinct is deferred to read
time (or a periodic compaction job) instead of re-shuffling the whole
graph per batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_statements
from ..operators.materialize import kg_edges, lineage_rows, write_lineage
from ..spark_util import is_missing_path
from .stream_extract import read_transcript_stream


def stream_to_kg(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    checkpoint_path: str,
    run_id: str = "stream",
):
    """Stream transcript files → per-batch edge merge + lineage.

    Returns the StreamingQuery (``trigger(availableNow=True)`` — drain
    with ``awaitTermination``; re-running after a drain is a no-op via
    the stream checkpoint, and a replayed batch is idempotent via the
    batch_id partition overwrite)."""
    stream = read_transcript_stream(spark, input_path)
    statements = extract_statements(stream)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        st = batch_df.filter(F.col("obj_kind") != "error")
        edges = kg_edges(st)
        (
            edges.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/edges_staging")
        )
        write_lineage(
            lineage_rows(edges, f"{run_id}-b{batch_id}", "stream_merge"),
            f"{out_dir}/lineage",
        )

    return (
        statements.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def stream_canonicalize(
    spark: SparkSession,
    input_path: str,
    equiv_fn,
    out_dir: str,
    checkpoint_path: str,
    run_id: str = "stream-canon",
):
    """Continuously-maintained entity canonicalization: per micro-batch,
    derive the batch's equivalence edges with ``equiv_fn`` (non-error
    statements → (src, dst) rows — e.g. broadcast-dictionary linking via
    ``operators.link.link_entities``, or an ``owl:sameAs`` predicate
    filter) and fold them into the accumulated (node, component)
    assignment with :func:`operators.canon.cc_incremental` — the corpus
    is never re-clustered. ``equiv_fn`` is explicit because the right
    aliasing signal is corpus-specific; a default that silently yields
    self-loops would write an empty changelog.

    State lives as a **changelog**, not a snapshot: each batch appends
    ONLY the changed/new assignment rows under ``batch_id=N`` (dynamic
    partition overwrite — a replayed batch overwrites its own partition,
    and the fold reads strictly ``batch_id < N``, so replay recomputes
    byte-identical rows instead of double-applying). The current view is
    the latest row per node (:func:`canonical_view`); a periodic
    compaction can rewrite the log to one snapshot without changing
    readers. Labels are the component-wide minimum node id in both the
    incremental and the from-scratch path, so the changelog view always
    equals a full-batch recompute.

    Scale shape: per batch the full assignment is touched exactly twice
    inside cc_incremental (contract + remap joins); the CC loop runs
    over the contracted DELTA only; the changed-rows anti-join is keyed
    on (node, component). At 10^12 nodes the remap/anti-join are the
    dominant cost — the Iceberg form is a MERGE on changed keys.

    Returns the StreamingQuery (availableNow trigger)."""
    from ..operators.canon import cc_incremental

    stream = read_transcript_stream(spark, input_path)
    statements = extract_statements(stream)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        session = batch_df.sparkSession
        st = batch_df.filter(F.col("obj_kind") != "error")
        equiv = equiv_fn(st).select("src", "dst").distinct()
        prev = canonical_view(session, out_dir, before_batch=batch_id)
        if prev is None:
            prev = session.createDataFrame([], "node string, component string")
        new_assign = cc_incremental(prev, equiv)
        changed = new_assign.join(prev, ["node", "component"], "left_anti")
        (
            changed.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/components_log")
        )
        write_lineage(
            lineage_rows(changed, f"{run_id}-b{batch_id}", "stream_canon"),
            f"{out_dir}/lineage",
        )

    return (
        statements.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )


def canonical_view(
    spark: SparkSession, out_dir: str, before_batch: int | None = None
) -> DataFrame | None:
    """Current (node, component) assignment from the changelog: the
    latest row per node (ties impossible — one row per node per batch).
    ``before_batch`` restricts to strictly earlier batches (the
    replay-safe fold input). None when no log exists yet; any other
    read failure propagates, because folding a batch into an empty
    assignment after a transient or corrupt read would relabel every
    component it touches."""
    from pyspark.sql.window import Window

    try:
        log = spark.read.parquet(f"{out_dir}/components_log")
    except Exception as exc:
        if not is_missing_path(exc):
            raise
        return None
    if before_batch is not None:
        log = log.filter(F.col("batch_id") < before_batch)
    w = Window.partitionBy("node").orderBy(F.desc("batch_id"))
    return (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("node", "component")
    )


def kg_edges_view(spark: SparkSession, out_dir: str) -> DataFrame:
    """The queryable edge set: staging minus the batch column, distinct
    (an edge extracted in two different batches is one edge)."""
    return (
        spark.read.parquet(f"{out_dir}/edges_staging")
        .select("src", "pred", "dst")
        .distinct()
    )
