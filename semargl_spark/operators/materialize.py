"""Graph materialization + lineage/metrics side outputs (north_rule
"merge" stage; reference analogue: the terminal CharOutputSink /
third-party store sinks, CharOutputSink.java:34-198).

Spark-first shape:
* nodes/edges are plain parquet tables, overwritten whole: a run into a
  used output dir leaves exactly that run's graph (canonical ids come
  from a global connected-components pass, so a row-level merge into an
  earlier graph would keep stale ids);
* every stage emits per-partition lineage rows (run_id, stage,
  partition_id, input/output/error rows, order-insensitive checksum,
  wall time) plus one stage-summary row. The lineage table is the
  run's stage ledger: a stage recorded for the run_id skips its writes
  on resume, and the job's summary reads its stage counts from the
  stage-summary rows (jobs/run_pipeline.py).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kg_nodes(triples: DataFrame, components: DataFrame | None = None) -> DataFrame:
    """Distinct graph nodes with their canonical representative."""
    subj = triples.filter(F.col("obj_kind") != "error").select(
        F.col("subj").alias("node")
    )
    obj = (
        triples.filter(F.col("obj_kind").isin("iri", "bnode"))
        .select(F.col("obj").alias("node"))
    )
    nodes = subj.union(obj).distinct()
    if components is not None:
        nodes = nodes.join(components, "node", "left").select(
            "node", F.coalesce("component", "node").alias("canonical")
        )
    else:
        nodes = nodes.select("node", F.col("node").alias("canonical"))
    return nodes


def kg_edges(triples: DataFrame, components: DataFrame | None = None) -> DataFrame:
    """IRI/bnode-object triples as edges, endpoints canonicalized.

    The result is (lazily) localCheckpointed for batch inputs: the edge
    table almost always feeds a multi-pattern BGP join tree, and
    Catalyst plans the whole upstream extraction kernel ONCE PER
    PATTERN otherwise (observed: 3-4 MapInArrow extraction subtrees and
    0 ReusedExchange in the kg query plans). Disk/parquet-backed edge
    tables don't pass through here — run_pipeline reads its
    materialized table back, keeping columnar pruning; streaming
    inputs can't checkpoint and keep the plain plan."""
    edges = triples.filter(F.col("obj_kind").isin("iri", "bnode")).select(
        F.col("subj").alias("src"), F.col("pred"), F.col("obj").alias("dst")
    )
    if components is not None:
        src_map = components.select(
            F.col("node").alias("src"), F.col("component").alias("src_canon")
        )
        dst_map = components.select(
            F.col("node").alias("dst"), F.col("component").alias("dst_canon")
        )
        edges = (
            edges.join(src_map, "src", "left")
            .join(dst_map, "dst", "left")
            .select(
                F.coalesce("src_canon", "src").alias("src"),
                "pred",
                F.coalesce("dst_canon", "dst").alias("dst"),
            )
        )
    out = edges.distinct()
    if out.isStreaming:
        return out
    return out.localCheckpoint(eager=False)


def lineage_rows(
    df: DataFrame,
    run_id: str,
    stage: str,
    shard=None,
    row_hash=None,
) -> DataFrame:
    """Per-partition lineage/metrics (FIXTURES.md §5): one row per
    partition with row counts and an order-insensitive checksum, plus
    one stage-summary row (``partition_id = -1``).

    ``error_rows`` counts processor-graph rows when the frame carries an
    ``obj_kind`` column (statements-shaped input), else 0. Each stage
    audits its output frame only, so ``input_rows`` equals
    ``output_rows``. ``wall_ms`` is not measured by this aggregate (0);
    the job-level summary carries wall time.

    The frame is read once: the stage row sums the per-partition rows'
    raw counts and hash sums (checksums are formatted afterwards), and
    exists even for an empty stage, so the ledger records completion.

    By default the shard key is the *physical* partition id
    (``spark_partition_id``) and the row hash Spark's murmur3 — fastest,
    but plan-dependent, so the ledger is only self-consistent. Passing a
    deterministic ``shard`` Column (e.g. a key-hash bucket) and an
    externally replicable ``row_hash`` Column makes the ledger
    value-auditable by systems outside Spark — that is what the
    correctness gate's `lineage` query does."""
    cols = df.columns
    err = (
        F.when(F.col("obj_kind") == "error", 1).otherwise(0)
        if "obj_kind" in cols
        else F.lit(0)
    )
    per_partition = df.select(
        (F.spark_partition_id() if shard is None else shard).alias("partition_id"),
        (F.hash(*cols) if row_hash is None else row_hash).alias("h"),
        err.alias("is_err"),
    ).groupBy("partition_id").agg(
        F.count("*").cast("long").alias("output_rows"),
        F.coalesce(F.sum("is_err"), F.lit(0)).cast("long").alias("error_rows"),
        F.coalesce(F.sum(F.col("h").cast("long")), F.lit(0)).alias("h"),
    )
    # a global aggregate yields its one row even over no partitions
    stage_row = per_partition.agg(
        F.lit(-1).alias("partition_id"),
        *(F.coalesce(F.sum(c), F.lit(0)).cast("long").alias(c)
          for c in ("output_rows", "error_rows", "h")),
    )
    return per_partition.unionByName(stage_row).select(
        F.lit(run_id).alias("run_id"),
        F.lit(stage).alias("stage"),
        F.col("partition_id").cast("int"),
        F.col("output_rows").alias("input_rows"),
        "output_rows",
        "error_rows",
        F.format_string("%016x", "h").alias("checksum"),
        F.lit(0).cast("long").alias("wall_ms"),
    )


def write_lineage(lineage: DataFrame, path: str) -> None:
    """Idempotent ledger write: one physical partition per (run_id,
    stage), dynamic-overwritten — re-running a stage replaces its own
    ledger rows instead of appending duplicates, so the resume reader
    and external auditors never see double-counted partitions. (Iceberg
    would make this a MERGE on (run_id, stage, partition_id); dynamic
    partition overwrite is the parquet stand-in with the same
    idempotency contract, minus snapshot isolation for truly
    simultaneous writers.)"""
    (
        lineage.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_id", "stage")
        .parquet(path)
    )


def materialize_kg(
    triples: DataFrame,
    components: DataFrame | None,
    out_dir: str,
    run_id: str | None = None,
) -> str:
    """merge stage: replace the nodes and edges tables with this graph
    and write the edges' ledger rows; returns the run id the rows carry.
    ``kg_edges`` is checkpointed, so the ledger checksum describes the
    edges that were written."""
    run_id = run_id or f"run-{int(time.time())}"
    edges = kg_edges(triples, components)
    nodes = kg_nodes(triples, components)
    nodes.write.mode("overwrite").parquet(f"{out_dir}/nodes")
    edges.write.mode("overwrite").parquet(f"{out_dir}/edges")
    write_lineage(lineage_rows(edges, run_id, "merge"), f"{out_dir}/lineage")
    return run_id


def edge_provenance(statements: DataFrame, transcripts: DataFrame) -> DataFrame:
    """Temporal provenance per KG edge → (src, pred, dst, n_mentions,
    n_convs, first_ts_us, last_ts_us): how many turn-level assertions
    back each IRI/bnode-object edge, across how many conversations, and
    the first/last assertion timestamps (epoch micros — the integer
    form every ts oracle here uses). The temporal-KG counterpart of
    kg_edges: the edge table says WHAT holds, this says WHEN and HOW
    OFTEN the corpus asserted it (recency/support signals for KG
    confidence scoring and snapshot diffing).

    Mention rows join the transcript frame on (conv_id, turn_idx) to
    pick up the real ``ts`` column — the same co-partitioned equi-join
    every per-turn enrichment here uses — then one hash aggregation on
    the edge triple (map-side partial merge; hot edges collapse before
    the shuffle, with countDistinct planned as the standard two-phase
    expand). Output is edge-vocabulary-sized, mentions are
    corpus-scale."""
    mentions = statements.filter(
        F.col("obj_kind").isin("iri", "bnode")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("subj").alias("src"),
        "pred",
        F.col("obj").alias("dst"),
    )
    with_ts = mentions.join(
        transcripts.select("conv_id", "turn_idx", "ts"), ["conv_id", "turn_idx"]
    )
    return with_ts.groupBy("src", "pred", "dst").agg(
        F.count("*").cast("long").alias("n_mentions"),
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.unix_micros(F.min("ts")).alias("first_ts_us"),
        F.unix_micros(F.max("ts")).alias("last_ts_us"),
    )


def kg_asof(assertions: DataFrame, at_ts: int) -> DataFrame:
    """Point-in-time KG view → (src, pred, dst, asserted_ts): for each
    (subject, predicate), the LATEST assertion at or before ``at_ts``
    — "what did the graph believe at time T". The temporal-KG
    companion of :func:`edge_provenance` (which aggregates assertion
    history) and kg_snapshot_diff (which compares two views): facts
    re-asserted with new objects supersede older ones, facts first
    asserted after T don't exist yet.

    One window over (src, pred) — the natural near-unique key, no skew
    by construction — ordered (ts desc, dst asc) so re-assertions at
    the same timestamp resolve deterministically. The ``ts <= T``
    filter is pushed to the scan; on a ts-partitioned assertion table
    it prunes every later partition before any shuffle.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("src", "pred").orderBy(
        F.desc("ts"), F.asc("dst")
    )
    return (
        assertions.filter(F.col("ts") <= F.lit(int(at_ts)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "src", "pred", "dst", F.col("ts").cast("long").alias(
                "asserted_ts"
            )
        )
    )

