"""Graph materialization + lineage/metrics side outputs (north_rule
"merge" stage; reference analogue: the terminal CharOutputSink /
third-party store sinks, CharOutputSink.java:34-198).

Spark-first shape:
* nodes/edges written as parquet partitioned by a stable bucket of the
  node id — ``partitionOverwriteMode=dynamic`` makes re-runs of a subset
  of input partitions idempotent (the Iceberg MERGE stand-in available
  in this sandbox; the write path is isolated here so an Iceberg catalog
  can swap in);
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

from ..spark_util import is_missing_path, is_missing_table

N_BUCKETS = 64


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


def write_partitioned(df: DataFrame, path: str, bucket_col: str = "src") -> None:
    """Idempotent partitioned write: dynamic partition overwrite over a
    stable id bucket → re-running a subset only rewrites its partitions."""
    (
        df.withColumn("bucket", F.pmod(F.hash(bucket_col), F.lit(N_BUCKETS)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(path)
    )


def iceberg_catalog(spark) -> str | None:
    """Name of a configured Iceberg catalog in this session, or None.

    A catalog counts as configured when ``spark.sql.catalog.<name>``
    points at an Iceberg Spark catalog class. Deployments can name
    theirs explicitly via ``spark.semargl.iceberg.catalog``; otherwise
    the conventional names (``iceberg``, ``local``, ``spark_catalog``)
    are probed. Callers use it to pick a catalog for
    ``merge_upsert(..., backend="iceberg")`` — pure conf inspection, no
    JVM access, so it works identically under Spark Connect."""
    names: list[str] = []
    try:
        names.append(spark.conf.get("spark.semargl.iceberg.catalog"))
    except Exception:
        pass
    names += ["iceberg", "local", "spark_catalog"]
    for n in names:
        if not n:
            continue
        try:
            cls = spark.conf.get(f"spark.sql.catalog.{n}")
        except Exception:
            continue
        if cls and "iceberg" in cls.lower():
            return n
    return None


def _merge_upsert_iceberg(
    spark, table: str, updates: DataFrame, key_cols: list[str]
) -> dict:
    """The real ``MERGE INTO`` upsert for an Iceberg table identifier —
    WHEN MATCHED UPDATE SET * / WHEN NOT MATCHED INSERT *, the exact
    statement the parquet stand-in's differential test
    (tests/test_merge_semantics.py) pins row-for-row against DuckDB's
    upsert, so the two backends are interchangeable to callers. The
    update/insert split is counted with a left-semi against the current
    snapshot BEFORE the merge (Iceberg's MERGE reports no row counts to
    the session); a missing table is created from the delta. The delta
    is evaluated once, so the counts and the merge see the same rows."""
    updates = updates.localCheckpoint(eager=True)
    try:
        cur = spark.table(table)
    except Exception as exc:
        if not is_missing_table(exc):
            raise
        updates.writeTo(table).using("iceberg").create()
        return {"updated": 0, "inserted": updates.count()}
    n_updated = cur.join(updates.select(*key_cols), key_cols, "left_semi").count()
    n_inserted = updates.count() - n_updated
    view = f"_semargl_merge_src_{abs(hash(table)) % 10**8}"
    updates.createOrReplaceTempView(view)
    on = " AND ".join(f"t.{k} = u.{k}" for k in key_cols)
    try:
        spark.sql(
            f"MERGE INTO {table} t USING {view} u ON {on} "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *"
        )
    finally:
        spark.catalog.dropTempView(view)
    return {"updated": n_updated, "inserted": n_inserted}


def merge_upsert(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    bucket_col: str | None = None,
    backend: str = "parquet",
) -> dict:
    """``MERGE INTO`` stand-in over the bucketed parquet table at
    ``path``: WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
    INSERT * — the upsert Iceberg's MERGE would run, expressed over the
    dynamic-partition-overwrite layout :func:`write_partitioned` uses,
    so an Iceberg catalog can swap in without changing callers.
    Returns ``{"updated": n, "inserted": n}``.

    Requires ``updates`` key-unique (real MERGE engines error on
    multiple matches; pre-aggregate upstream). Semantics are
    differential-tested against DuckDB's upsert
    (INSERT .. ON CONFLICT DO UPDATE) in tests/test_merge_semantics.py.

    Scale shape: only the buckets containing incoming keys are read and
    rewritten — bucket values of the delta are collected (≤ N_BUCKETS
    scalars), partition-prune the current table's scan, and the merged
    content of just those buckets dynamic-overwrites; untouched buckets'
    files are never opened. The merged frame is eagerly checkpointed
    before the write because parquet has no snapshot isolation — the
    read and the overwrite of the same files cannot overlap (this, plus
    concurrent-writer atomicity, is exactly what the Iceberg swap buys;
    the row-level outcome is identical).

    Backend selection: only an explicit ``backend="iceberg"`` treats
    ``path`` as an Iceberg table identifier and runs a real
    ``MERGE INTO`` (:func:`_merge_upsert_iceberg`); any other value
    keeps the parquet stand-in, so a relative path is never mistaken
    for a catalog table. The differential test parametrizes over both
    backends and skips the Iceberg leg when no catalog is configured.
    """
    if backend == "iceberg":
        return _merge_upsert_iceberg(spark, path, updates, key_cols)
    bucket_col = bucket_col or key_cols[0]
    if bucket_col not in key_cols:
        # Key equality only pins a row's bucket when the bucket column is
        # part of the key: otherwise a matched current row whose
        # bucket_col differs from the update's lands in an untouched
        # bucket — neither replaced nor counted — leaving a duplicate key.
        raise ValueError(
            f"bucket_col {bucket_col!r} must be one of key_cols {key_cols!r}"
        )
    bucket = F.pmod(F.hash(bucket_col), F.lit(N_BUCKETS))
    delta = updates.withColumn("bucket", bucket)
    try:
        current = spark.read.parquet(path)
        table_exists = True
    except Exception as exc:
        # Only a genuinely missing table means "first write". Any other
        # read failure (transient FS error, permissions) must propagate:
        # proceeding would dynamic-overwrite the delta's buckets with
        # delta-only rows, silently dropping every surviving row there.
        if not is_missing_path(exc):
            raise
        table_exists = False
    if not table_exists:
        delta.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("bucket").parquet(path)
        return {"updated": 0, "inserted": delta.count()}

    touched = [r["bucket"] for r in delta.select("bucket").distinct().collect()]
    cur = current.filter(F.col("bucket").isin(touched))
    keys = key_cols
    survivors = cur.join(updates.select(*keys), keys, "left_anti")
    n_updated = cur.join(updates.select(*keys), keys, "left_semi").count()
    n_inserted = updates.count() - n_updated
    merged = survivors.unionByName(
        delta.select(*cur.columns)
    ).localCheckpoint(eager=True)
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(path)
    return {"updated": n_updated, "inserted": n_inserted}


def materialize_kg(
    triples: DataFrame,
    components: DataFrame | None,
    out_dir: str,
    run_id: str | None = None,
) -> str:
    """merge stage: write nodes, edges and the edges' ledger rows;
    returns the run id the rows carry. ``kg_edges`` is checkpointed, so
    the ledger checksum describes the edges that were written."""
    run_id = run_id or f"run-{int(time.time())}"
    edges = kg_edges(triples, components)
    write_partitioned(kg_nodes(triples, components), f"{out_dir}/nodes", "node")
    write_partitioned(edges, f"{out_dir}/edges", "src")
    write_lineage(lineage_rows(edges, run_id, "merge"), f"{out_dir}/lineage")
    return run_id


def compact_parquet(
    spark,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target_file_bytes) files → summary dict with
    before/after file counts and the row count (verified unchanged).

    The operational counterpart of Iceberg's rewrite_data_files: a
    streaming or per-micro-batch writer leaves thousands of KB-sized
    files per partition, and at 10^12-row scale the NameNode/manifest
    pressure and per-file open cost dominate reads. Rewrite is atomic
    at the directory level: the compacted copy is written beside the
    original and swapped in with two renames, so a concurrent reader
    sees the old or the new directory, never a half-written one. Row
    count is re-verified after the swap; a mismatch raises (never
    silently lose data to save file handles).
    """
    import math
    import os
    import shutil

    if target_file_bytes < 1:
        raise ValueError(f"target_file_bytes must be >= 1, got {target_file_bytes}")
    df = spark.read.parquet(path)
    n_rows = df.count()
    files = [
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(path)
        for f in fn
        if f.endswith(".parquet")
    ]
    total = sum(os.path.getsize(f) for f in files)
    n_out = max(1, math.ceil(total / target_file_bytes))
    tmp = path.rstrip("/") + "__compacting"
    old = path.rstrip("/") + "__precompact"
    df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
    os.rename(path.rstrip("/"), old)
    os.rename(tmp, path.rstrip("/"))
    after = spark.read.parquet(path)
    n_after = after.count()
    if n_after != n_rows:
        # roll back before raising — the original data is intact
        os.rename(path.rstrip("/"), tmp)
        os.rename(old, path.rstrip("/"))
        raise RuntimeError(
            f"compaction row-count mismatch: {n_rows} -> {n_after}; rolled back"
        )
    shutil.rmtree(old)
    out_files = [
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(path)
        for f in fn
        if f.endswith(".parquet")
    ]
    return {
        "files_before": len(files),
        "files_after": len(out_files),
        "rows": n_rows,
    }


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

