"""MERGE-INTO differential: the parquet dynamic-overwrite stand-in
(materialize.merge_upsert) must produce the exact row-level outcome a
real MERGE engine produces for the same upsert stream — final table
AND per-batch update-vs-insert splits — replayed against DuckDB's
upsert (INSERT .. ON CONFLICT DO UPDATE, the MERGE WHEN MATCHED
UPDATE / WHEN NOT MATCHED INSERT pair). This is the contract an
Iceberg swap must preserve (r3 verdict item 4)."""

import duckdb
import pytest
from pyspark.sql import SparkSession

from semargl_spark.operators.materialize import merge_upsert


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s


BATCHES = [
    # (node, canonical, degree) — keys recur across batches, values move
    [("n1", "c1", 1), ("n2", "c1", 2), ("n3", "c3", 3)],
    [("n2", "c9", 20), ("n4", "c4", 4)],            # update n2, insert n4
    [("n1", "c1", 11), ("n5", "c5", 5), ("n6", "c1", 6)],
    [("n6", "c6", 60), ("n3", "c3", 3)],            # update to same value too
]


def _duck_replay(batches):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t(node VARCHAR PRIMARY KEY, canonical VARCHAR,"
        " degree BIGINT)"
    )
    splits = []
    for rows in batches:
        vals = ", ".join(
            f"('{n}', '{c}', {d})" for n, c, d in rows
        )
        matched = con.execute(
            f"SELECT count(*) FROM t WHERE node IN "
            f"(SELECT node FROM (VALUES {vals}) s(node, canonical, degree))"
        ).fetchone()[0]
        con.execute(
            f"INSERT INTO t VALUES {vals} ON CONFLICT (node) DO UPDATE SET"
            " canonical = excluded.canonical, degree = excluded.degree"
        )
        splits.append({"updated": matched, "inserted": len(rows) - matched})
    final = con.execute(
        "SELECT node, canonical, degree FROM t ORDER BY node"
    ).fetchall()
    con.close()
    return splits, final


def _spark_replay(spark, batches, path):
    splits = []
    for rows in batches:
        df = spark.createDataFrame(
            rows, "node string, canonical string, degree long"
        )
        splits.append(merge_upsert(spark, path, df, ["node"]))
    final = sorted(
        (r["node"], r["canonical"], r["degree"])
        for r in spark.read.parquet(path)
        .select("node", "canonical", "degree")
        .collect()
    )
    return splits, final


def _iceberg_ready(spark) -> bool:
    from semargl_spark.operators.materialize import iceberg_catalog

    return iceberg_catalog(spark) is not None


@pytest.fixture(params=["parquet", "iceberg"])
def backend(request, spark):
    """Both merge backends share one differential: the parquet stand-in
    always runs; the real MERGE INTO leg runs when the session has an
    Iceberg catalog configured (no runtime in this sandbox → skip, the
    contract still pinned by the shared replay)."""
    if request.param == "iceberg" and not _iceberg_ready(spark):
        pytest.skip("no Iceberg catalog configured in this session")
    return request.param


def test_merge_upsert_matches_duckdb_upsert(spark, tmp_path, backend):
    duck_splits, duck_final = _duck_replay(BATCHES)
    if backend == "parquet":
        target = str(tmp_path / "t")
    else:
        from semargl_spark.operators.materialize import iceberg_catalog

        target = f"{iceberg_catalog(spark)}.db.merge_diff"
        spark.sql(f"DROP TABLE IF EXISTS {target}")
    splits, final = [], None
    for rows in BATCHES:
        df = spark.createDataFrame(
            rows, "node string, canonical string, degree long"
        )
        splits.append(
            merge_upsert(spark, target, df, ["node"], backend=backend)
        )
    reader = (
        spark.read.parquet(target)
        if backend == "parquet"
        else spark.table(target)
    )
    final = sorted(
        (r["node"], r["canonical"], r["degree"])
        for r in reader.select("node", "canonical", "degree").collect()
    )
    assert splits == duck_splits
    assert final == duck_final


def test_merge_upsert_rerun_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "t")
    _spark_replay(spark, BATCHES, path)
    before = sorted(map(tuple, spark.read.parquet(path).collect()))
    # re-applying the last batch: every row matches, nothing inserted,
    # table content unchanged
    df = spark.createDataFrame(
        BATCHES[-1], "node string, canonical string, degree long"
    )
    out = merge_upsert(spark, path, df, ["node"])
    assert out == {"updated": len(BATCHES[-1]), "inserted": 0}
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before


def test_merge_upsert_composite_key(spark, tmp_path):
    path = str(tmp_path / "t")
    b1 = [("c1", 0, "hello"), ("c1", 1, "world"), ("c2", 0, "x")]
    b2 = [("c1", 1, "WORLD"), ("c3", 0, "new")]
    df1 = spark.createDataFrame(b1, "conv_id string, turn_idx int, text string")
    df2 = spark.createDataFrame(b2, "conv_id string, turn_idx int, text string")
    assert merge_upsert(spark, path, df1, ["conv_id", "turn_idx"]) == {
        "updated": 0, "inserted": 3,
    }
    assert merge_upsert(spark, path, df2, ["conv_id", "turn_idx"]) == {
        "updated": 1, "inserted": 1,
    }
    rows = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in spark.read.parquet(path)
        .select("conv_id", "turn_idx", "text").collect()
    )
    assert rows == [
        ("c1", 0, "hello"), ("c1", 1, "WORLD"), ("c2", 0, "x"),
        ("c3", 0, "new"),
    ]


def test_merge_upsert_touches_only_delta_buckets(spark, tmp_path):
    """Partition pruning contract: a one-key delta rewrites that key's
    bucket only — every other bucket's files keep their mtimes."""
    import os

    path = str(tmp_path / "t")
    rows = [(f"n{i}", "c", i) for i in range(200)]
    df = spark.createDataFrame(rows, "node string, canonical string, degree long")
    merge_upsert(spark, path, df, ["node"])
    mtimes = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                mtimes[p] = os.stat(p).st_mtime_ns
    one = spark.createDataFrame(
        [("n7", "c9", 999)], "node string, canonical string, degree long"
    )
    merge_upsert(spark, path, one, ["node"])
    changed_dirs = set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                if p not in mtimes or os.stat(p).st_mtime_ns != mtimes[p]:
                    changed_dirs.add(os.path.basename(root))
    assert len(changed_dirs) == 1  # exactly the bucket holding n7


def test_merge_upsert_rejects_bucket_col_outside_key(spark, tmp_path):
    """bucket_col must be part of the key: key equality only pins the
    bucket when the bucket column is in the key, so anything else would
    let a matched row survive in an untouched bucket (duplicate key)."""
    df = spark.createDataFrame(
        [("n1", "c1", 1)], "node string, canonical string, degree long"
    )
    with pytest.raises(ValueError, match="bucket_col"):
        merge_upsert(
            spark, str(tmp_path / "t"), df, ["node"], bucket_col="canonical"
        )


def test_merge_upsert_propagates_non_missing_read_errors(spark, tmp_path):
    """Only a missing path means 'first write'. A table dir that exists
    but cannot be read as parquet (stand-in for transient FS/permission
    failures) must raise — NOT be treated as empty, which would
    overwrite the delta's buckets and silently drop surviving rows."""
    path = tmp_path / "t"
    path.mkdir()
    (path / "part-0000.parquet").write_bytes(b"this is not parquet")
    df = spark.createDataFrame(
        [("n1", "c1", 1)], "node string, canonical string, degree long"
    )
    with pytest.raises(Exception):
        merge_upsert(spark, str(path), df, ["node"])
    # and the garbage dir was not clobbered by a delta-only overwrite
    assert (path / "part-0000.parquet").read_bytes() == b"this is not parquet"


def test_merge_upsert_relative_path_stays_parquet_with_iceberg_catalog(spark):
    """Only an explicit backend="iceberg" runs MERGE INTO: a slash-free
    relative path is a parquet table even while an Iceberg-named
    catalog is configured (it used to be routed to the catalog)."""
    import os
    import shutil
    import uuid

    from semargl_spark.operators.materialize import iceberg_catalog

    name = f"merge_rel_{uuid.uuid4().hex[:8]}"
    # relative paths resolve against the JVM's working directory
    on_disk = os.path.join(
        spark.sparkContext._jvm.System.getProperty("user.dir"), name
    )
    conf = "spark.sql.catalog.iceberg"
    spark.conf.set(conf, "org.apache.iceberg.spark.SparkCatalog")
    try:
        assert iceberg_catalog(spark) == "iceberg"
        df = spark.createDataFrame(
            [("n1", "c1", 1)], "node string, canonical string, degree long"
        )
        assert merge_upsert(spark, name, df, ["node"]) == {
            "updated": 0, "inserted": 1,
        }
        rows = spark.read.parquet(on_disk).select("node").collect()
        assert [r["node"] for r in rows] == ["n1"]
    finally:
        spark.conf.unset(conf)
        shutil.rmtree(on_disk, ignore_errors=True)


def test_is_missing_table_only_matches_table_not_found(spark):
    """The Iceberg leg creates the table only when the probe reports
    table-not-found; any other lookup failure must propagate."""
    from semargl_spark.spark_util import is_missing_table

    with pytest.raises(Exception) as missing:
        spark.table("merge_no_such_table")
    assert is_missing_table(missing.value)
    with pytest.raises(Exception) as other:
        spark.table("a.b.c.d")  # malformed identifier, not a missing table
    assert not is_missing_table(other.value)
    assert not is_missing_table(ValueError("TABLE_OR_VIEW_NOT_FOUND"))
