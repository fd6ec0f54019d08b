"""spark_util.iterate: the one round loop every iterative operator runs
on — per-round lineage truncation, the emptiness stop test, and the
stopped-early report that convergent loops turn into their error."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from semargl_spark.spark_util import iterate

from conftest import SF_DIR


def _plan_nodes(df) -> int:
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


def test_plan_stays_flat_across_rounds(spark):
    start = spark.range(8).withColumn("x", F.col("id"))

    def bump(df, _r):
        return df.withColumn("x", F.col("x") + 1)

    one, _ = iterate(bump, start, 1)
    thirty, stopped = iterate(bump, start, 30)
    assert not stopped
    assert _plan_nodes(thirty) <= _plan_nodes(one)
    assert {r["x"] - r["id"] for r in thirty.collect()} == {30}


def test_stops_when_delta_empties(spark):
    calls = []

    # the delta (the state itself) loses its smallest id each round and
    # is empty after round k = 5
    def shrink(df, r):
        calls.append(r)
        return df.filter(F.col("id") >= r)

    state, stopped = iterate(shrink, spark.range(5), 10, until=lambda s: s)
    assert stopped
    assert calls == [1, 2, 3, 4, 5]
    assert state.isEmpty()


def test_cap_reports_not_stopped(spark):
    calls = []

    def keep(state, r):
        calls.append(r)
        live, _ = state
        return live, None

    (live, _), stopped = iterate(
        keep, (spark.range(3), None), 4, until=lambda s: s[0]
    )
    assert not stopped
    assert calls == [1, 2, 3, 4]
    assert live.count() == 3
    # zero rounds is a valid budget: the state comes back as handed in
    start = spark.range(2)
    same, stopped = iterate(keep, start, 0)
    assert same is start and not stopped


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """The session's reliable checkpoint dir, set for one test and then
    unset again (PySpark has no public unset)."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    yield tmp_path / "ckpt"
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def _rows(pdf):
    cols = sorted(pdf.columns)
    return sorted(
        tuple(None if v is None else str(v) for v in r)
        for r in pdf[cols].itertuples(index=False, name=None)
    )


@pytest.mark.parametrize("gate", ["canonicalize", "kg_pagerank"])
def test_reliable_checkpoints_keep_oracle_output(spark, checkpoint_dir, gate,
                                                 monkeypatch):
    """With a checkpoint dir set, CC and PageRank write their rounds'
    reliable checkpoints there and still match their DuckDB oracles."""
    import duckdb

    import __spark_entry__ as entry
    from semargl_spark.operators import canon

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'")
    want = con.sql(entry.oracle_sql()[gate]).df()

    def check_oracle():
        got = entry.queries()[gate](spark, SF_DIR).toPandas()
        assert sorted(got.columns) == sorted(want.columns)
        assert _rows(got) == _rows(want)

    check_oracle()
    if gate == "canonicalize":
        # the gate's graph closes on the driver with no round to
        # checkpoint: force the contraction rounds and check again
        monkeypatch.setattr(canon, "_DRIVER_EDGES", 0)
        check_oracle()
    assert any(p.is_dir() for p in checkpoint_dir.glob("*/rdd-*"))
