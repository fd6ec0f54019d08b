"""Session helpers: package shipping and tuned session construction.

``ensure_py_files`` makes the ``semargl_spark`` package importable on
executor Python workers regardless of the driver's cwd — the programmatic
equivalent of ``spark-submit --py-files semargl_spark.zip`` (north_rule
packaging). Without it, ``mapInArrow`` closures that reference kernel
modules fail to unpickle on workers launched outside the repo root.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import DataFrame, SparkSession

_SHIPPED: set[str] = set()


def build_pyfiles_zip(dest: str | None = None) -> str:
    """Zip the semargl_spark package for --py-files / addPyFile.

    Freshness is judged on the full (path, mtime) listing — max-mtime
    alone would keep a stale zip alive after a module is deleted or
    renamed — and the temp file is per-PID so concurrent sessions don't
    race on the rename."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if dest is None:
        dest = os.path.join(tempfile.gettempdir(), "semargl_spark_pyfiles.zip")
    listing = sorted(
        (os.path.relpath(os.path.join(root, f), pkg_dir),
         int(os.path.getmtime(os.path.join(root, f))))
        for root, _dirs, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    )
    import hashlib

    manifest = hashlib.sha256(repr(listing).encode()).hexdigest()
    stamp = dest + ".manifest"
    if os.path.exists(dest) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read().strip() == manifest:
                return dest
    tmp = f"{dest}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                zf.write(full, rel)
    os.replace(tmp, dest)
    with open(stamp + f".{os.getpid()}.tmp", "w") as fh:
        fh.write(manifest)
    os.replace(stamp + f".{os.getpid()}.tmp", stamp)
    return dest


def is_connect(spark: SparkSession) -> bool:
    """True for a Spark Connect session (no SparkContext, gRPC plan
    channel). Detected structurally, not by import, so classic-only
    builds never pay the connect import."""
    return type(spark).__module__.startswith("pyspark.sql.connect")


def default_parallelism(spark: SparkSession) -> int:
    """Connect-safe cluster width for repartition() of small seed
    tables: classic sessions report the scheduler's
    ``defaultParallelism``; Connect sessions expose no SparkContext, so
    fall back to ``spark.sql.shuffle.partitions`` (the session's own
    sizing knob — same order of magnitude, and exactness is irrelevant
    here: the value only spreads generator work across cores)."""
    if not is_connect(spark):
        return spark.sparkContext.defaultParallelism
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return 8


def is_missing_path(exc: Exception) -> bool:
    """True iff ``exc`` is Spark's missing-input-path analysis error
    (``PATH_NOT_FOUND`` / "Path does not exist").

    Readers that treat "table not created yet" as an empty table must
    use this to distinguish that one benign case from real read
    failures (transient FS/S3 errors, permissions): swallowing the
    latter reads lost or unreadable data as "nothing yet", so
    everything that is not a missing path re-raises."""
    from pyspark.errors import AnalysisException

    if not isinstance(exc, AnalysisException):
        return False
    msg = str(exc)
    return "PATH_NOT_FOUND" in msg or "Path does not exist" in msg


def iterate(step, state, rounds: int, until=None):
    """Run a round loop → ``(state, stopped)``: the one place that
    decides how every iterative operator truncates lineage and when it
    stops.

    ``step(state, r)`` builds round ``r``'s state (r = 1..``rounds``)
    without running an action. ``state`` is a DataFrame or a tuple whose
    non-DataFrame items pass through. After each round every DataFrame
    item is checkpointed: the first eagerly when there is a stop test
    (the test reads it, then the next round does), the rest lazily. A
    classic session with ``sparkContext.getCheckpointDir()`` set gets a
    reliable ``checkpoint()``, which survives losing an executor (and
    recomputes the round once to write it); otherwise, and on Connect,
    ``localCheckpoint``, whose blocks live on executor storage.
    ``until(state)`` is the round's delta; the loop stops once it is
    empty, probed with ``isEmpty()`` before every round and after
    the last. Without ``until`` exactly ``rounds`` rounds run (0 is
    allowed). ``stopped`` says whether the stop test fired; a loop that
    must converge raises when it did not.

    The initial state is the caller's and must be cheap to re-read. A
    step that folds a delta into an accumulator folds the one it
    receives (last round's, already checkpointed), not the one it
    builds, which the lazy accumulator would otherwise re-derive.
    """

    def truncate(x, eager):
        if not isinstance(x, DataFrame):
            return x
        spark = x.sparkSession
        if not is_connect(spark) and spark.sparkContext.getCheckpointDir():
            return x.checkpoint(eager=eager)
        return x.localCheckpoint(eager=eager)

    def stop(s):
        return until is not None and until(s).isEmpty()

    for r in range(1, rounds + 1):
        if stop(state):
            return state, True
        state = step(state, r)
        if isinstance(state, tuple):
            rest = tuple(truncate(x, False) for x in state[1:])
            state = (truncate(state[0], until is not None),) + rest
        else:
            state = truncate(state, until is not None)
    return state, stop(state)


def delete_path(spark: SparkSession, path: str) -> None:
    """Connect-safe recursive path delete for table maintenance jobs
    (stream_c14n compaction reaping stale partitions): classic sessions
    go through the Hadoop FileSystem of the path (works on HDFS/S3A/
    local alike); Connect sessions have no JVM channel, so local paths
    are removed directly and remote URIs are left to the catalog layer
    (an Iceberg expire-snapshots analogue owns them there)."""
    if not is_connect(spark):
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        p.getFileSystem(conf).delete(p, True)
        return
    import shutil
    from urllib.parse import urlparse

    u = urlparse(path)
    if u.scheme in ("", "file"):
        shutil.rmtree(u.path or path, ignore_errors=True)


def ensure_py_files(spark: SparkSession) -> None:
    """Ship the package to executors once per application. Classic
    sessions use ``sparkContext.addPyFile``; Connect sessions ship the
    same zip through the session-scoped artifact channel
    (``addArtifacts(..., pyfile=True)``)."""
    if is_connect(spark):
        key = f"connect-{id(spark)}"
        if key in _SHIPPED:
            return
        spark.addArtifacts(build_pyfiles_zip(), pyfile=True)
        _SHIPPED.add(key)
        return
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED:
        return
    spark.sparkContext.addPyFile(build_pyfiles_zip())
    _SHIPPED.add(app_id)


# Scale-oriented session defaults that do not depend on the host:
# AQE on (runtime re-plan + skew-join), Arrow enabled, Kryo. Applied by
# tuned_session and by the spark-submit jobs, which leave master,
# parallelism and memory to spark-submit.
SESSION_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python-UDF-bound scans need finer input splits than the 128MB
    # default: extraction costs ~50us/row, so a 128MB split is
    # minutes of single-task work (SURVEY.md §4.2 spill-aware sizing)
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    "spark.sql.execution.arrow.maxRecordsPerBatch": "20000",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
}


def tuned_session(
    parallelism: int = 8,
    app_name: str = "semargl-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Local session with :data:`SESSION_DEFAULTS` plus shuffle
    partitions sized to the parallelism level and a local-mode driver
    heap. ``extra_conf`` entries are applied LAST, so callers (e.g. the
    stress harness enabling the UI for its REST metrics) can override
    any default."""
    sp = shuffle_partitions if shuffle_partitions is not None else max(parallelism * 2, 8)
    builder = (
        SparkSession.builder.master(f"local[{parallelism}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config(map=SESSION_DEFAULTS)
        # local mode = ONE JVM doing all executors' work: the 1g
        # spark.driver.memory default leaves 16-32 Arrow-heavy tasks
        # GC-bound (observed: GCLocker allocation stalls at local[32]).
        # Takes effect only when this session launches the JVM — the
        # cluster analogue is executor memory, set by spark-submit.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "20g"),
        )
        .config("spark.ui.enabled", "false")
        .appName(app_name)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_py_files(spark)
    return spark
