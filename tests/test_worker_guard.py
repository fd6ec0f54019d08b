"""The zip re-read guard PySpark workers install when they import the
package: an unchanged archive is not re-read, a changed one is, per
importer; and in Spark, a zip shipped after the first task still imports
and both worker pools run with the guard."""

from __future__ import annotations

import os
import uuid
import zipfile
import zipimport

import pytest

from semargl_spark import _worker_guard


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in members.items():
            zf.writestr(name, body)


@pytest.fixture
def reads(monkeypatch):
    """Guard ``zipimporter.invalidate_caches`` for this test only and
    count the central-directory reads behind it."""
    calls = []
    read = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        _worker_guard.guarded(zipimport.zipimporter.invalidate_caches),
    )
    return calls


def _rewrite(path, members):
    """Rewrite the archive with a new member and a new size."""
    before = os.stat(path)
    _write_zip(path, members)
    assert os.stat(path).st_size != before.st_size


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    n = len(reads)
    imp.invalidate_caches()  # an importer the guard has not seen reads once
    assert len(reads) == n + 1
    for _ in range(5):
        imp.invalidate_caches()
    assert len(reads) == n + 1
    assert imp.find_spec("mod_a") is not None


def test_rewritten_archive_is_reread(tmp_path, reads):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"mod_a.py": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    imp.invalidate_caches()
    n = len(reads)
    assert imp.find_spec("mod_b") is None
    _rewrite(path, {"mod_a.py": "X = 1\n", "mod_b.py": "Y = 2\n"})
    imp.invalidate_caches()
    assert len(reads) == n + 1
    assert imp.find_spec("mod_b") is not None


def test_every_importer_of_one_archive_sees_the_rewrite(tmp_path, reads):
    # pyspark.zip has a root importer and package-prefix importers over
    # one file; a stat key per archive path would let only the first of
    # them re-read
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"pkg/__init__.py": "", "pkg/old.py": ""})
    root = zipimport.zipimporter(path)
    sub = zipimport.zipimporter(os.path.join(path, "pkg"))
    for imp in (root, sub):
        imp.invalidate_caches()
    n = len(reads)
    _rewrite(path, {"pkg/__init__.py": "", "pkg/old.py": "", "pkg/new.py": "Z = 3\n"})
    for imp in (root, sub):
        imp.invalidate_caches()
    assert len(reads) == n + 2
    assert "pkg/new.py" in root._files
    assert sub.find_spec("pkg.new") is not None


def test_driver_is_not_patched():
    # only a PySpark worker installs the guard when importing the package
    assert "PYTHON_WORKER_FACTORY_SECRET" not in os.environ
    assert not _worker_guard.installed()


# ------------------------------------------------------------ in Spark


def test_zip_added_after_first_task_imports_in_reused_workers(spark, tmp_path):
    """A zip shipped with addPyFile after the workers ran their first
    task is on the path of their later tasks and imports there."""
    from semargl_spark.spark_util import ensure_py_files

    ensure_py_files(spark)
    sc = spark.sparkContext

    def pids(it):
        import os

        for _ in it:
            pass
        yield os.getpid()

    first = sc.parallelize(range(4), 4).mapPartitions(pids).collect()

    mod = f"late_{uuid.uuid4().hex[:10]}"
    path = str(tmp_path / f"{mod}.zip")
    _write_zip(path, {f"{mod}.py": "VALUE = 42\n"})
    sc.addPyFile(path)

    def use_late(it):
        import importlib
        import os

        for _ in it:
            pass
        yield os.getpid(), importlib.import_module(mod).VALUE

    later = sc.parallelize(range(4), 4).mapPartitions(use_late).collect()
    assert [v for _, v in later] == [42] * 4
    assert set(first) & {pid for pid, _ in later}, "no worker was reused"


def test_plain_session_workers_install_guard(spark):
    """Both worker pools run package code with the guard installed, in a
    session built by a plain ``SparkSession.builder`` (the test session),
    not ``tuned_session``."""
    import pyarrow as pa

    from semargl_spark.spark_util import ensure_py_files

    ensure_py_files(spark)

    # nested, so they pickle by value: workers cannot import this module
    def arrow_guard(batches):
        from semargl_spark import _worker_guard

        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({"guard": [_worker_guard.installed()]})

    def rdd_guard(rows):
        from semargl_spark import _worker_guard

        for _ in rows:
            pass
        yield _worker_guard.installed()

    arrow = spark.range(0, 4, 1, 4).mapInArrow(arrow_guard, "guard boolean").collect()
    assert [r["guard"] for r in arrow] == [True] * 4
    rdd = spark.sparkContext.parallelize(range(4), 4).mapPartitions(rdd_guard)
    assert rdd.collect() == [True] * 4
