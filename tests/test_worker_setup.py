"""What a python worker pays before a UDF runs: the zip-directory guard
that ``import sagan_spark`` installs (package docstring), and the shipped
package zip (``session.ship_package``)."""

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import sagan_spark
from sagan_spark import session

guarded_python = pytest.mark.skipif(
    not (3, 10) <= sys.version_info < (3, 12),
    reason="the guard is installed on CPython 3.10 and 3.11 only")


def _write_zpkg(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        for name in modules:
            z.writestr(f"zpkg/{name}.py", f"NAME = {name!r}\n")


@guarded_python
def test_zip_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "zpkg.zip")
    _write_zpkg(archive, ["a"])
    monkeypatch.syspath_prepend(archive)
    for mod in ("zpkg", "zpkg.a", "zpkg.b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    guard = zipimport.zipimporter.invalidate_caches
    assert guard._zip_guard
    sagan_spark._install_zip_guard()
    assert zipimport.zipimporter.invalidate_caches is guard   # idempotent

    assert importlib.import_module("zpkg.a").NAME == "a"
    importlib.invalidate_caches()      # the importers' first guarded read
    reads = []
    read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda archive: reads.append(archive) or read(archive))
    importlib.invalidate_caches()
    assert archive not in reads

    _write_zpkg(archive, ["a", "b"])
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module("zpkg.b").NAME == "b"


@guarded_python
def test_reused_worker_rereads_no_zip(spark):
    # defined here so that cloudpickle ships it by value
    def probe(batches):
        import importlib
        import zipimport

        import sagan_spark  # noqa: F401  (as every engine UDF does)

        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()   # what pyspark runs at task start
        finally:
            zipimport._read_directory = read
        guarded = getattr(zipimport.zipimporter.invalidate_caches,
                          "_zip_guard", False)
        for _ in batches:
            pass
        yield pd.DataFrame({"guarded": [guarded], "reads": [len(reads)]})

    n = spark.sparkContext.defaultParallelism
    schema = "guarded boolean, reads long"
    # Idle python workers are handed out first-in first-out, so 8n tasks
    # pass every worker the suite has left idle through the probe once.
    spark.range(8 * n, numPartitions=8 * n).mapInPandas(
        probe, schema).collect()
    rows = spark.range(2 * n, numPartitions=2 * n).mapInPandas(
        probe, schema).collect()
    assert len(rows) == 2 * n
    assert all(r.guarded for r in rows)
    assert [r.reads for r in rows] == [0] * (2 * n)


class _Context:
    def __init__(self, app_id):
        self.applicationId = app_id
        self.py_files = []

    def addPyFile(self, path):
        self.py_files.append(path)


class _Session:
    def __init__(self, app_id):
        self.sparkContext = _Context(app_id)


def test_ship_package_once_per_application(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_SHIPPED", set())
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    first = _Session("app-1")
    session.ship_package(first)
    session.ship_package(first)
    assert len(first.sparkContext.py_files) == 1
    with zipfile.ZipFile(first.sparkContext.py_files[0]) as z:
        assert "sagan_spark/__init__.py" in z.namelist()
    # A later application reached through the same session object, as
    # when a stopped session's id() is reused: it still gets the file.
    ctx = first.sparkContext
    first.sparkContext = _Context("app-2")
    session.ship_package(first)
    assert len(first.sparkContext.py_files) == 1
    assert len(ctx.py_files) == 1
