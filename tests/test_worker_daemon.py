"""The session's Python worker daemon (``torchfusion_spark.worker_daemon``):
a task's ``importlib.invalidate_caches()`` re-reads a zip archive only when
the archive changed, and code shipped to running workers still imports."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from torchfusion_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    # written beside and renamed over, as a shipped archive is replaced
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)
    os.replace(tmp, path)


def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "shipped.zip")
    _write_zip(archive, {"tfwd_first": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("tfwd_first", "tfwd_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("tfwd_first").VALUE == 1  # the archive is read here

    # undone at teardown: install() patches the class and primes signatures
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    monkeypatch.setattr(worker_daemon, "_signatures", {})
    worker_daemon.install()
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)

    for _ in range(3):  # unchanged: the primed signatures answer every call
        importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"tfwd_first": "VALUE = 1\n", "tfwd_second": "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("tfwd_second").VALUE == 2
    importlib.invalidate_caches()  # read once per change
    assert reads.count(archive) == 1


def test_session_workers_run_the_engine_daemon(spark, tmp_path):
    """Every worker of a session() runs the engine's daemon, and modules
    shipped with addPyFile after the workers started still import."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == "torchfusion_spark.worker_daemon"
    width = 4

    # defined here, so it is pickled by value: workers cannot import tests/
    def udf_report(_):
        import importlib
        import zipimport

        patched = (
            zipimport.zipimporter.invalidate_caches
            is importlib.import_module("torchfusion_spark.worker_daemon").invalidate_caches
        )
        modules = []
        for name in ("tfwd_shipped_py", "tfwd_shipped_zip"):
            try:
                modules.append(importlib.import_module(name).VALUE)
            except ImportError:
                modules.append(None)
        yield patched, tuple(modules)

    def report():
        return set(sc.parallelize(range(width), width).mapPartitions(udf_report).collect())

    assert report() == {(True, (None, None))}  # workers are up, nothing shipped yet
    py = tmp_path / "tfwd_shipped_py.py"
    py.write_text("VALUE = 'py'\n")
    archive = str(tmp_path / "tfwd_shipped.zip")
    _write_zip(archive, {"tfwd_shipped_zip": "VALUE = 'zip'\n"})
    sc.addPyFile(str(py))
    sc.addPyFile(archive)
    assert report() == {(True, ("py", "zip"))}


def _pyspark_dir(root, version: bytes) -> str:
    pkg = root / "pyspark"
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_bytes(version)
    return str(root)


def test_daemon_drops_pyspark_zip_only_for_the_same_release(tmp_path):
    """The daemon imports the interpreter's own pyspark when its
    ``version.py`` is byte-identical to the one in Spark's pyspark.zip,
    and keeps the zip otherwise (or when no other pyspark package exists)."""
    archive = str(tmp_path / "lib" / "pyspark.zip")
    os.makedirs(os.path.dirname(archive))
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", "__version__: str = '9.9.9'\n")
    same = _pyspark_dir(tmp_path / "same", b"__version__: str = '9.9.9'\n")
    other = _pyspark_dir(tmp_path / "other", b"__version__: str = '9.9.8'\n")
    py4j = str(tmp_path / "lib" / "py4j-src.zip")

    assert worker_daemon.without_spark_pyspark([archive, py4j, same]) == [py4j, same]
    kept = [archive, py4j, other]
    assert worker_daemon.without_spark_pyspark(kept) == kept
    alone = [archive, py4j, str(tmp_path / "empty")]
    assert worker_daemon.without_spark_pyspark(alone) == alone
    (tmp_path / "ns" / "pyspark").mkdir(parents=True)  # a namespace package
    namespace = [archive, py4j, str(tmp_path / "ns")]
    assert worker_daemon.without_spark_pyspark(namespace) == namespace


def test_session_workers_import_the_installed_pyspark(spark):
    """On this host the installed pyspark is Spark's own release, so a
    worker's pyspark comes from it, not from pyspark.zip."""

    def where(_):
        import pyspark

        yield pyspark.__file__

    files = set(spark.sparkContext.parallelize(range(2), 2).mapPartitions(where).collect())
    assert files and not any("pyspark.zip" in f for f in files), files
