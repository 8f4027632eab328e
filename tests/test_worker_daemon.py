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
