"""pyspark's Python worker daemon (``pyspark.daemon``), except that a task
no longer re-reads every zip archive on the worker's path.

Each Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and every
``zipimport.zipimporter`` answers it by re-reading its archive's whole
directory: pyspark.zip and the spark-core jar, about 200 ms of CPU per task
before a row is read. Here an archive is re-read only when its
``(st_mtime_ns, st_size, st_ino)`` differs from its last read; otherwise the
importer takes the directory already in ``zipimport._zip_directory_cache``.
A rewritten archive (a changed ``addPyFile`` zip) is still re-read, which is
what pyspark's call is for. :func:`torchfusion_spark.session.session` selects
this module with ``spark.python.daemon.module``.

The daemon imports the installed pyspark in place of Spark's source-only
``pyspark.zip`` (compiled again at every start) when both are one release.
"""

from __future__ import annotations

import os
import zipfile
import zipimport
from importlib.machinery import PathFinder

_read = zipimport.zipimporter.invalidate_caches
# per archive path, process-wide like ``zipimport._zip_directory_cache``
_signatures: dict[str, tuple[int, int, int] | None] = {}


def _signature(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches``, re-reading only a changed archive.
    The stat comes before the read, so a write during the read shows as a
    change at the next call."""
    sig = _signature(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if sig is not None and files is not None and _signatures.get(self.archive) == sig:
        self._files = files
        return
    _read(self)
    _signatures[self.archive] = sig


def install() -> None:
    """Patch ``zipimporter.invalidate_caches`` and record, by stat only, the
    signatures of the archives this process has read, so a forked worker's
    first task is cheap too."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for path in list(zipimport._zip_directory_cache):
        _signatures.setdefault(path, _signature(path))


def without_spark_pyspark(path: list[str]) -> list[str]:
    """``path`` minus its ``pyspark.zip`` entries if the rest of it imports a
    pyspark whose ``version.py`` is byte-identical to each zip's, else
    ``path``: an executor without a matching pyspark keeps the zip."""
    zips = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if p not in zips]
    spec = PathFinder.find_spec("pyspark", rest) if zips else None
    if spec is None or spec.origin is None:  # none, or a namespace package
        return path
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as f:
            installed = f.read()
        for archive in zips:
            with zipfile.ZipFile(archive) as z:
                if z.read("pyspark/version.py") != installed:
                    return path
    except (OSError, KeyError, zipfile.BadZipFile):
        return path
    return rest


if __name__ == "__main__":
    import sys

    sys.path[:] = without_spark_pyspark(sys.path)  # before pyspark is imported
    # run as ``python -m``: patch through the importable module, so a worker
    # can tell the patched method apart from pyspark's
    from pyspark import daemon

    from torchfusion_spark import worker_daemon

    worker_daemon.install()
    daemon.manager()
