"""PySpark daemon for this package's Python workers: ``pyspark.daemon``
with zip directories re-read only when their archive changed.

Every Python UDF task starts in ``pyspark/worker_util.py``
``setup_spark_files``, which calls ``importlib.invalidate_caches()``.
From CPython 3.10 to 3.12, ``zipimport.zipimporter.invalidate_caches``
re-reads its archive's whole zip directory at once. A worker holds one
zipimporter per package directory it found in a zip on its path: 12 over
``pyspark.zip``, 2 over the py4j zip and 2 over the Spark core jar
(5,359 entries). So every task parsed those directories again, about
0.19 CPU s on a 4-core x86 host with CPython 3.11.7, which is more than
a cold cascade costs on a 25k-row task. CPython 3.13.0 made the re-read
lazy (gh-103200: the method only drops the cached directory, and the
next lookup reads it again), while 3.12.1 still re-reads eagerly. So the
patch is applied on CPython 3.10-3.12 only (``EAGER``); 3.9 and older
have no ``zipimporter.invalidate_caches``.

The replacement re-reads an archive only when its ``(st_mtime_ns,
st_size)`` differs from the one seen at its last read. A zip rewritten
at the same path is still seen, at the cost of one ``stat`` per
zipimporter per task. Where the ``stat`` fails it does what the stock
method does on a failed read: the archive leaves
``zipimport._zip_directory_cache`` and the importer's file list is
emptied. A zip added by ``SparkContext.addPyFile`` gets a new path
entry, so a new zipimporter that reads its directory when it is made.

``engine.session.build_session`` names this module in
``spark.python.daemon.module`` where the daemon can import it.
``pyspark/daemon.py`` ignores ``spark.python.worker.module`` unless the
name starts with ``pyspark``, so the patch goes on the daemon, and the
workers it forks inherit it. Spark starts the daemon as
``python -m osml10n_spark._daemon``.
"""
from __future__ import annotations

import importlib
import os
import sys
import zipimport

__all__ = ["EAGER", "install", "main"]

EAGER = (sys.implementation.name == "cpython"
         and (3, 10) <= sys.version_info[:2] < (3, 13))

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int]] = {}     # archive -> stamp of its last read


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's (mtime, size) equals the one of its last read."""
    archive, cache = self.archive, zipimport._zip_directory_cache
    try:
        st = os.stat(archive)
    except OSError:
        _stamps.pop(archive, None)
        cache.pop(archive, None)
        self._files = {}
        return
    stamp = (st.st_mtime_ns, st.st_size)
    if _stamps.get(archive) == stamp and archive in cache:
        self._files = cache[archive]    # another importer of it may have re-read
        return
    _stamps.pop(archive, None)
    _stock_invalidate_caches(self)
    if archive in cache:                # not dropped by a failed read
        _stamps[archive] = stamp


def install() -> bool:
    """Put the replacement on ``zipimporter`` where the stock method
    re-reads eagerly; returns whether it did."""
    if EAGER:
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return EAGER


def main() -> None:
    install()
    from pyspark import daemon

    # one read per archive here, so every forked worker starts with stamps
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the importable module's main, so that workers find the
    # replacement as ``osml10n_spark._daemon._invalidate_caches``
    from osml10n_spark._daemon import main as _main
    _main()
