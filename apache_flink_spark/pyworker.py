"""PySpark daemon entry that stops every Python task re-reading zip archives.

Spark forks each Python worker from a daemon process
(``spark.python.daemon.module``, stock value ``pyspark.daemon``). At the
start of every task the worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``) so that files shipped with
``addPyFile`` become importable. On CPython 3.10-3.12 that call makes every
``zipimport.zipimporter`` re-read its archive's central directory, and the
executors' ``PYTHONPATH`` always holds ``pyspark.zip`` (~1300 entries) and
the py4j zip, each with one importer per package directory touched. That is
80-120 ms of CPU per task spent re-reading a listing that has not changed.
CPython 3.13 made the re-read lazy, so there this module changes nothing.

:func:`install` makes an importer re-read its archive only when ``os.stat``
of the archive differs from the stat taken at that importer's last read
(mtime, ctime, size, inode), or when the stat fails. A rewritten, replaced
or deleted archive is therefore still picked up exactly as before.

Run as ``python -m apache_flink_spark.pyworker``: it installs the patch and
then runs the stock ``pyspark.daemon.manager``, whose forked workers inherit
the patched class. ``session.get_spark`` sets this module as the daemon; a
session built elsewhere must pass
``spark.python.daemon.module=apache_flink_spark.pyworker`` when it is
created, because the conf is static. Executors must be able to import this
package, which the engine already requires: its operator closures are
pickled by reference.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK_INVALIDATE = getattr(zipimport.zipimporter, "invalidate_caches", None)


def _archive_stamp(path: str) -> tuple[int, int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_ctime_ns, st.st_size, st.st_ino


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive is unchanged since this importer last read it."""
    try:
        stamp = _archive_stamp(self.archive)
    except OSError:
        stamp = None
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    # Stat before reading: a write racing the read changes the stamp, so
    # the next call reads again.
    _STOCK_INVALIDATE(self)
    self._read_stamp = stamp


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` in this process.

    Idempotent. Does nothing on Python >= 3.13, whose importers already
    re-read lazily, or where the pure-Python importer has no such method.
    """
    if sys.version_info >= (3, 13) or _STOCK_INVALIDATE is None:
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
