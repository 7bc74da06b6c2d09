"""The PySpark daemon entry (apache_flink_spark.pyworker).

Every Python task calls ``importlib.invalidate_caches()``; on CPython
3.10-3.12 that re-reads the directory of every zip archive on
``sys.path`` (pyspark.zip among them). The daemon's patch skips the
re-read while an archive is unchanged, and must still pick up an archive
that was rewritten or deleted.
"""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys
import zipfile
import zipimport

import pytest

from apache_flink_spark import pyworker

_MODS = ("afs_pw_a", "afs_pw_b", "afs_pw_c")

lazy_stock = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="stock zipimport re-reads lazily"
)


def _write_archive(path, names) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


@pytest.fixture
def patched():
    stock = zipimport.zipimporter.invalidate_caches
    pyworker.install()
    try:
        yield
    finally:
        zipimport.zipimporter.invalidate_caches = stock


@pytest.fixture
def archive(tmp_path):
    """A zip holding afs_pw_a and afs_pw_c, first on sys.path."""
    path = str(tmp_path / "mods.zip")
    _write_archive(path, ["afs_pw_a", "afs_pw_c"])
    sys.path.insert(0, path)
    try:
        yield path
    finally:
        sys.path.remove(path)
        sys.path_importer_cache.pop(path, None)
        zipimport._zip_directory_cache.pop(path, None)
        for name in _MODS:
            sys.modules.pop(name, None)


class _CountReads:
    """Counts ``zipimport._read_directory`` calls per archive; restores
    the stock function on exit."""

    def __enter__(self):
        self.stock = zipimport._read_directory
        self.paths: list[str] = []

        def counting(path):
            self.paths.append(path)
            return self.stock(path)

        zipimport._read_directory = counting
        return self

    def __exit__(self, *exc):
        zipimport._read_directory = self.stock


@lazy_stock
def test_unchanged_archive_is_not_reread(patched, archive):
    assert importlib.import_module("afs_pw_a").NAME == "afs_pw_a"
    with _CountReads() as first:
        importlib.invalidate_caches()  # first touch stamps the importer
    assert first.paths.count(archive) == 1
    with _CountReads() as again:
        for _ in range(3):
            importlib.invalidate_caches()
    assert again.paths.count(archive) == 0


def test_rewritten_archive_is_reread(patched, archive):
    importlib.import_module("afs_pw_a")
    importlib.invalidate_caches()
    _write_archive(archive, ["afs_pw_a", "afs_pw_b", "afs_pw_c"])
    importlib.invalidate_caches()
    assert importlib.import_module("afs_pw_b").NAME == "afs_pw_b"


def test_deleted_archive_serves_no_stale_entries(patched, archive):
    importlib.import_module("afs_pw_a")
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()  # must not raise
    assert importlib.util.find_spec("afs_pw_c") is None


def test_session_workers_skip_unchanged_archives(spark):
    """Workers of the engine's session fork from the pyworker daemon: two
    further invalidations inside a task re-read no archive, although the
    worker imports pyspark from zip archives."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "apache_flink_spark.pyworker"

    def count_rereads(batches):
        import importlib
        import sys
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        stock = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return stock(path)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        zips = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield pd.DataFrame({"reads": [len(reads)], "zips": [zips]})

    rows = (
        spark.range(4, numPartitions=2)
        .mapInPandas(count_rereads, "reads long, zips long")
        .collect()
    )
    assert rows and all(r.zips > 0 for r in rows)
    if sys.version_info < (3, 13):
        assert [r.reads for r in rows] == [0] * len(rows)
