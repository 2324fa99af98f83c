"""Zip importers re-read an archive only on change, in PySpark workers.

(a) the ``invalidate_caches`` wrapper on a temp archive, no JVM;
(b) a Python worker that imported the package skips the re-read of
    its unchanged archives, while the driver keeps the stdlib method.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from semantic_olap_spark import worker_zip


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_unchanged_archive_is_read_once(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_a": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p))
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        worker_zip.invalidate_caches)
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert len(reads) <= 1


def test_changed_archive_is_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_b": "X = 1\n"})
    imp = zipimport.zipimporter(archive)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        worker_zip.invalidate_caches)
    monkeypatch.setattr(sys, "path_importer_cache", {archive: imp})
    monkeypatch.syspath_prepend(archive)
    imp.invalidate_caches()
    assert imp.find_spec("zd_new") is None
    before = os.stat(archive)
    _write_zip(archive, {"zd_b": "X = 1\n", "zd_new": "Y = 2\n"})
    # a new size alone marks the change; keep the mtime moving as well
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    imp.invalidate_caches()
    # undone at teardown: drops the module imported below
    monkeypatch.delitem(sys.modules, "zd_new", raising=False)
    assert importlib.import_module("zd_new").Y == 2
    assert sys.modules["zd_new"].__loader__ is imp


def test_worker_skips_reread_after_package_import(spark):
    def _rereads(_):
        import importlib
        import sys
        import zipimport

        import semantic_olap_spark  # noqa: F401  (as unpickling a package UDF does)

        real = zipimport._read_directory
        reads = []
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()  # may stamp: the first wrapped call
            del reads[:]
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        zips = [i for i in sys.path_importer_cache.values()
                if isinstance(i, zipimport.zipimporter)]
        yield len(zips) > 0, len(reads)

    rdd = spark.sparkContext.parallelize(range(2), 2)
    for _ in range(2):
        assert rdd.mapPartitions(_rereads).collect() == [(True, 0)] * 2
    assert zipimport.zipimporter.invalidate_caches is worker_zip._reread
