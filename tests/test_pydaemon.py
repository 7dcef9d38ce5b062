"""The worker daemon's stat-gated zip-import invalidation
(filter_vectordb_spark.pydaemon): a changed archive is still re-read, an
unchanged one is not, and the session's Python workers run under it."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

from filter_vectordb_spark import pydaemon


def _write_module_zip(path, value: int) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("m.py", f"VALUE = {value}\n")


def _import_m():
    sys.modules.pop("m", None)
    return importlib.import_module("m").VALUE


def test_changed_archive_reread_unchanged_skipped(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_module_zip(archive, 1)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    monkeypatch.setattr(pydaemon, "_stamps", {})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.delitem(sys.modules, "m", raising=False)
    importlib.invalidate_caches()
    assert _import_m() == 1
    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)

    # same size, later mtime: only the stamp's mtime half moves
    _write_module_zip(archive, 2)
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert _import_m() == 2

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert archive not in reads
    assert _import_m() == 2

    # a moved size is a change too, and a stat failure always re-reads
    with zipfile.ZipFile(archive, "a") as zf:
        zf.writestr("pad.txt", "x")
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    os.remove(archive)
    importlib.invalidate_caches()
    assert reads.count(archive) == 2
    sys.modules.pop("m", None)
    sys.path_importer_cache.pop(archive, None)


def test_session_workers_run_the_daemon(spark):
    def probe(_):
        import zipimport

        yield zipimport.zipimporter.invalidate_caches.__module__

    got = spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    assert got == ["filter_vectordb_spark.pydaemon"]
