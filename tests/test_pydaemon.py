"""The worker daemon's zip-directory guard, without Spark.

``pydaemon.invalidate_caches`` replaces ``zipimporter.invalidate_caches``
in the daemon and its forked workers.  An unchanged archive must be read
at most once however many zipimporters map to it and however often the
import caches are invalidated; a rewritten archive must be read again.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from national_caseload_data_ingest_spark import pydaemon

PKG = "zipguard_pkg"


def _write_archive(path, extra=False):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{PKG}/__init__.py", "")
        zf.writestr(f"{PKG}/a/__init__.py", "")
        zf.writestr(f"{PKG}/a/m.py", "VALUE = 'a'\n")
        zf.writestr(f"{PKG}/b/__init__.py", "")
        zf.writestr(f"{PKG}/b/n.py", "VALUE = 'b'\n")
        if extra:
            zf.writestr(f"{PKG}/b/added.py", "VALUE = 'added'\n")


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on ``sys.path`` with the guard installed and directory reads
    counted; the class patch, the path and the modules are undone after."""
    path = str(tmp_path / "guard.zip")
    _write_archive(path)
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches
    )
    monkeypatch.setattr(pydaemon, "_stamps", {})
    monkeypatch.syspath_prepend(path)
    yield path, reads
    for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(path)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(path, None)


def test_unchanged_archive_is_read_at_most_once(archive):
    path, reads = archive
    a = importlib.import_module(f"{PKG}.a.m")
    b = importlib.import_module(f"{PKG}.b.n")
    assert (a.VALUE, b.VALUE) == ("a", "b")
    importers = [
        f
        for k, f in sys.path_importer_cache.items()
        if k.startswith(path) and isinstance(f, zipimport.zipimporter)
    ]
    assert len(importers) > 1  # the case the stock method re-reads per importer
    del reads[:]
    for _ in range(5):
        importlib.invalidate_caches()
    assert reads.count(path) <= 1
    assert importlib.import_module(f"{PKG}.b.n").VALUE == "b"


def test_rewritten_archive_is_read_again(archive):
    path, reads = archive
    importlib.import_module(f"{PKG}.a.m")
    importlib.import_module(f"{PKG}.b.n")
    importlib.invalidate_caches()
    before = os.stat(path)
    _write_archive(path, extra=True)  # one more member: a new size
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(path) >= 1
    assert importlib.import_module(f"{PKG}.b.added").VALUE == "added"


def test_unreadable_archive_is_read_again(archive):
    """A failed read drops the directory from the cache; the guard then
    reads again instead of serving the stamp it recorded."""
    path, reads = archive
    importlib.import_module(f"{PKG}.a.m")
    importlib.invalidate_caches()
    with open(path, "wb") as f:
        f.write(b"not a zip archive")
    importlib.invalidate_caches()
    assert path not in zipimport._zip_directory_cache
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(path) >= 1
    assert path not in zipimport._zip_directory_cache
