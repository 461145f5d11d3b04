"""PySpark worker daemon that reads each unchanged zip archive once.

Every Python task runs ``importlib.invalidate_caches()``, and CPython
3.11's ``zipimporter.invalidate_caches`` re-parses its archive's whole
directory: ``pyspark.zip`` (about 1,300 entries) once per zipimporter,
about 16 times a task.  The wrapper below skips the re-read while the
archive's ``(st_mtime_ns, st_size)`` is what it was at the last read and
its directory is still cached; a changed or newly shipped archive is
read as before.  ``get_spark`` launches the daemon through
``spark.python.daemon.module``; the forked workers inherit the patch.
"""

import importlib
import os
import zipimport

_invalidate = zipimport.zipimporter.invalidate_caches
# Archive -> (st_mtime_ns, st_size) at its last read.  Process-wide, like
# zipimport's own directory cache, which it guards.
_stamps: dict[str, tuple[int, int]] = {}


def invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # Stat before the read: a rewrite in between leaves a stale stamp,
    # which costs one more read, never a stale directory.
    _invalidate(self)
    if stamp is not None:
        _stamps[self.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp the archives once, before any fork
    from pyspark import daemon  # noqa: PLC0415 — reads sys.argv[1] at import

    daemon.manager()


if __name__ == "__main__":
    # Run under the package's name, so the patch's __module__ says whose it is.
    from national_caseload_data_ingest_spark.pydaemon import main as _main

    _main()
