"""Python worker daemon for every session (``spark.python.daemon.module``).

Each PySpark task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13,
``zipimporter.invalidate_caches`` re-parses the archive's central directory
on every call, and a worker holds one zipimporter per package path inside
``pyspark.zip`` (~16, 1.3k entries each): about 0.25 s of CPU per task
before any user code runs.  The importer installed here re-reads an
archive only when its ``(st_mtime_ns, st_size)`` changed since the last
read, so zips shipped or replaced mid-session (``addPyFile``,
``--py-files``) still import exactly as before.  Then it runs the stock
``pyspark.daemon`` manager.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat stamp taken just before its directory was last read;
# per process, like zipimport's own module-level directory cache it tracks
_read_at: dict[str, tuple[int, int] | None] = {}


def _stamp_of(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class StatZipImporter(zipimport.zipimporter):
    """zipimporter whose ``invalidate_caches`` skips unchanged archives."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _read_at.get(self.archive)
        if self._stamp is None:  # not read by this class: age unknown
            self._reread()

    def invalidate_caches(self):
        if _stamp_of(self.archive) != self._stamp:
            self._reread()

    def _reread(self):
        self._stamp = _read_at[self.archive] = _stamp_of(self.archive)
        super().invalidate_caches()


def install() -> None:
    """Put StatZipImporter in place of the stock zipimporter hook."""
    sys.path_hooks[:] = [StatZipImporter if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    sys.path_importer_cache.clear()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
