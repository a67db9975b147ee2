"""Process-level fixes the engine installs on import.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before
every task.  On CPython < 3.12 that makes each ``zipimporter`` re-read
its archive's whole central directory (CPython gh-103200), and a worker
holds about 16 importers over ``pyspark.zip``: ~100 ms per task spent
re-reading a file that never changes.  The guard below re-reads an
archive only when its ``(st_mtime_ns, st_size, st_ino)`` differs from
the last read, and otherwise re-binds the importer to the directory
already in ``zipimport._zip_directory_cache``.  CPython >= 3.12 reads
lazily after an invalidation, so there the guard is not installed.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> stat key of the directory last read into the cache
_read_keys: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install_zip_directory_guard() -> None:
    if sys.version_info >= (3, 12):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_parsel_spark_guard", False):
        return

    def invalidate_caches(self):
        # stat BEFORE any read: a rewrite racing the read then leaves a
        # stale key behind, which only costs one more read next time
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None:
            if _read_keys.get(self.archive) == key:
                self._files = files
                return
        original(self)
        if key is not None:
            _read_keys[self.archive] = key

    invalidate_caches._parsel_spark_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
