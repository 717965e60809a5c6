"""Skip re-reading unchanged zip archives in ``importlib.invalidate_caches()``.

PySpark's Python worker calls ``importlib.invalidate_caches()`` before
every task, and it imports pyspark itself from ``pyspark.zip``. Before
CPython 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory at once; a warm worker holds about a
dozen importers over the 1,300-entry ``pyspark.zip``, so every task paid
100-200 ms of zip parsing (4-core x86 host) before any kernel ran. CPython 3.13 defers the
re-read until the importer is next used, so nothing is installed there.

``install()`` wraps the method so an importer re-reads its archive only
when the file changed on disk since *that importer* last read it. The
key is per importer, not per archive: importers built from an older read
of an archive (from ``zipimport._zip_directory_cache``) must still
refresh when the archive changes.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _archive_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _guarded(invalidate):
    @functools.wraps(invalidate)
    def invalidate_caches(self):
        # stat BEFORE reading: a rewrite racing the read leaves an old
        # key next to newer contents, which only costs one more re-read
        key = _archive_key(self.archive)
        if key is not None and getattr(self, "_archive_stat_key", None) == key:
            return
        invalidate(self)
        self._archive_stat_key = key

    invalidate_caches.unchanged_archive_guard = True
    return invalidate_caches


def installed() -> bool:
    """True when ``zipimporter.invalidate_caches`` is the guarded version."""
    method = getattr(zipimport.zipimporter, "invalidate_caches", None)
    return getattr(method, "unchanged_archive_guard", False)


def install() -> None:
    """Guard ``zipimporter.invalidate_caches``; idempotent, and a no-op on
    CPython >= 3.13 or where the method does not exist."""
    if sys.version_info >= (3, 13) or installed():
        return
    method = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if method is not None:
        zipimport.zipimporter.invalidate_caches = _guarded(method)
