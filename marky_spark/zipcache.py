"""Stat-checked ``zipimport.zipimporter.invalidate_caches``.

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task; before CPython 3.13 that re-reads the central directory of every zip
on ``sys.path`` once per importer (``pyspark.zip``: 1,328 entries, one
importer per package), and 3.13 defers it to the next import through the
zip. :func:`install` (run on import of ``marky_spark``) re-reads an archive
only when its ``(st_mtime_ns, st_size)`` moved since its last re-read.
"""
import os
import zipimport

_read_at = {}  # archive -> (st_mtime_ns, st_size) at its last re-read
_original = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self: zipimport.zipimporter) -> None:
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or _read_at.get(self.archive) != key:
        _original(self)
        _read_at[self.archive] = key
    elif hasattr(self, "_files"):  # before 3.13 each importer holds a copy
        self._files = zipimport._zip_directory_cache.get(self.archive, {})


def install() -> None:
    """Make :func:`invalidate_caches` the method; idempotent."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
