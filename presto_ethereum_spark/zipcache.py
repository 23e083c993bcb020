"""Zip imports that re-read an archive's directory only when it changed.

Spark's Python planner calls and worker tasks each start with
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.11 every ``zipimport.zipimporter`` re-reads its archive's
central directory on that call, and a process that imported pyspark from
``pyspark.zip`` holds one importer per pyspark subpackage, all on the same
1,328-entry archive: 125-175 ms per call, in processes Spark reuses.

:func:`install` stamps every directory read with the archive's
``(st_ino, st_size, st_mtime_ns)``.  ``invalidate_caches`` then re-reads
only an archive whose stamp moved; otherwise the importer adopts the
shared ``zipimport._zip_directory_cache`` entry, so all importers of one
archive share one read.  A new or rewritten archive (``addPyFile``) is
still re-read, and a deleted one fails as before.  The stamps live at
module level because the directory cache they vouch for does too.
"""

from __future__ import annotations

import os
import zipimport

_stock_read = getattr(zipimport, "_read_directory", None)
_stock_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before its last directory read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return st.st_ino, st.st_size, st.st_mtime_ns


def _read_directory(archive):
    try:
        stamp = _stamp(archive)
    except OSError:
        stamp = None  # matches no stamp, so the next invalidation re-reads
    files = _stock_read(archive)
    _stamps[archive] = stamp
    return files


def _invalidate_caches(self):
    files = zipimport._zip_directory_cache.get(self.archive)
    try:
        fresh = files is not None and _stamp(self.archive) == _stamps.get(self.archive)
    except OSError:
        fresh = False
    if fresh:
        self._files = files
    else:
        _stock_invalidate(self)


def install() -> None:
    """Patch ``zipimport`` in this process; idempotent.  Archives read
    before the call are read once more so their stamps are known (a
    daemon that installs before it forks hands them to every child)."""
    zipimporter = zipimport.zipimporter
    if _stock_read is None or zipimporter.invalidate_caches is _invalidate_caches:
        return  # an interpreter without this reader, or installed already
    zipimport._read_directory = _read_directory
    zipimporter.invalidate_caches = _invalidate_caches
    cache = zipimport._zip_directory_cache
    for archive in list(cache):
        try:
            cache[archive] = _read_directory(archive)
        except zipimport.ZipImportError:
            cache.pop(archive, None)
