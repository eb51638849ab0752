"""Stat-checked ``zipimporter.invalidate_caches`` for Python 3.11/3.12.

PySpark's worker set-up (``worker_util.setup_spark_files``) calls
``importlib.invalidate_caches()`` at the start of every Python worker
call: every task, every data-source planner call. Before 3.13 each
``zipimporter`` answers that by re-reading its whole archive directory,
so a reused worker re-reads ``pyspark.zip`` once per importer prefix on
every call (18 importers, 26.8k directory entries, 0.11-0.16 s per call
on a 4-core host; BASELINE.md). CPython 3.13 made the invalidation lazy.

:func:`install` replaces the method with one that re-reads an archive
only when its stat stamp (mtime, size, inode) has changed since it was
last read, and falls back to the original method when the stat fails.
Importers of one archive share its directory, as they do after
construction, so one re-read serves them all. A worker that imports
this package keeps the replacement for the rest of its life.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: the method being replaced (also when this module is reloaded)
_ORIGINAL = getattr(
    zipimport.zipimporter.invalidate_caches,
    "original",
    zipimport.zipimporter.invalidate_caches,
)

#: archive path -> (stat stamp, the directory dict read at that stamp)
_READ: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def _invalidate_caches(self) -> None:
    """Re-read the archive directory if the archive changed on disk."""
    archive = self.archive
    try:
        # stat before reading: a change between the two is seen next time
        stamp = _stamp(archive)
    except OSError:
        _READ.pop(archive, None)
        _ORIGINAL(self)
        return
    known = _READ.get(archive)
    if (
        known is not None
        and known[0] == stamp
        and zipimport._zip_directory_cache.get(archive) is known[1]
    ):
        self._files = known[1]
        return
    _ORIGINAL(self)
    if zipimport._zip_directory_cache.get(archive) is self._files:
        _READ[archive] = (stamp, self._files)
    else:  # unreadable archive: the original cached nothing
        _READ.pop(archive, None)


_invalidate_caches.original = _ORIGINAL


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` (idempotent). Python
    3.13+ invalidates lazily already and is left alone."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
