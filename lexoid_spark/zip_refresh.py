"""Lazy zip-importer refresh for Python workers.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start
of every task (``worker_util.setup_spark_files``). On CPython before
3.13 that makes every cached ``zipimport.zipimporter`` re-read its
archive's central directory, whether or not the archive changed. A
local-mode worker caches 12 importers over ``pyspark.zip`` (1,328
entries) and 2 over the spark-core jar (5,359 entries), so every task
paid 0.15–0.25 CPU-s before it did any work. CPython 3.13 made the
call lazy upstream (it drops the cached directory, read again on next
use); ``install()`` makes it lazy for this process.

``LazyZipImporter.invalidate_caches`` re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the last read, or when the stat
fails; otherwise it adopts the directory already cached for the archive
(another importer of the same archive may have re-read it). An archive
rewritten in place is still picked up by the next refresh. The stamps
are process-wide, like the ``zipimport`` directory cache they describe.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) of the directory that
# ``zipimport._zip_directory_cache`` holds for it
_STAMPS: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


class LazyZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` skips unchanged archives."""

    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            _STAMPS.pop(self.archive, None)
            return super().invalidate_caches()
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and _STAMPS.get(self.archive) == stamp:
            self._files = files
            return
        # stat before the read: a write racing the read leaves an older
        # stamp, so the next refresh reads again rather than never
        super().invalidate_caches()
        _STAMPS[self.archive] = stamp


def install() -> None:
    """Make this process's zip importers lazy; idempotent.

    Swaps the class of every plain ``zipimporter`` in
    ``sys.path_importer_cache`` and the ``sys.path_hooks`` entry that
    makes new ones. Call it right after a full refresh (a Python
    worker's task start is one): the stamps taken here describe the
    directories that refresh just read.
    """
    sys.path_hooks[:] = [
        LazyZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for importer in sys.path_importer_cache.values():
        if type(importer) is zipimport.zipimporter:
            importer.__class__ = LazyZipImporter
    for archive in list(zipimport._zip_directory_cache):
        if archive not in _STAMPS:
            try:
                _STAMPS[archive] = _stamp(archive)
            except OSError:
                pass
