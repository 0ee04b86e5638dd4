"""Keep Spark Python workers from re-reading unchanged zip and jar archives.

Every Spark Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.10-3.12 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's whole central directory: one importer per imported package
directory, so a worker that has imported a dozen pyspark subpackages
re-reads ``pyspark.zip`` a dozen times, plus the Spark jars on its path —
tens of thousands of entries and 130-230 ms of CPU on every task.
CPython 3.13 made the invalidation lazy, so there is nothing to do there.

The guard wraps ``zipimporter.invalidate_caches``: an archive is re-read
only when its ``(st_mtime_ns, st_size, st_ino)`` differ from the stat
taken before its last read in this process; otherwise the importer keeps
the shared ``zipimport._zip_directory_cache`` entry. Importing
:mod:`cae_polars_tools_spark` installs it, so every worker that unpickles
the package's code has it from its next task on. Delete this module once
the supported Python floor is 3.13.
"""

from __future__ import annotations

import os
import sys
import zipimport

_MARKER = "_stat_guarded"  # set on the installed wrapper
# archive path -> (st_mtime_ns, st_size, st_ino) taken before its last read
_read_stats: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> bool:
    """Install the guard once per process (idempotent); return whether
    it is active. A no-op on CPython >= 3.13 or where ``zipimporter``
    has no ``invalidate_caches``."""
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if sys.version_info >= (3, 13) or original is None:
        return False
    if getattr(original, _MARKER, False):
        return True

    def invalidate_caches(self) -> None:
        archive = self.archive
        key = _stat_key(archive)
        cached = zipimport._zip_directory_cache.get(archive)
        if key is not None and cached is not None and _read_stats.get(archive) == key:
            self._files = cached
            return
        original(self)
        if key is not None and archive in zipimport._zip_directory_cache:
            _read_stats[archive] = key
        else:
            _read_stats.pop(archive, None)

    setattr(invalidate_caches, _MARKER, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
