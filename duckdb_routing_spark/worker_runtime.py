"""Per-process runtime fixes for the Python workers that run this package's
UDFs and ``mapInPandas`` kernels.

pyspark starts every task with ``worker_util.setup_spark_files``, which ends
in ``importlib.invalidate_caches()``. On CPython 3.10/3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every cached zip importer,
and each one eagerly re-reads its archive's whole central directory. A warm
worker holds 16 zip importers, most of them one per imported pyspark
subpackage over ``pyspark.zip`` (~1,300 entries), so a one-row task spent
~250 ms of CPU re-reading archives that never changed. CPython 3.12 made
the re-read lazy (gh-103200).

``install_zip_cache_guard`` wraps the method so an archive's directory is
re-read only when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs
from the stamp taken before its last read. The stamp is kept per archive
path, so all importers of one archive share one read. A replaced or
rewritten archive (``addPyFile``) is still re-read; an unchanged one costs a
``stat``. The package ``__init__`` installs it, so every worker that
unpickles one of the package's functions has it from its next task on.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

_GUARD_ATTR = "_zip_directory_stamp_guard"

# archive path -> (stamp taken before the read, directory dict it produced)
_last_read: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def guard_installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, _GUARD_ATTR, False)


def install_zip_cache_guard() -> bool:
    """Install the guard once per process. Returns True only on the call
    that installed it; a no-op on Python >= 3.12 and on repeat calls."""
    if sys.version_info >= (3, 12) or guard_installed():
        return False
    reread = zipimport.zipimporter.invalidate_caches

    @functools.wraps(reread)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        seen = _last_read.get(self.archive)
        if stamp is not None and seen is not None and seen[0] == stamp:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        reread(self)
        # a failed read leaves {} and drops the cache entry: re-read next time
        if stamp is not None and zipimport._zip_directory_cache.get(self.archive) is self._files:
            _last_read[self.archive] = (stamp, self._files)
        else:
            _last_read.pop(self.archive, None)

    setattr(invalidate_caches, _GUARD_ATTR, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
