"""Stamp-checked ``zipimporter.invalidate_caches`` for Python 3.10-3.12.

A PySpark worker ends every task's file set-up
(``worker_util.setup_spark_files``) with ``importlib.invalidate_caches()``.
Before Python 3.13 that makes every zipimporter in
``sys.path_importer_cache`` re-read its archive's whole central
directory: the spark-core jar (37 MB, 5 359 entries, no Python in it)
twice and ``pyspark.zip`` once per imported subpackage, 0.16-0.29 s
per task on a reused worker of a 4-core host.  Python 3.13 only drops the cached directory.

``install`` makes an importer re-read its archive only when the
archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the stamp taken
at the archive's last read, or when ``stat`` fails; otherwise it takes
the directory of that last read.  A rewritten or replaced archive is
re-read as before.  The first task on a new worker still pays the full
cost: the patch arrives with that task's UDF unpickle.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (stamp, directory) of its last read through the patch,
# shared by every importer of that archive (pyspark.zip has one per
# imported subpackage)
_reads: dict[str, tuple[tuple[int, int, int], dict]] = {}


def install() -> None:
    """Patch ``zipimport.zipimporter.invalidate_caches`` once per
    process; a no-op on Python 3.13+, whose version re-reads lazily."""
    if not (3, 10) <= sys.version_info < (3, 13):
        return
    importer = zipimport.zipimporter
    if getattr(importer.invalidate_caches, "stamp_checked", False):
        return
    eager = importer.invalidate_caches

    def invalidate_caches(self):
        """Reload the archive's file data if the archive changed."""
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            return eager(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        last = _reads.get(archive)
        if last is not None and last[0] == stamp:
            self._files = zipimport._zip_directory_cache[archive] = last[1]
            return
        # stamp taken before the read: a rewrite during it re-reads next time
        eager(self)
        if archive in zipimport._zip_directory_cache:  # the read succeeded
            _reads[archive] = (stamp, self._files)

    invalidate_caches.stamp_checked = True
    importer.invalidate_caches = invalidate_caches
