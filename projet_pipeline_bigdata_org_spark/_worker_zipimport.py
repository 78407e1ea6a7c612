"""Stop a PySpark Python worker from re-reading zip archives it has
already read, at the start of every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
each task (``setup_spark_files`` in ``pyspark/worker_util.py``). Workers
import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``, so a warm
worker holds one ``zipimporter`` per imported pyspark subpackage (16 after
an Arrow UDF task). On CPython 3.11 and 3.12,
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory (``Lib/zipimport.py``, ``invalidate_caches`` → ``_read_directory``),
so every task parsed the same ~1300-entry directory 16 times: 135–250 ms
of pure Python per task on a 4-core host.
CPython 3.13 reads the directory lazily (``zipimporter._get_files``) and
needs nothing here.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that re-reads an archive only when its ``(st_ino, st_mtime_ns, st_size)``
changed since its last read. Otherwise it rebinds the importer to the
directory already held in ``zipimport._zip_directory_cache``. A rewritten
archive is still re-read, and a zip added later (``addPyFile``) gets a new
importer that reads it. The package calls :func:`install` on import; it
acts only in a PySpark worker (``PYTHON_WORKER_FACTORY_SECRET`` is set) on
an interpreter with the eager ``zipimport``, so the driver and 3.13+ are
left as they are.
"""

from __future__ import annotations

import os
import zipimport


def install() -> bool:
    """Install the stat-keyed ``invalidate_caches``; idempotent. Returns
    whether it is in place."""
    cls = zipimport.zipimporter
    if "PYTHON_WORKER_FACTORY_SECRET" not in os.environ or hasattr(cls, "_get_files"):
        return False
    if getattr(cls.invalidate_caches, "stat_keyed", False):
        return True
    reread = cls.invalidate_caches
    # archive path -> (st_ino, st_mtime_ns, st_size) when it was last read;
    # process-wide, like zipimport._zip_directory_cache it sits beside
    read_stat: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
        except OSError:
            read_stat.pop(self.archive, None)
            return reread(self)
        key = (st.st_ino, st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and read_stat.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        read_stat[self.archive] = key

    invalidate_caches.stat_keyed = True
    cls.invalidate_caches = invalidate_caches
    return True
