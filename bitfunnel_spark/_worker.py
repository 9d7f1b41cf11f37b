"""Per-task import cost inside PySpark's Python workers.

Before every task, a PySpark worker calls ``importlib.invalidate_caches()``
so that files shipped with ``addFile``/``addPyFile`` after the worker
started become importable. Up to CPython 3.12, ``zipimporter`` answers that
call by re-reading its archive's whole directory in pure Python. A worker
has a dozen zipimporters over ``pyspark.zip``, the py4j zip and the Spark
jar (~27k directory entries), so every task pays 250-460 ms before it runs
a line of engine code, far more than a kernel query's own compute.

``install_in_worker`` makes an unchanged archive cost one ``os.stat``: an
importer re-reads its directory only when the archive's (mtime, size)
stamp differs from the one it last read, or when the stat fails.
Directory (``FileFinder``) caches are still invalidated on every call, a
newly shipped zip is a new ``sys.path`` entry with a fresh importer, and a
zip replaced in place changes its stamp, so Spark's reason for the call
still holds. The package calls it on import; it does nothing outside a
Python worker's task, so the driver's import machinery is never touched.
"""

from __future__ import annotations

import functools
import os
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install_zip_stat_guard() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` with the stat guard; returns
    False (and wraps nothing) when the guard is already installed."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_guarded", False):
        return False

    @functools.wraps(original)
    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_archive_stamp", None):
            original(self)
            self._archive_stamp = stamp

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def install_in_worker() -> bool:
    """Install the guard when running inside a Python worker's task."""
    from pyspark import TaskContext

    return TaskContext.get() is not None and install_zip_stat_guard()
