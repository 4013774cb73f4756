"""Python-worker start-up cost: stat-guarded zipimport invalidation.

Every PySpark task begins with ``setup_spark_files``, which ends in
``importlib.invalidate_caches()`` so that a replaced ``--py-files``
archive is picked up.  Before CPython 3.13 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory, eagerly and once per importer: a worker
holds ~16 importers over ``pyspark.zip`` (1328 entries), so each
task pays a fixed 0.2-0.5 s before the UDF runs.  CPython 3.13 made
the re-read lazy (``zipimport.zipimporter._get_files``).

:func:`install` backports the useful half of that as a stat guard:
``zipimporter.invalidate_caches`` keeps a ``(st_mtime_ns, st_size)``
stamp per archive, taken just before each read (the same test CPython
uses to decide a ``.pyc`` is stale).

* Stamp unchanged: the importer reuses the directory already in
  ``zipimport._zip_directory_cache`` and nothing is read.
* Stamp changed (or the archive was never stamped): the stock method
  re-reads the archive once; every other importer of that archive
  then finds the new stamp and shares the new directory.
* Archive gone: the stock method runs and empties the importer, as
  before.

``rdfa_spark/__init__.py`` calls :func:`install`, so any task that
unpickles an rdfa_spark kernel installs the guard for the rest of
that (reused) worker's life.  The driver process is never patched.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken before its last read
_STAMPS: dict[str, tuple[int, int]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guarded_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its stat stamp changed since the last read."""
    archive = self.archive
    stamp = _stamp(archive)
    cached = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and cached is not None \
            and _STAMPS.get(archive) == stamp:
        self._files = cached
        return
    _STOCK(self)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _STAMPS[archive] = stamp
    else:
        _STAMPS.pop(archive, None)


def _in_task() -> bool:
    # pyspark.worker imports TaskContext and sets it before the UDF is
    # unpickled; a process that never loaded it is not a task
    tc = sys.modules.get("pyspark.taskcontext")
    return tc is not None and tc.TaskContext.get() is not None


def install() -> bool:
    """Install the guard in a PySpark task on CPython < 3.13.

    Idempotent; a no-op (returning False) on the driver and on 3.13+,
    where invalidation is already lazy."""
    if sys.version_info >= (3, 13) or not _in_task():
        return False
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    return True
