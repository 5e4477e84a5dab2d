"""Stat-guarded ``zipimporter.invalidate_caches`` for Python task workers.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before Python 3.13 that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole central directory at once: pyspark.zip once per imported subpackage,
the py4j zip, the Spark jar and this package's shipped zip. That is tens of
milliseconds of every Python task. Python 3.13 made the re-read lazy.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` changed since this importer last read it, so a rewritten or
replaced archive is still picked up on the next invalidation. It is
installed only inside a Python task (``TaskContext.get()`` is set while a
worker unpickles a task's function, which is when this package is first
imported there); the driver keeps the stock behaviour.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STAMP_ATTR = "_n5ds_archive_stamp"


def _archive_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _guarded_invalidate_caches(
    self: zipimport.zipimporter,
    _reread=zipimport.zipimporter.invalidate_caches,
) -> None:
    # stat BEFORE the read: a rewrite racing the read leaves a stale stamp,
    # so the next invalidation re-reads rather than trusting a torn view
    stamp = _archive_stamp(self.archive)
    if stamp is not None and stamp == getattr(self, _STAMP_ATTR, None):
        return
    _reread(self)
    setattr(self, _STAMP_ATTR, stamp)


def installed() -> bool:
    """True when this process runs the guarded invalidation."""
    return zipimport.zipimporter.invalidate_caches is _guarded_invalidate_caches


def install_in_task_worker() -> None:
    """Install the guard if this process is running a Python task on an
    interpreter whose ``zipimporter.invalidate_caches`` re-reads eagerly."""
    if sys.version_info >= (3, 13):
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
