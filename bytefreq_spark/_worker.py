"""Per-process setup that spares a reused Spark Python worker two fixed
costs on every task.  ``install()`` runs once per process, when the package
is first imported.

* **Zip directories re-read per task.**  The worker calls
  ``importlib.invalidate_caches()`` at the start of every task, and on
  CPython < 3.13 ``zipimporter.invalidate_caches`` re-parses the whole
  central directory of its archive (``pyspark.zip``, the py4j zip and the
  Spark jar on the worker's ``PYTHONPATH``, one importer per package path:
  ~27k entries per task).  The wrapper re-reads an archive only when its
  ``(st_mtime_ns, st_size)`` differs from the last read, so a rewritten
  archive is still picked up.  Archives already in
  ``sys.path_importer_cache`` at install count as read at install.
* **A full collection after every task.**  The daemon runs ``gc.collect()``
  after each task of a reused worker, which walks every import-time object
  (~73k with numpy, pandas and pyarrow loaded).  Inside a worker (a task
  context is set while the task unpickles its function) the kernels'
  dependencies are imported and ``gc.freeze()`` moves everything loaded so
  far out of the collector's reach.  The driver is left alone.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_installed = False
_read = zipimport.zipimporter.invalidate_caches
# archive path → (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        self._files = files  # another importer of the archive may have re-read it
        return
    _read(self)
    _stamps[self.archive] = stamp


def install() -> None:
    global _installed
    if _installed:
        return
    _installed = True
    if sys.version_info < (3, 13):  # 3.13 only drops a cache entry
        for imp in list(sys.path_importer_cache.values()):
            if isinstance(imp, zipimport.zipimporter):
                _stamps.setdefault(imp.archive, _stamp(imp.archive))
        zipimport.zipimporter.invalidate_caches = _invalidate_caches

    from pyspark.taskcontext import TaskContext

    if TaskContext.get() is not None:
        import numpy  # noqa: F401
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        gc.freeze()
