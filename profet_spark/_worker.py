"""One-time set-up of a Python worker process that runs an engine kernel.

PySpark charges every task a fixed cost that has nothing to do with the
rows it carries (sizes in the :mod:`profet_spark.session` docstring):

- before each task the worker calls ``importlib.invalidate_caches()``;
  on Python < 3.13 that makes every zip importer on the worker path
  re-read its archive's full directory;
- after each task the daemon runs a full ``gc.collect()`` over the whole
  import-time heap (pandas, pyarrow, numpy, pyspark).

:func:`init` removes both, once per worker process. It runs on package
import, so every kernel that unpickles a ``profet_spark`` reference runs
it on the worker; kernels whose closures would otherwise pull in only
pandas call it explicitly. Outside a Spark task it does nothing.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_done = False
# archive path -> (st_mtime_ns, st_size) when its directory was last read
_stamps: dict[str, tuple[int, int] | None] = {}
_eager_invalidate = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when the archive changed since the last read (the
    lazy behaviour CPython 3.13 ships)."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamp taken before the read: a change during the read re-reads next time
    _eager_invalidate(self)
    _stamps[self.archive] = stamp


def init() -> None:
    """Make the per-task worker cost independent of the heap and the
    archives on the path. Idempotent; a no-op outside a Spark task."""
    global _done
    if _done:
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    _done = True
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # every engine kernel runs on pandas or pyarrow: load them before the
    # freeze so the daemon's per-task gc.collect() skips their heap too
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.freeze()
