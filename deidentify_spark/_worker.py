"""Python-worker start-up: freeze the import-time heap, and skip
re-parsing unchanged zip archives.

A reused Spark Python worker runs a full ``gc.collect()`` after every
task (``pyspark/daemon.py``, the ``worker(...); gc.collect()`` loop in
``manager()``). That collection walks every tracked object, and the
imports of pyspark, pandas and pyarrow leave ~73 k of them: 20-35 ms of
CPU per task that frees almost nothing (4-vCPU VM, CPython 3.11). So the
first task that imports this package runs ``gc.collect()`` once and then
``gc.freeze()``, which moves every surviving object to the permanent
generation that later collections, the daemon's and automatic ones
alike, skip. Only what exists at the freeze is frozen, so it comes after
those imports; unpickling the fused UDF imports this package before the
worker imports pandas and pyarrow, so ``install`` imports them first
(frozen: ~38 k objects without that, ~72 k with it; left for each collect
after a fused-pipeline task: ~37 k and ~2.6 k). The collect just before
the freeze means only reachable objects are frozen. What can leak is
whatever of that frozen heap later becomes cyclic garbage, once per
worker process. The bound is the heap at the first package import, not
only the import-time heap: ``install`` runs inside the first task that
imports the package (while its command is unpickled, or mid-task when
a UDF imports the package in its body), so that task's command objects
are frozen too, and in the second case also the batch it holds. Any of
those left in cycles after the task is never freed in that worker.
Applies on every CPython.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.setup_spark_files``). On CPython < 3.13 that makes
every ``zipimport.zipimporter`` on ``sys.path_importer_cache`` re-read its
archive's whole central directory: about a dozen importers over
``pyspark.zip`` (1.3 k entries), any jar on the worker path and, under
``--py-files``, the package zip itself. That measured 0.26 s per task
even for an identity UDF (4-vCPU VM, CPython 3.11). CPython 3.13 made
the re-read lazy, so there the hook is not installed.

With the hook, an importer whose archive has the same
``(st_ino, st_size, st_mtime_ns)`` as at its last read, and whose directory
``zipimport._zip_directory_cache`` still holds, adopts that directory; a
changed, replaced or missing archive takes the stdlib re-read. The first
task in a reused worker pays the read once, later tasks skip it.

Neither is installed outside a Spark task: the driver, tests and plain
Python keep the stdlib behaviour and an unfrozen heap.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches

# archive path -> stat key at its last read through the hook. Process-wide
# like zipimport._zip_directory_cache, whose entries it vouches for.
_read_stat: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed
    archive."""
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_stat.get(self.archive) == key:
        self._files = files
        return
    # stat before the read: an archive rewritten during it reads as
    # changed on the next call
    _stdlib_invalidate_caches(self)
    if key is not None and self.archive in zipimport._zip_directory_cache:
        _read_stat[self.archive] = key
    else:
        _read_stat.pop(self.archive, None)


def _in_spark_task() -> bool:
    # pyspark is always imported before a worker unpickles a UDF; never
    # import it here, so the scalar library keeps working without it
    taskcontext = sys.modules.get("pyspark.taskcontext")
    return taskcontext is not None and taskcontext.TaskContext.get() is not None


def install() -> None:
    """In a Spark Python task, freeze the heap and, on CPython < 3.13,
    install the zipimport hook; a no-op anywhere else (the driver, plain
    Python)."""
    if not _in_spark_task():
        return
    # every UDF this package ships is an Arrow UDF, whose worker imports
    # both right after unpickling it: import them here so they are frozen
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    gc.collect()
    gc.freeze()
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
