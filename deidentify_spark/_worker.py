"""Python-worker start-up hook: skip re-parsing unchanged zip archives.

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
"""

from __future__ import annotations

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
    """Install the hook in a Spark Python task on CPython < 3.13; a no-op
    anywhere else (the driver, plain Python, CPython >= 3.13)."""
    if sys.version_info < (3, 13) and _in_spark_task():
        zipimport.zipimporter.invalidate_caches = invalidate_caches
