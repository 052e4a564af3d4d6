"""Keep a zip archive's import directory while the archive is unchanged.

Every PySpark Python worker task starts with ``setup_spark_files``,
which calls :func:`importlib.invalidate_caches`. On CPython < 3.13 that
calls ``zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and each call re-reads its archive's whole
central directory. A worker imports PySpark from ``pyspark.zip``, so
every package inside it (``pyspark``, ``pyspark.sql``,
``pyspark.sql.pandas``, ...) has an importer of its own, and a task
re-reads the 1,328-entry directory of ``pyspark.zip`` once per importer.
One read takes 11–13 ms; with the 12–18 importers of a pandas-UDF
worker one ``invalidate_caches()`` call takes 130–170 ms on CPython
3.11.7 and 3.12.1 (4-core x86 host). The package cannot avoid the
archive: Spark puts it first on the worker's ``PYTHONPATH``, and the
worker imports PySpark from it before any package code runs.

CPython 3.13 fixed this in ``zipimport`` itself: there
``invalidate_caches`` only drops the archive's cached directory, and the
next import from the archive reads it once for all its importers (the
call measures 0.0 ms). :func:`install` backports the effect to older
interpreters by wrapping ``zipimporter.invalidate_caches``: an archive
whose ``(st_mtime_ns, st_size)`` matches the last read is not read
again, and the importer is pointed at the shared cached directory. A
rewritten archive still is re-read, once, and every importer of it then
sees the new directory. On 3.13 and later :func:`install` does nothing.

The package imports this module and calls :func:`install`, so a Python
worker installs the wrapper when it unpickles a package function (the
stateful op's state function, the ``mapInPandas`` queries); the tasks a
reused worker runs after that skip the re-reads.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _signature(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Wrap ``zipimporter.invalidate_caches`` to skip unchanged archives.
    Idempotent; ``False`` (and nothing done) on CPython 3.13 or later."""
    if sys.version_info >= (3, 13):
        return False
    original = zipimport.zipimporter.invalidate_caches
    if hasattr(original, "__wrapped__"):
        return True
    # archive -> signature of the directory now in _zip_directory_cache;
    # one map per installed wrapper, shared by every importer
    read_at: dict[str, tuple[int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self) -> None:
        # stat before the read: a rewrite landing between the two leaves
        # the old signature recorded, so the next call reads again
        sig = _signature(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if sig is not None and files is not None and read_at.get(self.archive) == sig:
            self._files = files
            return
        original(self)
        if sig is not None and self.archive in zipimport._zip_directory_cache:
            read_at[self.archive] = sig
        else:
            read_at.pop(self.archive, None)

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
