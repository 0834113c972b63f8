"""Per-process fixes for the Python workers that run our UDFs.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On Python < 3.13 that
makes every ``zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's whole central directory, and Spark puts two archives on every
worker's path: ``pyspark.zip`` (cached under a dozen sub-package
prefixes) and the spark-core jar. Measured on Python 3.11 at
``local[4]``, that re-read is ~80 ms of a ~190 ms fused-edge task, paid
again on every task although reused workers keep their imports.

``install()`` makes a zipimporter re-read its archive only when the
archive's ``(st_mtime_ns, st_size)`` differs from when the directory was
last read — the staleness rule ``FileFinder`` applies to directories —
so a rewritten or replaced zip is still picked up. Python 3.13 made
``zipimporter.invalidate_caches`` lazy, so there it does nothing.

The package ``__init__`` calls ``install()`` when it is imported inside
a Spark task, i.e. once per worker process when a UDF's pickled closure
first pulls in ``pawpaw_spark``; the Spark driver's import machinery is left
alone.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _wrap(reread):
    # archive path -> (st_mtime_ns, st_size) when zipimport's shared
    # directory cache for it was last read through the wrapper
    read_at: dict[str, tuple[int, int]] = {}

    @functools.wraps(reread)
    def invalidate_caches(self):
        archive = self.archive
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and read_at.get(archive) == stamp:
            # unchanged since the shared directory was read: adopt it
            # (other prefixes of the same archive share one read)
            self._files = files
            return
        # stamp taken before the read: a write racing the read leaves
        # an old stamp, so the next call reads again
        reread(self)
        if stamp is not None and archive in zipimport._zip_directory_cache:
            read_at[archive] = stamp
        else:
            read_at.pop(archive, None)

    return invalidate_caches


def installed() -> bool:
    return hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (idempotent; a no-op on
    Python >= 3.13)."""
    if sys.version_info >= (3, 13) or installed():
        return
    zipimport.zipimporter.invalidate_caches = _wrap(zipimport.zipimporter.invalidate_caches)
