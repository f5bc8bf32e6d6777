"""Zip finders that re-read an archive only when it has changed.

A PySpark worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark.worker_util.setup_spark_files``). CPython 3.11's
``zipimporter.invalidate_caches`` answers by re-reading the archive's
whole central directory, and a worker's ``sys.path`` holds
``pyspark.zip``, the py4j zip and the spark-core jar, with one finder
per package directory imported from them. That is ~100 ms of fixed
cost per Python task, on a reused worker too. ``install()`` swaps those
finders for ones that skip the re-read while the archive's
``(st_mtime_ns, st_size)`` is unchanged, so a rewritten zip is still
picked up.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class _StableZipImporter(zipimport.zipimporter):
    def __init__(self, path):
        super().__init__(path)
        self._stamp = _stamp(self.archive)

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def install() -> None:
    """Use ``_StableZipImporter`` for zip entries on ``sys.path`` from
    now on. Idempotent. Each plain zip finder is dropped from
    ``sys.path_importer_cache`` and rebuilt on its next lookup from
    zipimport's directory cache, so nothing is re-read; modules already
    imported keep their loaders."""
    sys.path_hooks[:] = [
        _StableZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[entry]
