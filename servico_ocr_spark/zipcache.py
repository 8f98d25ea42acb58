"""Keep a zip archive's directory across ``importlib.invalidate_caches()``
while the archive is unchanged.

Spark's Python worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py``, ``setup_spark_files``). Before CPython
3.13 that makes every ``zipimporter`` re-read its archive's whole central
directory at once: one identity task re-read ``pyspark.zip`` (1,328
entries) 12 times, the ``spark-core`` jar (5,359 entries) twice and the
py4j zip twice — about 0.19 s per task, more than the kernel work of a
small partition. 3.13 made the re-read lazy, so the guard is not installed
there.

The guard remembers, per archive, the ``(st_mtime_ns, st_size)`` it saw
just before its last read and the directory that read produced. A later
invalidation re-reads only when ``os.stat`` gives something else or fails;
otherwise the importer gets the directory already read. Importers of the
same archive share it, as ``zipimporter.__init__`` already does through
``zipimport._zip_directory_cache``.

A worker process pays the old cost on its first task (the guard arrives
with the first unpickled kernel) and one read per archive on its second.
"""

from __future__ import annotations

import functools
import os
import sys


def _signature(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimport.zipimporter.invalidate_caches``; idempotent."""
    if sys.version_info >= (3, 13):
        return
    import zipimport

    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_keeps_unchanged_archives", False):
        return
    read: dict[str, tuple] = {}  # archive → (signature, directory)

    @functools.wraps(original)
    def invalidate_caches(self):
        sig = _signature(self.archive)
        seen = read.get(self.archive)
        if sig is not None and seen is not None and seen[0] == sig:
            self._files = seen[1]
            zipimport._zip_directory_cache[self.archive] = seen[1]
            return
        original(self)
        read[self.archive] = (sig, self._files)

    invalidate_caches._keeps_unchanged_archives = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
