"""PySpark worker daemon for engine sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task (``pyspark/worker_util.py::setup_spark_files``). On Python < 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads its archive's whole
table of contents at once, and a reused worker holds one importer per
package directory it imported from: about 16, over ``pyspark.zip``
(1,328 entries), the py4j zip and the ``spark-core`` jar. That costs
150-400 ms between task launch and function entry on every task,
whatever the row count (Python 3.11, Spark 4.1, 4 cores).

This module makes the re-read happen only when the archive file changed
(same ``(st_mtime_ns, st_size)`` as at the last read: skip), then runs
``pyspark.daemon`` unchanged. Re-reading an unchanged archive yields the
same table of contents, so imports resolve exactly as before; Python
3.12 made the re-read lazy for the same reason (gh-103200), and there
this module changes nothing. Only the standard library is imported
before the patch.
"""

from __future__ import annotations

import os
import runpy
import sys


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Make zip-importer invalidation skip archives whose file is unchanged."""
    if sys.version_info >= (3, 12):
        return
    import zipimport

    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches
    #: archive path -> file stamp taken just before its last directory read
    stamps: dict[str, tuple[int, int] | None] = {}

    def _read_stamped(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = stamps.get(self.archive)
        if files is not None and stamp is not None and stamp == _stamp(self.archive):
            self._files = files
        else:
            invalidate(self)

    zipimport._read_directory = _read_stamped
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
