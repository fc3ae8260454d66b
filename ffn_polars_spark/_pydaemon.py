"""PySpark's Python worker daemon, with zip directories that last across tasks.

``get_spark`` runs this module as ``spark.python.daemon.module``
(``sources.PYTHON_DAEMON_MODULE``). At the start of every task PySpark's
worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.10-3.12 that makes
every ``zipimporter`` re-read its archive's whole directory: pyspark.zip's
1,328 entries once per imported pyspark subpackage, 0.2-0.3 s per task
(docs/tuning.md). Before the daemon forks its workers, this module makes the
re-read happen only when the archive's stat says it changed since it was
last read, so a rewritten archive or a new pyFile is still seen. The first
call after the swap reads each archive once; the daemon makes it before it
forks, so its workers inherit the result. CPython 3.13 only drops a cache
entry there, and is left alone.
"""

import importlib
import os
import sys
import zipimport

if sys.version_info < (3, 13):
    _read_directory_again = zipimport.zipimporter.invalidate_caches
    _read_as = {}  # archive path -> (st_mtime_ns, st_size, st_ino) when last read

    def _invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is None or files is None or _read_as.get(self.archive) != key:
            # stat before the read: a change in between costs a second read,
            # never a stale directory
            _read_directory_again(self)
            _read_as[self.archive] = key
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = _invalidate_caches

if __name__ == "__main__":
    from pyspark.daemon import manager

    importlib.invalidate_caches()
    manager()
