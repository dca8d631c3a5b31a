"""Python-worker fix-up, installed by the package ``__init__`` when the
package is imported inside a PySpark worker (stdlib only, no Spark).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
directory of its archive on every call, and a worker holds one
zipimporter per imported package of ``pyspark.zip`` plus the py4j zip
and the spark-core jar: ~200 ms of CPU per task, whatever the task does.
CPython 3.13 made the invalidation lazy.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self):
    """Re-read the archive only when its (mtime, size, inode) changed since
    this importer last read it. The stamp is taken before the read, so a
    rewrite racing the read shows as a change at the next call."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


def install_zip_cache_fix():
    zipimport.zipimporter.invalidate_caches = invalidate_caches
