"""The Python worker daemon `session.get_spark` selects with
`spark.python.daemon.module`.

PySpark's `worker_util.setup_spark_files` calls `importlib.invalidate_caches()`
in every task. On CPython < 3.13 that makes each `zipimporter` on `sys.path`
re-read its whole archive directory (`pyspark.zip`, py4j, the spark-core jar:
~28,000 entries per task). Here an archive is re-read only when its
`(st_mtime_ns, st_size)` changed since its last read, and the importers of one
archive share that read. The daemon reads each archive once before it forks
any worker, then runs the stock `pyspark.daemon.manager()`.
"""

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> (st_mtime_ns, st_size) of the read now in zipimport's own
# per-process directory cache; forked workers inherit the daemon's
_stamps = {}


def invalidate_caches(self):
    """`zipimporter.invalidate_caches` that re-reads only a changed archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and stamp is not None and _stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _reread(self)
        _stamps[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()
