"""PySpark's worker daemon, as ``spark.python.daemon.module`` of every
engine session, with zip importers that re-read an archive only when it
changed. PySpark invalidates the import caches on every task, and on
Python 3.11 that re-reads ``pyspark.zip`` once per importer of it:
about 0.2 s of worker CPU per task."""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive -> (its (mtime, size, inode) before the last read, the directory read)
_read_at = {}


def invalidate_caches(self):
    """``zipimporter.invalidate_caches``, skipping an unchanged archive."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _reread(self)
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    seen = _read_at.get(self.archive)
    if seen and seen[0] == stamp and seen[1] is zipimport._zip_directory_cache.get(self.archive):
        self._files = seen[1]
    else:
        _reread(self)
        _read_at[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    from pyspark import daemon

    # installed from the imported module, not __main__, so a worker can name it
    from disco_spark import worker_daemon

    zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
    daemon.manager()
