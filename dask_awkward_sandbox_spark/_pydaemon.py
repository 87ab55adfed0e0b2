"""The PySpark daemon, with zip-archive directory reads stat-guarded.

Every Python-worker task calls ``importlib.invalidate_caches()``, and
a ``zipimporter`` answers it by re-reading its archive's whole
directory. Here an importer re-reads only when its archive's
``(st_mtime_ns, st_size)`` changed since its last read, or cannot be
stat'ed, so a rewritten archive is still picked up. Run as the daemon
(``session.get_spark`` sets ``spark.python.daemon.module``), this
module installs the guard before ``pyspark.daemon`` forks its workers.
"""

import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_stamp", None):
        _read_archive(self)
        self._stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
