"""Python worker daemon for :func:`session.get_spark` sessions.

Before each task, PySpark's ``worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python 3.11 every ``zipimporter`` then
re-reads the whole central directory of its archive, and a worker holds one
importer per pyspark subpackage loaded from ``pyspark.zip`` (14-16 of them,
1,328 entries each): about 130 ms of CPU per task per Python hop. Run as
``spark.python.daemon.module``, this module starts Spark's stock daemon with
``zipimporter.invalidate_caches`` replaced by :func:`invalidate_if_changed`.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the archive's (inode, size,
    mtime) differs from this importer's last read; an archive that cannot be
    stat'ed is re-read (the stock method then drops its entries)."""
    try:
        st = os.stat(self.archive)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_read_key", None):
        _reread(self)
        self._read_key = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    # Key the importers the daemon already holds, so forked workers inherit
    # them read and skip even their first task's re-read.
    importlib.invalidate_caches()
    daemon.manager()
