"""Spark's Python daemon, with zip archives re-read only when they change.

Each task a Python worker runs starts in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython before 3.13,
``zipimport.zipimporter.invalidate_caches`` reads its archive's whole
central directory again, and every imported package of an archive has
an importer of its own. A worker imports ``pyspark`` from
``$SPARK_HOME/python/lib/pyspark.zip``, and the py4j zip, the
``spark-core`` jar and the session's ``bspe_pkg.zip`` are on its path
too, so every task re-read the same unchanged archives a dozen times
and more.

Spark starts this module as ``python -m bspe_daemon <worker module>``
when ``spark.python.daemon.module`` names it (``session._session_confs``
does for local masters and puts this directory on the daemon's
``PYTHONPATH``). It patches ``zipimporter.invalidate_caches``, seeds the
shared reads, and runs the stock ``pyspark.daemon`` as ``__main__``
with ``sys.argv`` untouched. The workers the daemon forks inherit both.
"""

import importlib
import os
import runpy
import zipimport


def _skip_unchanged_zip_rereads() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_mtime_ns, st_size, st_ino)`` differs from the last
    read. Importers of one archive share that read through zipimport's
    own directory cache. Then read every archive on the path once, so
    that the next invalidation re-reads none."""
    stock = zipimport.zipimporter.invalidate_caches
    read_stamps = {}  # archive path -> stat stamp of its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and read_stamps.get(self.archive) == stamp):
            self._files = files
            return
        stock(self)  # re-reads, or drops the cache entry on failure
        read_stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    _skip_unchanged_zip_rereads()
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
