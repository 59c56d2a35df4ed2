"""Python-worker daemon with a stat-guarded zip-importer cache.

Every call into a Spark Python worker starts in pyspark's
``worker_util.setup_spark_files``, which ends in
``importlib.invalidate_caches()``. On Python 3.11 that makes each
``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's
whole directory. A worker importing pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` holds about 16 of them (one per
imported pyspark sub-package, plus the spark-core jar and the py4j
zip): about 150 ms of CPU per call before any user code runs.

Importing this module wraps ``zipimporter.invalidate_caches`` so that
an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from the one taken at that
importer's last read through the wrapper. An importer with no such
read yet, or an archive whose ``stat`` fails, re-reads as before.

``python -m rs_query_engine_spark.pyworker`` runs pyspark's daemon
with the guard installed; ``session.get_spark`` names it as the task
workers' daemon module.
"""

from __future__ import annotations

import os
import zipimport


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; a second call is a no-op."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_guarded", False):
        return

    def invalidate_caches(self) -> None:
        # stamp before reading: a change during the read re-reads next time
        stamp = _archive_stamp(self.archive)
        if stamp is None or stamp != getattr(self, "_read_stamp", None):
            reread(self)
            self._read_stamp = stamp

    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


install()

if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
