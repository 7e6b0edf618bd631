"""Spark's Python worker daemon, minus a per-task re-read of pyspark.zip.

Spark starts this module (`spark.python.daemon.module`, set by
`get_spark`) in place of `pyspark.daemon`; it forks the workers that
run every Python UDF, so they inherit the change below.

The workers import pyspark from `$SPARK_HOME/python/lib/pyspark.zip`.
Before each task, `pyspark.worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`, and on Python < 3.12 every
`zipimporter` on the import path then re-reads its archive's directory
(1,328 entries, about 16 importers), whether or not the file changed:
about 0.2 CPU-s per task. Here an importer re-reads only when its
archive's (mtime, size) differs from the last read; a changed or new
archive is still read fresh. Python 3.12 defers the re-read itself and
is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport


def stamped_invalidate_caches(original):
    """`original` (zipimporter.invalidate_caches), skipped while the
    archive's (st_mtime_ns, st_size) matches that of its last read."""
    stamps: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamps.get(self.archive) == stamp and files is not None:
            self._files = files
            return
        original(self)
        stamps[self.archive] = stamp

    return invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = stamped_invalidate_caches(
            zipimport.zipimporter.invalidate_caches
        )
    from pyspark.daemon import manager

    manager()
