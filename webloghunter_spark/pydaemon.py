"""Spark's Python worker daemon, importing pyspark from compiled files.

Spark starts this module (`spark.python.daemon.module`, set by
`get_spark`) in place of `pyspark.daemon`; it forks the workers that
run every Python UDF, so they inherit the two changes below.

Spark puts `$SPARK_HOME/python/lib/pyspark.zip` and the py4j zip at the
front of the workers' PYTHONPATH. zipimport neither reads nor writes
`.pyc` files, so every daemon start compiled pyspark from source
(`import pyspark.daemon`: 0.49 s from the zip, 0.10 s from
site-packages, same pyspark 4.1.2). When an installed pyspark is on the
path and its `pyspark/version.py` is byte-identical to the zip's, the
daemon moves the Spark zips behind it (`zips_behind_installed`), so the
same pyspark is imported from its compiled files. On any mismatch, or
with no installed pyspark, the path is left as it is. The package's
`__init__` imports no pyspark (its `get_spark` export is lazy), so
nothing has imported pyspark before this choice is made.

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
import zipfile
import zipimport

_VERSION_FILE = "pyspark/version.py"


def _zip_version(entry: str) -> bytes | None:
    """`pyspark/version.py` of the zip at `entry`, or None."""
    try:
        with zipfile.ZipFile(entry) as z:
            return z.read(_VERSION_FILE)
    except (OSError, KeyError, zipfile.BadZipFile):
        return None


def _dir_version(entry: str) -> bytes | None:
    """`pyspark/version.py` under the directory `entry`, or None."""
    try:
        with open(os.path.join(entry or ".", _VERSION_FILE), "rb") as fp:
            return fp.read()
    except OSError:
        return None


def zips_behind_installed(path: list[str]) -> list[str]:
    """`path` with the Spark zips (every zip beside the first
    pyspark zip on it) moved to just after the first directory holding
    a pyspark whose `pyspark/version.py` matches the zip's byte for
    byte; `path` unchanged when there is no such zip or directory."""
    zips = [p for p in path if zipfile.is_zipfile(p)]
    first = next((p for p in zips if _zip_version(p)), None)
    if first is None:
        return path
    wanted = _zip_version(first)
    installed = next((p for p in path if p not in zips and _dir_version(p) == wanted), None)
    if installed is None:
        return path
    lib = os.path.dirname(os.path.abspath(first))
    zips = [p for p in zips if os.path.dirname(os.path.abspath(p)) == lib]
    rest = [p for p in path if p not in zips]
    at = rest.index(installed) + 1
    return rest[:at] + zips + rest[at:]


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
    sys.path[:] = zips_behind_installed(sys.path)
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = stamped_invalidate_caches(
            zipimport.zipimporter.invalidate_caches
        )
    from pyspark.daemon import manager

    manager()
