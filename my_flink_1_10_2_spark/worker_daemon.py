"""Python worker daemon: ``pyspark.daemon`` with a stat-checked zip cache.

Every task a Python worker runs ends its set-up in
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython < 3.13 each cached ``zipimporter`` then re-parses its whole
archive's directory: ``pyspark.zip`` once per cached subpackage and the
spark-core jar on the worker path, tens of milliseconds per task.  Here an
archive is re-read only when its ``(st_mtime_ns, st_size)`` changed, so a
zip shipped or rewritten by ``addPyFile`` is still seen.  The session runs
this module as ``spark.python.daemon.module``; forked workers inherit the
patch and the stamps taken before the fork.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only when the file changed."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    import pyspark.daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp every archive before the fork
    pyspark.daemon.manager()
