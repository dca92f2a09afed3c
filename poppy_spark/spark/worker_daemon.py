"""PySpark worker daemon that stops every task from re-reading zip archives.

``get_spark`` selects this module through ``spark.python.daemon.module``;
it runs ``pyspark.daemon.manager`` after one patch.

At the start of every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  Before Python 3.12,
``zipimport.zipimporter.invalidate_caches`` re-parses its archive's whole
central directory in pure Python, once for each zip importer the worker
holds (16 for ``pyspark.zip``, 1,328 entries): 130-190 ms of CPU per task
on a 4-core Xeon with CPython 3.11.  Python 3.12 made the re-read lazy
(gh-103200), so there the patch is not installed.

The patch re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` changed since that importer last read it, so a zip shipped or
replaced with ``SparkContext.addPyFile`` is still picked up.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

#: attribute holding the archive stat an importer last read its directory at
_STAT_ATTR = "_poppy_archive_stat"


def _archive_stat(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def patch_zipimport() -> bool:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives.

    Returns whether the patch is installed: False on Python >= 3.12,
    where the stock method is already cheap."""
    if sys.version_info >= (3, 12):
        return False
    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        stat = _archive_stat(self.archive)
        if stat is not None and stat == getattr(self, _STAT_ATTR, None):
            return
        stock(self)
        setattr(self, _STAT_ATTR, stat)

    invalidate_caches._poppy_patched = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    patched = patch_zipimport()
    from pyspark.daemon import manager

    if patched:
        # read every importer's directory once here, so forked workers
        # inherit the stats and their first task re-reads nothing
        importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    main()
