"""sz_spark: PySpark-native record linkage over transcript tables.

Importing the package installs :func:`_install_checked_zip_invalidation`.
Every pipeline Python task unpickles an ``sz_spark`` function, so each
reused Python worker installs it on its first task and keeps it.
"""

from __future__ import annotations

import functools
import os
import zipimport

#: attribute on a zipimporter: the archive's (inode, size, mtime_ns) at
#: its last directory read through the checked method
_STAMP = "_sz_archive_stamp"


def _install_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives.

    PySpark's ``worker_util.setup_spark_files`` calls
    ``importlib.invalidate_caches()`` at the start of EVERY Python task.
    On CPython 3.11 that reaches each zipimporter in
    ``sys.path_importer_cache`` and each one re-parses its archive's
    central directory in pure Python.  Where workers import pyspark
    from ``$SPARK_HOME/python/lib/pyspark.zip``, that is about 16
    zipimporters over its ~1,300 entries once pyspark's subpackages are
    imported.  Measured on a 4-core box (warm ``local[4]``, identity
    ``mapInArrow``, median of 7 in each of two sessions), 32 tasks took
    2.9-3.4 s with that re-read and 1.0 s without it.  The workers of a
    ``local[N]`` session that ``session.build_session`` launches import
    pyspark from an extracted tree instead (``session._worker_tree``),
    which leaves four zipimporters, over the top level of the two zips
    and of the spark-core jar Spark also puts on the worker path;
    sessions on a submitted master still import from the zip.

    The method is checked, not stubbed: an archive shipped or replaced
    with ``SparkContext.addPyFile`` after a worker started must still
    import in that worker.  So an importer re-reads its archive whenever
    the stat stamp differs from the one taken at its last re-read, is
    missing (the first call), or the stat fails; only an unchanged
    archive is skipped.  ``FileFinder`` and every other meta-path
    invalidation are untouched.  CPython >= 3.13 already defers the
    re-read; the check stays correct there, since it only ever skips
    unchanged archives.

    This is installed on import rather than from the daemon module:
    with ``spark-submit --py-files sz_spark.zip`` the package joins a
    worker's ``sys.path`` only inside ``setup_spark_files``, so the
    daemon cannot import it, and a submitted master keeps PySpark's own
    daemon.

    Idempotent: a second import or a ``reload`` of the package leaves the
    installed method as it is."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_sz_checked", False):
        return

    @functools.wraps(original)
    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop(_STAMP, None)
            return original(self)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        if self.__dict__.get(_STAMP) != stamp:
            # stamp taken BEFORE the read: a change racing the read
            # leaves an older stamp, so the next call re-reads again
            original(self)
            self.__dict__[_STAMP] = stamp

    invalidate_caches._sz_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_install_checked_zip_invalidation()
