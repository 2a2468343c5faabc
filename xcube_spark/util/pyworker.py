"""PySpark daemon that keeps zip-import directories across tasks.

:mod:`xcube_spark.session` sets this module as
``spark.python.daemon.module``, so Spark starts its Python daemon with
``python -m xcube_spark.util.pyworker`` instead of
``python -m pyspark.daemon``.  The module patches one stdlib method and
then runs :func:`pyspark.daemon.manager` unchanged; every worker forked
from the daemon inherits the patch.

Why: before each task ``pyspark.worker`` calls
``importlib.invalidate_caches()`` (``setup_spark_files``), which calls
``invalidate_caches()`` on every importer in ``sys.path_importer_cache``.
On CPython < 3.13 ``zipimport.zipimporter.invalidate_caches`` re-reads
the archive's central directory eagerly, and a warm worker holds one
zipimporter per imported package directory: about a dozen for
``pyspark.zip``, two for the py4j zip and two for the spark-core jar
that Spark appends to the worker path.  Those reads were most of the
fixed per-task cost of a ``mapInPandas``/``applyInPandas``/pandas-UDF
stage.  CPython 3.13 made the method lazy (it only drops the cache
entry), so there the module patches nothing.

The patched method stats the archive and re-reads its directory only
when ``(st_mtime_ns, st_size)`` differs from the last read of that
archive in this process, or when ``stat`` fails; otherwise the importer
takes the directory of that last read.  A changed archive, or one that
``SparkContext.addPyFile`` ships after the daemon started, is still
read again, so imports behave as before.

Precondition: the worker's Python must be able to import
``xcube_spark`` (on ``PYTHONPATH``, installed, or the working
directory), which the package's own UDF closures already require.
Override ``spark.python.daemon.module`` through ``SPARK_GRAFT_CONF``
to go back to ``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> ((st_mtime_ns, st_size), directory) of the last read
_last_read: dict = {}
_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its stat stamp changed since the last read."""
    stamp = _stamp(self.archive)
    last = _last_read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _stdlib_invalidate_caches(self)
    # the stdlib method drops the cache entry when the read fails
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _last_read[self.archive] = (stamp, self._files)
    else:
        _last_read.pop(self.archive, None)


def install() -> bool:
    """Patch ``zipimport.zipimporter.invalidate_caches`` on CPython <
    3.13 (idempotent); returns whether the patch is active."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    import importlib

    from pyspark.daemon import manager

    # patch through the importable module, not this __main__ copy, so
    # a later ``import xcube_spark.util.pyworker`` sees the same state
    from xcube_spark.util.pyworker import install as _install

    _install()

    # read each archive once here, so forked workers start with stamps
    importlib.invalidate_caches()
    manager()
