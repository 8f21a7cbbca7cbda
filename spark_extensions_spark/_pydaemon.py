"""PySpark worker daemon whose zip importers re-read an archive only
when it changed.

Each Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Up to Python 3.11 that
makes every ``zipimporter`` on ``sys.path`` re-read its archive's whole
central directory: ``pyspark.zip`` and the Spark jars cost about 0.3 s
per task. :func:`invalidate_caches` re-reads only when the archive's
``(st_mtime_ns, st_size)`` differs from the last read, or cannot be
stat'ed. Spark starts the daemon as ``python -m <this module> <worker
module>`` (``spark.python.daemon.module``, set by ``get_spark``), so
every forked worker inherits the replacement.
"""

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read the archive's directory if it changed since the last read."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _stock_invalidate_caches(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    import importlib

    # installed from the named module, not __main__, so that workers
    # can tell which function their importers run
    from spark_extensions_spark import _pydaemon

    zipimport.zipimporter.invalidate_caches = _pydaemon.invalidate_caches
    import pyspark.daemon

    # stamp every importer once here, so forked workers inherit the stamps
    importlib.invalidate_caches()
    pyspark.daemon.manager()
