"""Run at start by each Python process of a local-master ``get_spark`` session
(the JVM's ``PYTHONPATH``): imports skip Spark's archives, which hold no
bytecode (:func:`trim`), and tasks skip re-reading unchanged zips."""
import fnmatch, importlib.util, os, sys, zipimport
from importlib.machinery import PathFinder
_SPARK_ARCHIVES = ("pyspark.zip", "py4j-*-src.zip", "spark-core_*.jar")
_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def trim(path: list) -> list:
    """``path`` less Spark's archives, if same-version copies are installed."""
    spark = [p for p in path if any(
        fnmatch.fnmatch(os.path.basename(p), a) for a in _SPARK_ARCHIVES)]
    rest = [p for p in path if p not in spark]
    pyspark = PathFinder.find_spec("pyspark", rest)
    zips = [p for p in spark if os.path.basename(p) == "pyspark.zip"]
    if not zips or not pyspark or not PathFinder.find_spec("py4j", rest):
        return path
    try:
        zipped = zipimport.zipimporter(zips[0]).get_data("pyspark/version.py")
        version = os.path.join(os.path.dirname(pyspark.origin), "version.py")
        same = pyspark.loader.get_data(version) == zipped
    except (OSError, ImportError):
        return path
    return rest if same else path


def invalidate_caches(self) -> None:
    """Re-read the archive's directory if it changed since the last read."""
    try:
        st = os.stat(self.archive)
        stamp = st.st_mtime_ns, st.st_size
    except OSError:
        stamp = object()  # unknown: re-read, and again next time
    if stamp != getattr(self, "_read_stamp", None):
        _stock_invalidate_caches(self)
        self._read_stamp = stamp


if __name__ == "sitecustomize":
    for gone in set(sys.path) - set(kept := trim(sys.path)):
        sys.path_importer_cache.pop(gone, None)  # and no re-reads of it
    sys.path[:] = kept
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # stamp the importers forked workers inherit
    here = os.path.dirname(__file__)
    rest = [p for p in sys.path if os.path.abspath(p) != here]
    if (hidden := PathFinder.find_spec("sitecustomize", rest)) is not None:
        hidden.loader.exec_module(importlib.util.module_from_spec(hidden))
