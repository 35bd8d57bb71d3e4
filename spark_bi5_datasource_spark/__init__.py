"""PySpark-native analytics engine with the capabilities of
svaningelgem/spark_bi5_datasource, rebuilt Spark-first.

Components:
    sources    — bi5 DataSource (batch + streaming) and helpers
    operators  — composed operators Spark lacks (as-of join, dedup,
                 similarity search, per-group top-k)
    functions  — domain column expressions (OHLC, text analysis, ...)
    plans      — the query catalog exported through __spark_entry__
    streaming  — Structured Streaming pipelines
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import threading
import zipfile
import zipimport

from pyspark.sql import SparkSession

__version__ = "0.1.0"


def _share_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk.

    PySpark calls ``importlib.invalidate_caches()`` at the start of
    every planner call and every Python task.  Before CPython 3.13 that
    re-parses the whole archive directory once per zipimporter, and a
    worker importing pyspark from ``pyspark.zip`` holds one importer
    per subpackage path (13-17 of them over one 1,328-entry archive),
    so every call paid about 100-150 ms.  Here the first importer of an
    archive reads it, every other importer of the same archive shares
    the result, and later calls re-read only when the archive's
    (mtime_ns, size, inode) changed.  3.13 invalidates lazily and is
    left alone; a second install is a no-op.
    """
    stock = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(stock, "_shares_directories", False):
        return
    read: dict[str, tuple[tuple[int, int, int], dict]] = {}

    @functools.wraps(stock)
    def invalidate_caches(self) -> None:
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            stamp = None
        hit = read.get(self.archive)
        if stamp is not None and hit is not None and hit[0] == stamp:
            self._files = zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        stock(self)  # a missing or broken archive leaves _files = {}, uncached
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            read[self.archive] = (stamp, self._files)
        else:
            read.pop(self.archive, None)

    invalidate_caches._shares_directories = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_share_zip_directories()

_ship_lock = threading.Lock()
_zip_path: str | None = None  # built once per process → never stale
_shipped_apps: set[str] = set()  # keyed by Spark applicationId


def _build_zip() -> str:
    """Zip the package source into a fresh private per-process temp
    dir (mkdtemp ⇒ mode 0700, unique): no stale cache across source
    edits, no cross-user /tmp sharing, no same-path write races."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    out_dir = tempfile.mkdtemp(prefix="spark_bi5_pkg_")
    zpath = os.path.join(out_dir, "spark_bi5_datasource_spark.zip")
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    return zpath


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers
    regardless of the driver's cwd/PYTHONPATH.

    Worker-executed code (the bi5 reader instance, mapInPandas
    closures, the bi5_decode UDTF) is pickled **by module
    reference**, so workers must be able to
    ``import spark_bi5_datasource_spark``.  Inside the repo that
    works via cwd; from anywhere else it doesn't.  Shipping a zip via
    ``addPyFile`` covers local and cluster mode alike (a real
    deployment would install the wheel; this keeps the repo
    self-contained).
    """
    global _zip_path
    with _ship_lock:
        app_id = spark.sparkContext.applicationId
        if app_id in _shipped_apps:
            return
        if _zip_path is None:
            _zip_path = _build_zip()
        spark.sparkContext.addPyFile(_zip_path)
        _shipped_apps.add(app_id)


def register(spark: SparkSession) -> None:
    """Register all custom data sources on a session (the Python
    DataSource analogue of the reference's META-INF ServiceLoader
    registration)."""
    from .sources.bi5_datasource import Bi5DataSource

    ship_package(spark)
    # Bi5Reader implements pushFilters() (scan-level partition pruning);
    # Spark refuses to plan such a reader unless this conf is on.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(Bi5DataSource)
