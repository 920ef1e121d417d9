"""Session + deployment helpers.

The engine's UDF kernels (``mapInPandas`` / ``applyInPandas`` functions)
live in this package, so executor Python workers must be able to import it.
On a real cluster that's ``spark-submit --py-files cg_spark.zip`` (the
north-star deployment mode); for interactive / driver-embedded use,
:func:`ensure_on_executors` builds the same zip on the fly and ships it with
``SparkContext.addPyFile`` — idempotent per application.

Importing the package also runs :func:`install_lazy_zip_invalidation` in
whatever process imports it — on executors, the Python worker that
unpickles a package UDF — so later tasks in that reused worker skip
PySpark's per-task re-read of ``pyspark.zip``.
"""

from __future__ import annotations

import functools
import os
import sys
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_ATTACHED: set[str] = set()
# archive path -> (st_mtime_ns, st_size, st_ino) taken just before
# install_lazy_zip_invalidation last had its central directory re-read
_ZIP_STAT: dict[str, tuple[int, int, int] | None] = {}


def package_zip(path: str | None = None) -> str:
    """Write the package as a --py-files-able zip; returns the zip path."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    if path is None:
        path = os.path.join(tempfile.gettempdir(),
                            f"{pkg_name}-pyfiles.zip")
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(pkg_name, os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    os.replace(tmp, path)
    return path


def ensure_on_executors(spark: SparkSession) -> None:
    """Ship this package to executors once per application (idempotent)."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _ATTACHED:
        return
    sc.addPyFile(package_zip())
    _ATTACHED.add(app)


def _zip_stat(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install_lazy_zip_invalidation() -> bool:
    """Stop ``importlib.invalidate_caches()`` re-reading unchanged zips.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``). On CPython < 3.13
    each ``zipimporter`` then re-reads its archive's whole central
    directory — one importer per package directory imported from
    ``pyspark.zip`` (1,328 entries), ~225 ms of every task at ``local[4]``
    on a 4-vCPU VM. CPython 3.13 made this lazy; this backports the
    effect: once an importer has re-read its archive, importers of that
    archive keep the shared cached directory for as long as the archive's
    ``(st_mtime_ns, st_size, st_ino)`` is unchanged. A changed or
    unreadable archive goes through the original method. Idempotent;
    returns True only on the call that installs it, and never installs on
    CPython >= 3.13.
    """
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return False
    original = cls.invalidate_caches

    @functools.wraps(original)
    def invalidate_caches(self):
        archive = self.archive
        key = _zip_stat(archive)  # before any read: a racing write re-reads
        files = zipimport._zip_directory_cache.get(archive)
        if (key is not None and files is not None
                and _ZIP_STAT.get(archive) == key):
            self._files = files
            return
        original(self)
        _ZIP_STAT[archive] = key

    cls.invalidate_caches = invalidate_caches
    return True


def get_spark(master: str | None = None, shuffle_partitions: int | None = None,
              app_name: str = "candidategeneration-spark") -> SparkSession:
    """Opinionated session: AQE on, Arrow on, shuffle partitions sized to
    the parallelism level (≈ cores at local scale; 2-3× executor cores on a
    real cluster — callers override for 100 TB runs)."""
    from pyspark.sql import SparkSession
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = int(cpus) if cpus.isdigit() else (os.cpu_count() or 4)
        shuffle_partitions = max(8, n)
    # local mode runs "executors" inside the driver JVM; the 1g default heap
    # thrashes once cached postings + concurrent task memory exceed it (we
    # measured the stats stage REGRESSING 17s→29s from 4 to 16 cores under
    # the default). Only effective before the gateway JVM starts — i.e. the
    # first session of the process — which is exactly the bench/CLI shape.
    # Default = half of physical RAM capped at 24g (a fixed 24g could
    # exceed a small container's cgroup limit and get the JVM OOM-killed
    # instead of spilling); SPARK_GRAFT_DRIVER_MEM overrides.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if driver_mem is None:
        try:
            total_g = (os.sysconf("SC_PAGE_SIZE")
                       * os.sysconf("SC_PHYS_PAGES")) >> 30
        except (ValueError, OSError):
            total_g = 8
        driver_mem = f"{max(1, min(24, total_g // 2))}g"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Pin the session timezone: timestamp-rendering functions
        # (date_format, dayofweek) must agree with the DuckDB oracle,
        # which treats parquet timestamp[us] as naive/UTC regardless of
        # the host's /etc/localtime.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
    )
    spark = b.getOrCreate()
    ensure_on_executors(spark)
    return spark
