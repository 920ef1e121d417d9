"""Session + deployment helpers.

The engine's UDF kernels (``mapInPandas`` / ``applyInPandas`` functions)
live in this package, so executor Python workers must be able to import it.
On a real cluster that's ``spark-submit --py-files cg_spark.zip`` (the
north-star deployment mode); for interactive / driver-embedded use,
:func:`ensure_on_executors` builds the same zip on the fly and ships it with
``SparkContext.addPyFile`` — idempotent per application.

:func:`install_lazy_zip_invalidation` stops PySpark's worker re-reading
``pyspark.zip`` at the start of every task. Importing the package runs it
in whatever process imports it. In a :func:`get_spark` session on a local
master, Spark forks every Python worker from this package's daemon
(``_daemon.py``), which has run it, so every worker has it — including
workers that only run PySpark's own RDD functions, such as a
``createDataFrame(list)`` scan. Elsewhere — other masters, a
``spark.python.daemon.module`` the user set, sessions not made by
:func:`get_spark` — only workers that unpickle a package UDF install it,
and from that task on.
"""

from __future__ import annotations

import functools
import hashlib
import os
import re
import sys
import tempfile
import zipfile
import zipimport
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))
_DAEMON_MODULE = f"{__package__}._daemon"
_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")
_ATTACHED: set[str] = set()
# archive path -> (st_mtime_ns, st_size, st_ino) taken just before
# install_lazy_zip_invalidation last had its central directory re-read
_ZIP_STAT: dict[str, tuple[int, int, int] | None] = {}


def _package_sources() -> list[tuple[str, str]]:
    """(path on disk, path in the zip) of every ``.py`` file of the
    package, in a fixed order."""
    pkg_name = os.path.basename(_PKG_DIR)
    out = []
    for root, dirs, files in os.walk(_PKG_DIR):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                out.append((full, os.path.join(
                    pkg_name, os.path.relpath(full, _PKG_DIR))))
    return out


def package_zip(path: str | None = None) -> str:
    """Write the package as a --py-files-able zip; returns the zip path.

    With no ``path`` the zip goes to the temp dir under a name keyed by a
    hash of the package sources, and an existing zip of that name is
    reused rather than rewritten: a process writes it at most once, and a
    worker daemon importing from it (see :func:`get_spark`) never sees a
    different checkout's code appear under its path.

    Raises ``RuntimeError`` when the package was itself imported from an
    archive (``spark-submit --py-files cg.zip``): there are no source
    files to walk, and that archive is already the one to ship."""
    if not os.path.isdir(_PKG_DIR):
        raise RuntimeError(
            f"{__package__} was imported from an archive ({_PKG_DIR}), "
            "not a directory; ship that archive instead")
    sources = _package_sources()
    if path is None:
        h = hashlib.sha256()
        for full, rel in sources:
            h.update(rel.encode() + b"\0")
            with open(full, "rb") as f:
                h.update(f.read())
        path = os.path.join(
            tempfile.gettempdir(),
            f"{os.path.basename(_PKG_DIR)}-{h.hexdigest()[:16]}-pyfiles.zip")
        if os.path.exists(path):
            return path
    tmp = f"{path}.{os.getpid()}.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
        for full, rel in sources:
            zf.write(full, rel)
    os.replace(tmp, path)
    return path


def ensure_on_executors(spark: SparkSession) -> None:
    """Ship this package to executors once per application (idempotent).

    Ships nothing when the package was imported from an archive: that
    archive came with ``--py-files``, so the executors already have it."""
    if not os.path.isdir(_PKG_DIR):
        return
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


def _daemon_confs(master: str, conf: dict[str, str],
                  pythonpath: str) -> dict[str, str]:
    """Confs that make Spark fork its Python workers from ``_daemon``.

    Empty unless ``master`` is ``local`` or ``local[...]`` (the executors
    share the driver's file system, so they can import from
    ``pythonpath``) and ``conf`` — what the session would otherwise start
    with — sets no ``spark.python.daemon.module``. ``pythonpath`` goes
    first on the daemon's ``PYTHONPATH``, ahead of any
    ``spark.executorEnv.PYTHONPATH`` in ``conf``."""
    if (not _LOCAL_MASTER.fullmatch(master)
            or "spark.python.daemon.module" in conf):
        return {}
    rest = conf.get("spark.executorEnv.PYTHONPATH", "").split(os.pathsep)
    paths = [pythonpath] + [p for p in rest if p and p != pythonpath]
    return {"spark.python.daemon.module": _DAEMON_MODULE,
            "spark.executorEnv.PYTHONPATH": os.pathsep.join(paths)}


def _defaults_file_master() -> str | None:
    """``spark.master`` of ``spark-defaults.conf`` in ``SPARK_CONF_DIR``
    (else ``$SPARK_HOME/conf``), the file spark-submit reads, or None."""
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is None:
        from pyspark.find_spark_home import _find_spark_home
        conf_dir = os.path.join(_find_spark_home(), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf"),
                  encoding="utf-8") as f:
            lines = f.read().splitlines()
    except OSError:
        return None
    master = None  # a later line overrides an earlier one
    for line in lines:
        m = re.match(r"\s*spark\.master(?:\s*[=:]\s*|\s+)(\S.*?)\s*$", line)
        if m:
            master = m.group(1)
    return master


def get_spark(master: str | None = None, shuffle_partitions: int | None = None,
              app_name: str = "candidategeneration-spark") -> SparkSession:
    """Opinionated session: AQE on, Arrow on, shuffle partitions sized to
    the parallelism level (≈ cores at local scale; 2-3× executor cores on a
    real cluster — callers override for 100 TB runs).

    ``master``: ``None`` keeps the launch conf's ``spark.master`` — a
    spark-submit driver's ``--master``, ``--master`` in
    ``PYSPARK_SUBMIT_ARGS``, or the ``spark.master`` of
    ``spark-defaults.conf`` (in ``SPARK_CONF_DIR``, else
    ``$SPARK_HOME/conf``) — and defaults to ``local[SPARK_GRAFT_CPUS]``
    only when none of them sets one.

    On a ``local`` / ``local[...]`` master, Spark forks every Python
    worker from this package's daemon (``_daemon.py``), so every worker
    skips the per-task ``pyspark.zip`` re-read
    (:func:`install_lazy_zip_invalidation`), whatever it runs; the daemon
    imports the package from the same zip :func:`ensure_on_executors`
    ships. Other masters, a package imported from an archive, and a
    ``spark.python.daemon.module`` already set in the launch conf
    (``spark-defaults.conf``, ``PYSPARK_SUBMIT_ARGS``) keep the daemon
    Spark would use."""
    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
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
    # the gateway started below gets ``opts`` as --conf, which would
    # override spark-defaults.conf, so its master is read here
    default_master = f"local[{cpus}]"
    if master is None and SparkContext._gateway is None:
        default_master = _defaults_file_master() or default_master
    opts = {
        "spark.master": master or default_master,
        "spark.app.name": app_name,
        "spark.driver.memory": driver_mem,
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Pin the session timezone: timestamp-rendering functions
        # (date_format, dayofweek) must agree with the DuckDB oracle,
        # which treats parquet timestamp[us] as naive/UTC regardless of
        # the host's /etc/localtime.
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.ui.enabled": "false",
    }
    # the launch conf is read through the gateway JVM, started here with
    # ``opts`` when none runs yet, as getOrCreate would start it; a
    # spark-submit driver's gateway already runs with the submit's conf,
    # whose master a ``None`` master keeps
    SparkContext._ensure_initialized(
        conf=SparkConf(loadDefaults=False).setAll(opts.items()))
    launch = dict(SparkConf().getAll())
    if master is None:
        opts["spark.master"] = launch.get("spark.master", opts["spark.master"])
    if os.path.isdir(_PKG_DIR):
        opts.update(_daemon_confs(opts["spark.master"], launch,
                                  package_zip()))
    spark = SparkSession.builder.config(map=opts).getOrCreate()
    ensure_on_executors(spark)
    return spark
