"""What a reused Python worker keeps between tasks.

- ``config.install_lazy_zip_invalidation``: ``importlib.invalidate_caches()``
  (PySpark calls it at the start of every task) must not re-read an
  unchanged zip archive, and must still re-read one that changed.
- In a ``local[1]`` application of its own (one task slot, so one reused
  worker per UDF kind): once a package UDF has run, the next task finds
  the shim installed, and the second prepared batch is served from the
  worker's broadcast-segment memo.
- In a ``config.get_spark`` local application, every Python worker is
  forked from the package's daemon, so even a task that runs only a
  PySpark RDD function finds the shim installed; other masters and a
  user-set daemon module are left alone.
"""

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from candidategeneration_spark import config

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PKG = {
    "zpkg/__init__.py": "",
    "zpkg/sub/__init__.py": "",
    "zpkg/sub/deep/__init__.py": "",
    "zpkg/sub/deep/mod.py": "X = 1\n",
    "zpkg/other/__init__.py": "Y = 1\n",
}


def _write_zip(path: str, files: dict[str, str]) -> None:
    tmp = path + ".tmp"
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in files.items():
            zf.writestr(name, src)
    os.replace(tmp, path)


@pytest.fixture
def zip_pkg(tmp_path, monkeypatch):
    """A zip holding ``zpkg`` with nested subpackages, imported from
    ``sys.path``; yields (archive path, list of its directory reads)."""
    archive = str(tmp_path / "zpkg.zip")
    _write_zip(archive, PKG)
    monkeypatch.syspath_prepend(archive)
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        monkeypatch.delitem(sys.modules, name)
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    importlib.import_module("zpkg.sub.deep.mod")
    importlib.import_module("zpkg.other")
    yield archive, reads
    for name in [m for m in sys.modules if m.split(".")[0] == "zpkg"]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def test_installed_below_313():
    wrapped = hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
    assert wrapped == (sys.version_info < (3, 13))


def test_unchanged_zip_is_not_reread(zip_pkg):
    archive, reads = zip_pkg
    importers = [v for k, v in sys.path_importer_cache.items()
                 if k.startswith(archive)
                 and isinstance(v, zipimport.zipimporter)]
    assert len(importers) >= 4  # the archive root + one per package dir
    del reads[:]  # the read at import time
    importlib.invalidate_caches()
    assert len(reads) <= 1  # one re-read per archive, not one per importer
    del reads[:]
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []
    assert importlib.import_module("zpkg.sub.deep.mod").X == 1


def test_changed_zip_is_reread(zip_pkg):
    archive, reads = zip_pkg
    importlib.invalidate_caches()
    _write_zip(archive, {**PKG, "zpkg/sub/deep/new.py": "X = 2\n"})
    importlib.invalidate_caches()
    assert reads  # the rewritten archive's directory was read again
    assert importlib.import_module("zpkg.sub.deep.new").X == 2


def test_installer_is_idempotent():
    before = zipimport.zipimporter.invalidate_caches
    assert config.install_lazy_zip_invalidation() is False
    assert zipimport.zipimporter.invalidate_caches is before


def test_installer_changes_nothing_on_313(monkeypatch):
    inv = zipimport.zipimporter.invalidate_caches
    inv = getattr(inv, "__wrapped__", inv)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", inv)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    assert config.install_lazy_zip_invalidation() is False
    assert zipimport.zipimporter.invalidate_caches is inv


LOCAL1_DRIVER = """
import json, os, sys, zipimport
import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

spark = (SparkSession.builder.master("local[1]")
         .config("spark.driver.memory", "1g")
         .config("spark.sql.shuffle.partitions", "1")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

from candidategeneration_spark.config import ensure_on_executors
from candidategeneration_spark.indexcodec import (
    encode_postings, segment_to_row)
from candidategeneration_spark.queryengine import (
    PreparedIndex, wand_topk_prepared)

ensure_on_executors(spark)


def probe(batches):
    # the package is not imported here: only what earlier tasks left
    # behind in this worker is observed
    qe = sys.modules.get("candidategeneration_spark.queryengine")
    for _ in batches:
        pass
    yield pd.DataFrame({
        "pid": [os.getpid()],
        "shim": [hasattr(zipimport.zipimporter.invalidate_caches,
                         "__wrapped__")],
        "hits": [-1 if qe is None else qe._BC_HITS]})


def run_probe():
    r = spark.range(1, numPartitions=1).mapInPandas(
        probe, "pid long, shim boolean, hits long").collect()[0]
    return r.asDict()


payload = []
for i, term in enumerate(["a", "b", "c"]):
    dids = np.arange(i, 300, 1 + i, dtype=np.int64)
    row = segment_to_row(encode_postings(dids, dids % 97, np.ones_like(dids)))
    row.pop("n_blocks")
    payload.append((term, row))
prep = PreparedIndex(spark, spark.sparkContext.broadcast(payload))


def batch(terms):
    q = spark.range(2, numPartitions=1).select(
        F.col("id").alias("qid"),
        F.array(*[F.lit(t) for t in terms]).alias("terms"))
    return len(wand_topk_prepared(prep, q, k=5).collect())


out = {"fresh": run_probe()}
out["rows1"] = batch(["a", "b"])
out["after_udf"] = run_probe()
out["rows2"] = batch(["b", "c"])
out["after_batch2"] = run_probe()
print("LOCAL1 " + json.dumps(out))
spark.stop()
"""


@pytest.fixture(scope="module")
def local1(tmp_path_factory):
    script = tmp_path_factory.mktemp("local1") / "driver.py"
    script.write_text(LOCAL1_DRIVER)
    env = dict(os.environ, PYTHONPATH=REPO)
    out = subprocess.run([sys.executable, str(script)], env=env,
                         cwd=str(script.parent), capture_output=True,
                         text=True, timeout=300)
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("LOCAL1 ")]
    assert lines, out.stderr[-3000:]
    return json.loads(lines[-1][len("LOCAL1 "):])


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython >= 3.13 invalidates zips lazily itself")
def test_next_task_after_package_udf_has_shim(local1):
    fresh, after = local1["fresh"], local1["after_udf"]
    assert after["pid"] == fresh["pid"]  # the one reused worker
    assert fresh["shim"] is False
    assert after["shim"] is True


def test_second_prepared_batch_hits_worker_memo(local1):
    assert local1["rows1"] > 0 and local1["rows2"] > 0
    assert local1["after_batch2"]["pid"] == local1["fresh"]["pid"]
    assert local1["after_udf"]["hits"] == 0  # batch 1 decoded the broadcast
    assert local1["after_batch2"]["hits"] == 1  # batch 2 reused it


DAEMON = "spark.python.daemon.module"
EXEC_PATH = "spark.executorEnv.PYTHONPATH"


def test_daemon_confs_local_masters_only():
    z = "/pkg/cg-pyfiles.zip"
    want = {DAEMON: "candidategeneration_spark._daemon", EXEC_PATH: z}
    for master in ("local", "local[1]", "local[*]", "local[4,2]"):
        assert config._daemon_confs(master, {}, z) == want, master
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443",
                   "local-cluster[2,1,1024]", "mesos://host:5050"):
        assert config._daemon_confs(master, {}, z) == {}, master


def test_daemon_confs_keep_user_settings():
    z = "/pkg/cg-pyfiles.zip"
    user = {DAEMON: "my.profiling_daemon", EXEC_PATH: "/a"}
    assert config._daemon_confs("local[2]", user, z) == {}
    merged = config._daemon_confs(
        "local[2]", {EXEC_PATH: os.pathsep.join(["/a", z, "", "/b"])}, z)
    assert merged[EXEC_PATH] == os.pathsep.join([z, "/a", "/b"])


GET_SPARK_DRIVER = """
import json, os, sys, zipimport
sys.path.insert(0, %(repo)r)
from candidategeneration_spark.config import get_spark

spark = get_spark("local[2]")
spark.sparkContext.setLogLevel("ERROR")
conf = spark.sparkContext.getConf()


def probe(it):
    # a PySpark RDD function only: nothing here imports the package
    yield {"shim": hasattr(zipimport.zipimporter.invalidate_caches,
                           "__wrapped__"),
           "n": sum(1 for _ in it)}


rdd = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe)
qdf = spark.createDataFrame([(1, ["a"]), (2, ["b", "c"])],
                            "qid long, terms array<string>")
print("GETSPARK " + json.dumps({
    "daemon": conf.get("spark.python.daemon.module"),
    "pythonpath": conf.get("spark.executorEnv.PYTHONPATH"),
    "tasks": rdd.collect(),
    "scan": sorted(r["qid"] for r in qdf.collect())}))
spark.stop()
"""


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython >= 3.13 invalidates zips lazily itself")
def test_get_spark_workers_all_have_shim(tmp_path):
    """The package is on the driver's sys.path only (not on PYTHONPATH,
    not in the cwd), so the daemon imports it from the zip put on the
    executor PYTHONPATH."""
    script = tmp_path / "driver.py"
    script.write_text(GET_SPARK_DRIVER % {"repo": REPO})
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, str(script)], env=env,
                         cwd=str(tmp_path), capture_output=True, text=True,
                         timeout=300)
    lines = [ln for ln in out.stdout.splitlines()
             if ln.startswith("GETSPARK ")]
    assert lines, out.stderr[-3000:]
    got = json.loads(lines[-1][len("GETSPARK "):])
    assert got["tasks"] == [{"shim": True, "n": 1}] * 4
    assert got["daemon"] == "candidategeneration_spark._daemon"
    assert got["pythonpath"].split(os.pathsep)[0].endswith("-pyfiles.zip")
    assert got["scan"] == [1, 2]
