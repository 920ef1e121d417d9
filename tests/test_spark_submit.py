"""spark-submit --py-files deployment contract (the north rule's named
run mode): the package must be fully usable from the zip alone — no repo
on PYTHONPATH, driver script in a scratch dir — through build + query,
in a ``get_spark()`` session that keeps spark-submit's ``--master``.
A package imported from a zip ships nothing more and writes no zip.

Uses the pyspark-bundled spark-submit so the test tracks the installed
Spark version; the driver script prints a rank-identity checksum that the
parent asserts.
"""

import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DRIVER = """
import sys

# the package must come from --py-files, not from a repo checkout
assert not any(p.rstrip("/").endswith("repo") for p in sys.path), sys.path
from candidategeneration_spark.build import build_index
from candidategeneration_spark.config import get_spark
from candidategeneration_spark.queryengine import wand_topk

spark = get_spark(shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
print("MASTER", spark.sparkContext.master)
docs = spark.createDataFrame(
    [(i, f"alpha beta w{i} w{i % 3} gamma") for i in range(30)],
    "doc_id long, text string")
segments, stats = build_index(docs, dbigram_distance=2)
queries = spark.createDataFrame(
    [(0, ["alpha", "w1"]), (1, ["absent"])], "qid long, terms array<string>")
rows = wand_topk(segments, queries, k=5).collect()
got = sorted((r["qid"], r["rank"], r["doc_id"]) for r in rows)
print("SUBMIT_OK", stats["n_docs"], len(got), got[0] if got else None)
spark.stop()
"""


def _spark_submit() -> str:
    import pyspark
    cand = os.path.join(os.path.dirname(pyspark.__file__),
                        "bin", "spark-submit")
    if os.path.exists(cand):
        return cand
    found = shutil.which("spark-submit")
    if found:
        return found
    pytest.skip("no spark-submit available")


def test_spark_submit_py_files_e2e(tmp_path):
    sys.path.insert(0, REPO)
    from candidategeneration_spark.config import package_zip
    zip_path = package_zip(str(tmp_path / "cg.zip"))
    script = tmp_path / "driver.py"
    script.write_text(DRIVER)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH",)}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    out = subprocess.run(
        [_spark_submit(), "--master", "local[2]",
         "--py-files", zip_path, str(script)],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path), env=env)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "MASTER local[2]" in out.stdout.splitlines(), out.stdout[-2000:]
    ok = [ln for ln in out.stdout.splitlines() if ln.startswith("SUBMIT_OK")]
    assert ok, out.stdout[-2000:] + out.stderr[-2000:]
    parts = ok[0].split(" ", 3)
    assert parts[1] == "30"          # n_docs through the zip-only build
    assert int(parts[2]) >= 5        # query returned ranked rows


def test_zip_install_ships_nothing_and_writes_no_zip(tmp_path, monkeypatch):
    """Imported from ``cg.zip`` (``--py-files``), the package has no
    source directory: ``package_zip`` refuses instead of writing an empty
    archive, and ``ensure_on_executors`` ships nothing, because the
    executors already have that archive."""
    sys.path.insert(0, REPO)
    from candidategeneration_spark import config
    zip_pkg = str(tmp_path / "cg.zip" / "candidategeneration_spark")
    monkeypatch.setattr(config, "_PKG_DIR", zip_pkg)
    out = str(tmp_path / "out.zip")
    with pytest.raises(RuntimeError, match="imported from an archive"):
        config.package_zip(out)
    with pytest.raises(RuntimeError, match="imported from an archive"):
        config.package_zip()
    assert not os.path.exists(out)

    class Context:
        applicationId = "app-zip-install"
        shipped = []

        def addPyFile(self, path):
            self.shipped.append(path)

    class Session:
        sparkContext = Context()

    config.ensure_on_executors(Session())
    assert Context.shipped == []
    assert "app-zip-install" not in config._ATTACHED


def test_get_spark_keeps_spark_defaults_master(tmp_path):
    """With no master and no running gateway, ``get_spark()`` takes
    ``spark.master`` from ``spark-defaults.conf`` in ``SPARK_CONF_DIR``
    instead of overriding it with ``local[SPARK_GRAFT_CPUS]``."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(
        "# comment\nspark.master   local[3]\n")
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR")}
    env.update(SPARK_CONF_DIR=str(conf), SPARK_GRAFT_CPUS="2",
               PYTHONPATH=REPO)
    script = ("from candidategeneration_spark.config import get_spark\n"
              "spark = get_spark()\n"
              "print('MASTER', spark.sparkContext.master)\n"
              "spark.stop()\n")
    out = subprocess.run([sys.executable, "-c", script], capture_output=True,
                         text=True, timeout=300, cwd=str(tmp_path), env=env)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "MASTER local[3]" in out.stdout.splitlines(), out.stdout[-2000:]
