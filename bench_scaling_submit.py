#!/usr/bin/env python
"""North-rule scaling rung, letter-perfect launch mode: the flagship
d-bigram build at N and 4N parallelism where each side is a REAL
``spark-submit --py-files <package.zip> driver.py`` invocation — the
deployment the rule names — instead of an in-process SparkSession.

Methodology is otherwise identical to ``bench_scaling.py``'s
``worker_dbigram`` (the recorded 2->8 = 0.848 rung): same 50k-doc
deterministic corpus (33.6M pair+unigram postings), docs cached +
counted, one untimed warm build, then min-of-3 timed builds with the
cache cleared and re-primed per rep (full pipeline re-runs, only the
source docs stay cached). The driver script runs from a scratch
directory with the repo scrubbed from PYTHONPATH, so the package
genuinely arrives via --py-files (same contract as
tests/test_spark_submit.py, at benchmark scale).

Usage: python bench_scaling_submit.py [n_docs]   (default 50000)
Writes nothing; prints one JSON line. Paste into BENCH/SCALING.json
under round5_rung_2_8_build_spark_submit after a successful run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
CORPUS = f"/tmp/cg_scale_corpus_v3_{N_DOCS}"
CORES_N = int(os.environ.get("SPARK_GRAFT_SCALE_N", "2"))
CORES_4N = 4 * CORES_N
N_REPS = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))

DRIVER = '''
import json, sys, time

# the package must come from --py-files, not a repo checkout
assert not any(p.rstrip("/").endswith("repo") for p in sys.path), sys.path
from pyspark.sql import SparkSession, functions as F

from candidategeneration_spark.build import build_index

corpus, cores, n_reps = sys.argv[1], int(sys.argv[2]), int(sys.argv[3])
spark = (SparkSession.builder
         .config("spark.sql.shuffle.partitions", str(max(8, cores * 2)))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(corpus).repartition(cores * 4).cache()
docs.count()
# the untimed warm build also counts the postings (Σdf)
warm, _ = build_index(docs, text_col="content", dbigram_distance=5)
n_postings = int(warm.agg(F.sum("df")).collect()[0][0])
reps = []
for _ in range(n_reps):
    spark.catalog.clearCache()
    docs = spark.read.parquet(corpus).repartition(cores * 4).cache()
    docs.count()
    t0 = time.time()
    seg_df, _ = build_index(docs, text_col="content", dbigram_distance=5)
    seg_df.write.format("noop").mode("overwrite").save()
    reps.append(time.time() - t0)
build_s = min(reps)
print(json.dumps({
    "cores": cores, "build_s": round(build_s, 3),
    "reps": [round(r, 3) for r in reps],
    "n_postings": n_postings,
    "build_postings_per_sec": round(n_postings / build_s, 1),
}), flush=True)
spark.stop()
'''


def spark_submit_path() -> str:
    import pyspark
    bundled = os.path.join(os.path.dirname(pyspark.__file__),
                           "bin", "spark-submit")
    if os.path.exists(bundled):
        return bundled
    found = shutil.which("spark-submit")
    if found:
        return found
    raise SystemExit("no spark-submit available")


def ensure_corpus() -> None:
    if os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        return
    code = (
        "import sys; sys.path.insert(0, %r)\n"
        "from candidategeneration_spark.config import get_spark\n"
        "from candidategeneration_spark.sources.corpus import generate_corpus\n"
        "spark = get_spark(master='local[32]', app_name='cg-scale-gen')\n"
        "spark.sparkContext.setLogLevel('ERROR')\n"
        "generate_corpus(spark, %d, seed=42, partitions=64)"
        ".write.mode('overwrite').parquet(%r)\n"
        "spark.stop()\n" % (REPO, N_DOCS, CORPUS))
    subprocess.run([sys.executable, "-c", code], check=True, timeout=3600)


def main() -> None:
    ensure_corpus()
    sys.path.insert(0, REPO)
    from candidategeneration_spark.config import package_zip
    scratch = tempfile.mkdtemp(prefix="cg_submit_scale_")
    zip_path = package_zip(os.path.join(scratch, "candidategeneration.zip"))
    script = os.path.join(scratch, "driver.py")
    with open(script, "w") as f:
        f.write(DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    results = {}
    for cores in (CORES_N, CORES_4N):
        load = open("/proc/loadavg").read().split()[:3]
        out = subprocess.run(
            [spark_submit_path(), "--master", f"local[{cores}]",
             "--py-files", zip_path, script,
             CORPUS, str(cores), str(N_REPS)],
            capture_output=True, text=True, timeout=3600,
            cwd=scratch, env=env)
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if not lines:
            sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
            raise SystemExit(f"worker local[{cores}] produced no JSON")
        results[cores] = json.loads(lines[-1])
        results[cores]["loadavg_start"] = " ".join(load)
    thr_n = results[CORES_N]["build_postings_per_sec"]
    thr_4n = results[CORES_4N]["build_postings_per_sec"]
    print(json.dumps({
        "pair": f"local[{CORES_N}] -> local[{CORES_4N}]",
        "job": ("flagship d-bigram build (distance=5), each side launched "
                "via spark-submit --py-files from a scratch dir (package "
                "from the zip alone); 1 warm + min-of-%d timed reps"
                % N_REPS),
        "n_docs": N_DOCS,
        "postings_per_sec_n": thr_n,
        "postings_per_sec_4n": thr_4n,
        "efficiency": round(thr_4n / (4 * thr_n), 3),
        "raw": results,
    }))


if __name__ == "__main__":
    main()
