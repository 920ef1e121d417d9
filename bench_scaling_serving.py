#!/usr/bin/env python
"""Round-5 scaling rung: 8 -> 32 on the QUERY-SERVING path + host probe.

VERDICT r4 #5: the compute build rung 8->32 measured 0.376 against a
Spark-free host ceiling of 0.699 — the residual was pinned on the host,
not the engine, but only for the build kernel. This script adds the other
workload the north rule names (top-k query serving): ``wand_topk_prepared``
batches at local[8] vs local[32] — per-task kernel CPU over a broadcast
index, one tiny shuffle per batch, the shape where cores (not memory
bandwidth) dominate. Alongside, a plain-multiprocessing probe runs the
IDENTICAL serving kernel at 8 vs 32 processes with zero Spark: whatever that
probe loses 8->32 is the box's own ceiling (this VM advertises 32 cores,
1 thread/core — no SMT — but is a shared/overcommitted guest; see
BENCH/SCALING.json history), and the engine's rung is judged against it.

Each Spark config runs in its own subprocess (fresh JVM). Loadavg is
sampled before/after every rep and recorded — the standing methodology
for this bursty host (BENCH/BASELINE.md).

Usage: python bench_scaling_serving.py [n_docs]     (default 500000)
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
N_DOCS = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
CORPUS = os.environ.get("SPARK_GRAFT_SCALE_CORPUS",
                        f"/tmp/cg_scale_corpus_v3_{N_DOCS}")
N_QUERIES = 80_000
CORES_N, CORES_4N = 8, 32
N_REPS = 4


def _load():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def worker_serving(master: str, cores: int) -> None:
    sys.path.insert(0, REPO)
    from candidategeneration_spark.build import build_index
    from candidategeneration_spark.config import get_spark
    from candidategeneration_spark.queryengine import (
        prepare_index, wand_topk_prepared,
    )

    spark = get_spark(master=master, shuffle_partitions=max(8, cores * 2),
                      app_name=f"cg-serve-{cores}")
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(CORPUS).repartition(cores * 4).cache()
    docs.count()
    segments, _ = build_index(docs, text_col="content",
                              dbigram_distance=None)
    segments = segments.cache()
    segments.count()
    # same web-realistic term mix as bench_scaling.worker
    terms = [["ident0042", "ident0100"], ["ident2000", "ident0371"],
             ["def", "ident0042"], ["ident1234"],
             ["ident0007", "ident0311", "ident4999"],
             ["class", "ident0100", "ident0999"],
             ["ident0250", "ident0251"], ["return", "ident3000"]]
    qrows = [(i, terms[i % len(terms)]) for i in range(N_QUERIES)]
    # cache + materialize the query batch BEFORE timing: shipping 80k
    # driver-local rows to executors is a SERIAL driver cost that Amdahl's
    # law charges against the 32-core side only — a production trace
    # arrives from a source, not the driver (the reference likewise loads
    # its query trace once before its timed loop)
    qdf = spark.createDataFrame(qrows, "qid long, terms array<string>") \
        .repartition(cores * 2).cache()
    qdf.count()
    all_terms = sorted({t for ts in terms for t in ts})
    prep = prepare_index(segments, all_terms)
    wand_topk_prepared(prep, qdf, k=10).count()   # warm every worker
    reps, loads = [], []
    for _ in range(N_REPS):
        loads.append(_load())
        t0 = time.time()
        wand_topk_prepared(prep, qdf, k=10).count()
        reps.append(time.time() - t0)
    loads.append(_load())
    best = min(reps)
    print(json.dumps({
        "cores": cores, "query_s": round(best, 3),
        "reps": [round(r, 3) for r in reps],
        "loadavg_1min": loads,
        "queries_per_sec": round(N_QUERIES / best, 1),
    }), flush=True)
    spark.stop()


def _kernel_work(n: int) -> float:
    """One unit: top-k over a synthetic 1M-posting hot list + 1k rare list
    through topk_auto, the kernel serving dispatches on that shape — no
    Spark anywhere."""
    import numpy as np
    sys.path.insert(0, REPO)
    from candidategeneration_spark.indexcodec import encode_postings
    from candidategeneration_spark.queryengine import topk_auto
    rng = np.random.default_rng(7)

    def synth(m, universe):
        dids = np.sort(rng.choice(universe, m, replace=False)).astype(np.int64)
        return encode_postings(dids,
                               rng.integers(1, 1_000_000, m).astype(np.int64),
                               rng.integers(1, 50, m).astype(np.int64))

    segs = [synth(1_000, 4_000_000), synth(1_000_000, 4_000_000)]
    t0 = time.time()
    for _ in range(n):
        topk_auto(segs, 10)
    return time.time() - t0


def host_kernel_ceiling() -> dict:
    """8 vs 32 plain-multiprocessing ceiling for the serving kernel."""
    import multiprocessing as mp
    out = {}
    for procs in (CORES_N, CORES_4N):
        with mp.Pool(procs) as p:
            p.map(_kernel_work, [1] * procs)       # warm pools + imports
            t0 = time.time()
            p.map(_kernel_work, [6] * procs)
            el = time.time() - t0
        out[str(procs)] = {"units_per_sec": round(procs * 6 / el, 3),
                           "loadavg_after": _load()}
    eff = out[str(CORES_4N)]["units_per_sec"] / (
        4 * out[str(CORES_N)]["units_per_sec"])
    out["efficiency"] = round(eff, 3)
    return out


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[2] == "--worker":
        worker_serving(f"local[{sys.argv[3]}]", int(sys.argv[3]))
        return
    from bench_scaling import ensure_corpus
    ensure_corpus(N_DOCS, CORPUS)
    # ceiling probe FIRST: after the 32-core Spark side the 1-min loadavg
    # decays for minutes and would sit on the 8-proc denominator
    ceiling_pre = host_kernel_ceiling()
    results = {}
    for cores in (CORES_N, CORES_4N):
        out = subprocess.run(
            [sys.executable, __file__, str(N_DOCS), "--worker", str(cores)],
            capture_output=True, text=True, timeout=3600)
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("{")][-1]
        results[str(cores)] = json.loads(line)
    ceiling = ceiling_pre
    rn, r4n = results[str(CORES_N)], results[str(CORES_4N)]
    eff = round(r4n["queries_per_sec"] / (4 * rn["queries_per_sec"]), 3)
    rung = {
        "pair": f"local[{CORES_N}] -> local[{CORES_4N}]",
        "job": f"prepared-index serving, {N_QUERIES}-query batches, "
               f"min-of-{N_REPS} warm reps, fresh JVM per side",
        "qps_n": rn["queries_per_sec"],
        "qps_4n": r4n["queries_per_sec"],
        "efficiency": eff,
        "host_kernel_ceiling_8_32": ceiling,
        "efficiency_vs_host_ceiling": round(eff / ceiling["efficiency"], 3)
            if ceiling["efficiency"] else None,
        "cpu_topology": "32 vCPU, 1 thread/core (no SMT) — shared guest",
        "raw": results,
    }
    print(json.dumps(rung))
    path = os.path.join(REPO, "BENCH", "SCALING.json")
    with open(path) as f:
        full = json.load(f)
    prev = full.get("round5_rung_8_32_serving")
    if prev is not None:
        hist = prev.pop("previous_attempts", [])
        hist.append(prev)
        rung["previous_attempts"] = hist
    full["round5_rung_8_32_serving"] = rung
    with open(path, "w") as f:
        json.dump(full, f, indent=1)


if __name__ == "__main__":
    main()
