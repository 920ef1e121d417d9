#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload build --seed 1 --seconds 6 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs the same loop again with every layer call in a span and
prints the per-layer metrics, the unattributed remainder and the tracing
overhead. Every line before the last is for people; the last line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. The full
result, with its metadata, is also written to
``.bench_build/perfbench/results/``. The command exits 1 if any output
is wrong. All files it writes stay under ``.bench_build/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import sys
import time

# the benchmark's own modules import no pyspark at module level, so they
# load before configure_env() sets Spark's environment
import inputs
import metrics
from spans import SPARK_MEASURES, SPARK_SPANS, Tracer
from workloads import OTHER_LAYERS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SETUP_REPEATS = 2
# the first request after the warm-up still pays JIT compilation; the
# median of three is a warm one
MIN_REQUESTS = 3
TRACED_MIN_REQUESTS = 2   # per loop: a traced run makes two loops
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("latency_p50_ms", "ms", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("peak_rss_mb", "MB", "lower"),
)
TRACE_LAYERS = (
    ("trace.unattributed_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
)


def per_layer_metrics():
    return ([(f"{s}.{m}", u, b) for s in SPARK_SPANS
             for m, u, b in SPARK_MEASURES]
            + list(OTHER_LAYERS) + list(TRACE_LAYERS))


def configure_env(work: str, trace: bool) -> str:
    """Keep every file Spark, the JVM and Python write under ``work``.
    Must run before pyspark is imported."""
    tmp, local, events = (os.path.join(work, d)
                          for d in ("tmp", "local", "events"))
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata: the JVM would write it to /tmp whatever tmpdir says
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + events,
                     "spark.eventLog.compress": "false"})
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()) \
        + " pyspark-shell"
    return events


def _identity(batches):
    yield from batches


def start_session():
    """Session plus one Python-worker job, so ``session_s`` covers the
    JVM and the worker pool every later job reuses."""
    sw = metrics.Stopwatch()
    from candidategeneration_spark.config import get_spark
    spark = get_spark(f"local[{CORES}]", app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(CORES, numPartitions=CORES) \
         .mapInPandas(_identity, "id long").count()
    return spark, sw.stop()


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and the Python workers, and wait for
    each process to end."""
    from pyspark import SparkContext
    pids = metrics.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.time() + 30
    while pids and time.time() < deadline:
        pids = [p for p in pids if _alive(p)]
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def git_sha() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    path = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    return None


def source_sha256() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "candidategeneration_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(d, name), "rb") as f:
                    h.update(os.path.relpath(os.path.join(d, name), pkg)
                             .encode() + f.read())
    return h.hexdigest()


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


class Ctx:
    def __init__(self, spark, seed, work):
        self.spark, self.seed, self.work = spark, seed, work
        self.tracer = None


def run_loop(wl, seconds, traced, first_index, min_requests):
    """Closed loop of one client: requests until ``seconds`` have passed
    and at least ``min_requests`` were made. → (a Stopwatch per request,
    CPU seconds of the process tree per request, items, unattributed wall
    per traced request)."""
    watches, cpus, unattributed, items = [], [], [], 0
    t_end = time.perf_counter() + seconds
    while len(watches) < min_requests or time.perf_counter() < t_end:
        since = len(wl.ctx.tracer.spans) if traced else 0
        c0 = metrics.tree_cpu_s(os.getpid())
        sw, n = wl.request(first_index + len(watches), traced)
        cpus.append(metrics.tree_cpu_s(os.getpid()) - c0)
        watches.append(sw)
        items += n
        if traced:
            unattributed.append(sw.wall - wl.ctx.tracer.span_wall(since))
    return watches, cpus, items, unattributed


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    traced = bool(args.trace)

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    events = configure_env(work, traced)
    sys.path.insert(0, ROOT)

    load_before = os.getloadavg()
    try:
        with metrics.TreeRss() as rss:
            spark, session = start_session()
            log(f"session: {session.wall:.2f}s")
            try:
                res = measure(WORKLOADS[args.workload], spark, args, work,
                              traced)
            finally:
                stop_session(spark)
                log("session stopped")
        res["e2e"]["peak_rss_mb"] = rss.peak_bytes / 1e6
        if traced:
            layers = res.pop("tracer").layer_metrics(events)
            res["layers"] = {**layers, **res["layers"]}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["e2e"]["setup_s"] += session.net(CORES)
    res["metadata"].update({
        "session_s": session.wall, "session_steal_s": session.steal,
        "nproc": CORES,
        "master": f"local[{CORES}]", "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(), "git_sha": git_sha(),
        "source_sha256": source_sha256()})
    return report(res, args, base)


def measure(cls, spark, args, work, traced) -> dict:
    median = metrics.median
    ctx = Ctx(spark, args.seed, work)
    wl = cls(ctx)
    setups, digests = [], []
    for k in range(SETUP_REPEATS):
        if k:
            wl.teardown()
        sw = metrics.Stopwatch()
        wl.setup()
        setups.append(sw.stop())
        log(f"set-up {k + 1}/{SETUP_REPEATS}: {sw.wall:.2f}s")
        if k in (0, SETUP_REPEATS - 1):   # same seed → same corpus bytes
            digests.append(inputs.digest(inputs.corpus_rows(wl.docs)))
    rows, queries = wl.prepare()
    log("inputs and oracle ready")

    extra_ops = wl.before_requests(traced)
    log("one-off work done")
    wl.request(-1, False)   # JIT, code generation and worker caches
    # a traced run splits its time between the untraced and the traced loop
    seconds, least = ((args.seconds / 2, TRACED_MIN_REQUESTS) if traced
                      else (args.seconds, MIN_REQUESTS))
    watches, cpus, items, _ = run_loop(wl, seconds, False, 0, least)
    log(f"{len(watches)} timed requests")
    # every timing below is net of the host's steal (metrics.Stopwatch)
    walls = [sw.net(CORES) for sw in watches]
    res = {"layers": {}}
    if traced:
        ctx.tracer = Tracer(spark, work, CORES)
        traced_watches, _, _, unattributed = run_loop(
            wl, seconds, True, len(watches), least)
        res["layers"] = {
            "trace.unattributed_s": median(unattributed),
            "trace.overhead_s": median([sw.net(CORES)
                                        for sw in traced_watches])
            - median(walls)}
        res["tracer"] = ctx.tracer
    wl.finish_layers()
    fails = wl.check()
    log("checks done")
    if digests[0] != digests[-1]:
        fails.append(["one seed gave two different corpora"])
    res["layers"].update(wl.layer)
    # every request, the extra operations and the corpus-determinism check
    res["attempted"] = len(wl.outputs) + extra_ops + 1
    res["failures"] = [f for f in fails if f]
    res["e2e"] = {
        "setup_s": median([sw.net(CORES) for sw in setups]),
        "latency_p50_ms": median(walls) * 1e3,
        "throughput_per_s": items / len(walls) / median(walls),
    }
    res["walls"] = walls
    res["requests"] = {"wall_s": [sw.wall for sw in watches],
                       "host_steal_s": [sw.steal for sw in watches],
                       "cpu_s": cpus}
    res["extra"] = wl.extra
    res["metadata"] = {
        "workload": cls.name, "seed": args.seed, "n_docs": cls.n_docs,
        "n_postings": wl.n_postings,
        "inputs_sha256": inputs.digest(rows, queries),
        "requests": len(walls), "setup_repeats": SETUP_REPEATS,
        "setup_wall_s": [sw.wall for sw in setups],
        "setup_host_steal_s": [sw.steal for sw in setups]}
    return res


def report(res, args, base) -> int:
    md, e2e = res["metadata"], res["e2e"]
    failed = len(res["failures"])
    attempted = res["attempted"]
    for f in res["failures"]:
        print("CHECK FAILED:", "; ".join(f[:5]), file=sys.stderr)
    # the end-to-end metrics under the names each workload applies to
    shown = [("setup_s", e2e["setup_s"], "s")]
    if md["workload"] == "build":
        shown += [("build_postings_per_s", e2e["throughput_per_s"],
                   "postings/s"),
                  ("build_request_ms", e2e["latency_p50_ms"], "ms")]
        shown += [(k, v, u) for k, (v, u) in res["extra"].items()]
    else:
        tail = metrics.tail_percentile(res["walls"])
        shown += [("qps", e2e["throughput_per_s"], "queries/s"),
                  ("latency_p50_ms", e2e["latency_p50_ms"], "ms/request")]
        shown.append(("latency_tail_ms",
                      None if tail is None else tail[1] * 1e3,
                      "ms/request" + ("" if tail is None else
                                      f" (p{tail[0]:.0f} of "
                                      f"{len(res['walls'])})")))
    raw = res["requests"]
    shown += [("error_rate", failed / attempted, "failed/attempted"),
              ("peak_rss_mb", e2e["peak_rss_mb"], "MB"),
              ("latency_p50_wall_ms", metrics.median(raw["wall_s"]) * 1e3,
               "ms/request, steal included"),
              ("host_steal_share", sum(raw["host_steal_s"])
               / (CORES * sum(raw["wall_s"])), "of vCPU time in requests")]
    print(f"# {md['workload']} seed={md['seed']} docs={md['n_docs']} "
          f"postings={md['n_postings']} requests={md['requests']} "
          f"load={md['loadavg_before'][0]:.2f}->{md['loadavg_after'][0]:.2f}")
    for name, value, unit in shown:
        txt = "n/a (fewer than 11 requests)" if value is None \
            else f"{value:.6g}"
        print(f"{name:24s} {txt} {unit}")

    if args.trace:
        units = {n: u for n, u, _ in per_layer_metrics()}
        metrics_out = {n: {"value": res["layers"].get(n, 0.0), "unit": u}
                       for n, u in units.items()}
        for n, m in metrics_out.items():
            print(f"  {n:48s} {m['value']:.6g} {m['unit']}")
    else:
        metrics_out = {n: {"value": e2e[n], "unit": u}
                       for n, u, _ in END_TO_END}
    results = os.path.join(base, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(
            results, f"{md['workload']}-s{md['seed']}-t{args.trace}.json"),
            "w") as f:
        json.dump({"metadata": md, "end_to_end": e2e,
                   "layers": res["layers"], "shown": shown,
                   "request_net_s": res["walls"],
                   "requests": res["requests"],
                   "failures": res["failures"]}, f, indent=1)
        f.write("\n")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics_out}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
