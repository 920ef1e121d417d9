"""Metric arithmetic of the benchmark, free of Spark so it can be unit-tested.

- ``tail_percentile``: the highest percentile with at least ten samples
  beyond it (the tail-latency rule).
- ``read_event_log`` / ``group_tasks`` / ``span_measures``: per-span Spark
  task metrics from the offline event log (``spark.eventLog.enabled``),
  attributed through the job group each span sets.
- ``check_comparable``: refuse to compare results whose corpus, seed or
  core count differ.
- ``Stopwatch``: wall time of a region, and that time less the host's
  steal (the vCPU time the hypervisor gave to other machines).
- ``TreeRss``: peak resident memory of a process and all its descendants
  (driver, JVM, Python workers).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, beyond: int = TAIL_BEYOND):
    """(percentile, value) of the highest rank that leaves at least
    ``beyond`` samples above it, or None when there are too few samples.

    With n sorted samples the value at 1-based rank k = n - beyond has
    exactly ``beyond`` samples after it; it is the 100·k/n percentile."""
    n = len(samples)
    if n <= beyond:
        return None
    xs = sorted(samples)
    k = n - beyond
    return 100.0 * k / n, xs[k - 1]


# --------------------------------------------------------------------------
# Spark event log → per-span task metrics
# --------------------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """All events of every application log under ``log_dir``. Handles both
    single-file logs and Spark 4's rolling ``eventlog_v2_*`` directories."""
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry):
            files += sorted(glob.glob(os.path.join(entry, "events_*")),
                            key=lambda p: int(os.path.basename(p)
                                              .split("_")[1]))
        elif not entry.endswith(".crc"):
            files.append(entry)
    events = []
    for path in files:
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def group_tasks(events) -> dict[str, dict[int, list[dict]]]:
    """job group → stage id → finished tasks (run ms, cpu ns, bytes).

    A stage belongs to the group of the job that submitted it; stages
    shared between jobs keep the first job's group."""
    stage_group: dict[int, str] = {}
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics")
            if not m:
                continue
            tasks.setdefault(e["Stage ID"], []).append({
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "shuffle_write_b": (m.get("Shuffle Write Metrics") or {})
                .get("Shuffle Bytes Written", 0),
                "spill_b": m.get("Disk Bytes Spilled", 0)
                + m.get("Memory Bytes Spilled", 0),
            })
    out: dict[str, dict[int, list[dict]]] = {}
    for sid, ts in tasks.items():
        group = stage_group.get(sid)
        if group is not None:
            out.setdefault(group, {})[sid] = ts
    return out


def span_measures(stages: dict[int, list[dict]], wall_s: float,
                  cores: int) -> dict[str, float]:
    """Spark measures of one span occurrence from its stages' tasks.

    ``idle_core_s`` = cores × wall − Σ task run time: core time the span
    held but no task used (driver work, scheduling gaps, stragglers).
    ``task_skew`` = max over the span's stages of max/median task run
    time (1.0 when no stage has tasks)."""
    all_tasks = [t for ts in stages.values() for t in ts]
    task_s = sum(t["run_ms"] for t in all_tasks) / 1e3
    skew = 1.0
    for ts in stages.values():
        runs = [t["run_ms"] for t in ts]
        if runs:
            skew = max(skew, max(runs) / max(statistics.median(runs), 1.0))
    return {
        "task_s": task_s,
        "cpu_s": sum(t["cpu_ns"] for t in all_tasks) / 1e9,
        "idle_core_s": cores * wall_s - task_s,
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in all_tasks) / 1e6,
        "spill_mb": sum(t["spill_b"] for t in all_tasks) / 1e6,
        "tasks": float(len(all_tasks)),
        "task_skew": skew,
    }


# --------------------------------------------------------------------------
# Result metadata
# --------------------------------------------------------------------------

# A result is only comparable to another measured on the same inputs and
# the same cores; the source revision and load are recorded, not matched.
COMPARABLE_KEYS = ("workload", "seed", "n_docs", "n_postings",
                   "inputs_sha256", "nproc", "master")


class MetadataMismatch(ValueError):
    pass


def check_comparable(a: dict, b: dict) -> None:
    """Raise MetadataMismatch naming every key on which two results'
    metadata differ (or is missing)."""
    bad = [k for k in COMPARABLE_KEYS
           if k not in a or k not in b or a[k] != b[k]]
    if bad:
        detail = ", ".join(f"{k}: {a.get(k)!r} vs {b.get(k)!r}" for k in bad)
        raise MetadataMismatch(f"results are not comparable ({detail})")


# --------------------------------------------------------------------------
# Process-tree resident memory
# --------------------------------------------------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, rss pages) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may contain spaces/parens: fields resume after the last ')'
        fields = stat[stat.rfind(")") + 2:].split()
        table[int(name)] = (int(fields[1]), int(fields[21]))
    return table


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` and every live descendant."""
    pids = [root] + descendants(root)
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """vCPU seconds the hypervisor has taken from this machine so far,
    summed over its CPUs (0 where the kernel does not count it)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return (int(fields[8]) if len(fields) > 8 else 0) \
        / os.sysconf("SC_CLK_TCK")


class Stopwatch:
    """Wall seconds of a timed region and the vCPU seconds the hypervisor
    took from this machine meanwhile (steal).

    On a shared host the steal of one region can be a third of its vCPU
    time and changes from minute to minute. ``net`` removes it: ``steal``
    vCPU seconds taken from ``cores`` busy vCPUs delay the region by
    ``steal / cores``, the time-average number of vCPUs the host held."""

    def __init__(self):
        self.t0, self.s0 = time.perf_counter(), host_steal_s()
        self.wall = self.steal = 0.0

    def stop(self) -> "Stopwatch":
        self.wall = time.perf_counter() - self.t0
        self.steal = host_steal_s() - self.s0
        return self

    def net(self, cores: int) -> float:
        return net_wall(self.wall, self.steal, cores)


def net_wall(wall_s: float, steal_s: float, cores: int) -> float:
    return wall_s - steal_s / cores


def descendants(root: int, table=None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        for c in children.get(pid, []):
            out.append(c)
            todo.append(c)
    return out


def tree_rss_bytes(root: int) -> int:
    table = _proc_table()
    pids = [root] + descendants(root, table)
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(table[p][1] for p in pids if p in table) * page


class TreeRss:
    """Background sampler of the peak RSS of this process's tree."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(os.getpid()))
