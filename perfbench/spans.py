"""Spans around the program's public calls, for the traced run.

Each span tags its Spark jobs with ``setJobGroup(<span>#<n>)`` and times
the call from outside; the caller materializes the span's output inside
it, so every layer's work lands in its own span. Spans are kept in memory.
After the session stops, :meth:`Tracer.layer_metrics` joins them with the
per-task metrics of Spark's event log and the PySpark UDF profiler's
Python time.
"""

from __future__ import annotations

import glob
import os
import pstats
import shutil
import time
from contextlib import contextmanager

from metrics import group_tasks, median, read_event_log, span_measures

SPARK_SPANS = (
    "tokenizer.tokenize",
    "build.postings",
    "build.stats",
    "build.score",
    "build.pairs",
    "build.encode",
    "queryengine.prepared_batch",
    "queryengine.join_batch",
    "segmentstore.load",
)
SPARK_MEASURES = (
    ("wall_s", "s", "lower"),
    ("task_s", "s", "lower"),
    ("cpu_s", "s", "lower"),
    ("python_s", "s", "lower"),
    ("idle_core_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("tasks", "count", "lower"),
    ("task_skew", "ratio", "lower"),
)


class Tracer:
    def __init__(self, spark, work_dir: str, cores: int):
        self.spark = spark
        self.sc = spark.sparkContext
        self.cores = cores
        self.prof_dir = os.path.join(work_dir, "udf-profile")
        self.spans: list[dict] = []
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")

    @contextmanager
    def span(self, name: str):
        group = f"{name}#{len(self.spans)}"
        self.spark.profile.clear()
        self.sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append({"name": name, "group": group, "wall_s": wall,
                               "python_s": self._python_s()})

    def _python_s(self) -> float:
        """Seconds the profiled UDF bodies ran since the span began."""
        shutil.rmtree(self.prof_dir, ignore_errors=True)
        self.spark.profile.dump(self.prof_dir, type="perf")
        total = sum(pstats.Stats(p).total_tt
                    for p in glob.glob(os.path.join(self.prof_dir, "*")))
        self.spark.profile.clear()
        return total

    def span_wall(self, since: int = 0) -> float:
        return sum(s["wall_s"] for s in self.spans[since:])

    def layer_metrics(self, event_log_dir: str) -> dict[str, float]:
        """``<span>.<measure>`` → median over the span's occurrences, for
        every span in SPARK_SPANS (0 for spans this workload never ran).
        Call after the session stopped, so the event log is complete."""
        groups = group_tasks(read_event_log(event_log_dir))
        per_name: dict[str, list[dict]] = {}
        for s in self.spans:
            m = span_measures(groups.get(s["group"], {}), s["wall_s"],
                              self.cores)
            m["wall_s"] = s["wall_s"]
            m["python_s"] = s["python_s"]
            per_name.setdefault(s["name"], []).append(m)
        out = {}
        for name in SPARK_SPANS:
            occ = per_name.get(name, [])
            for measure, _, _ in SPARK_MEASURES:
                out[f"{name}.{measure}"] = median([m[measure] for m in occ])
        return out
