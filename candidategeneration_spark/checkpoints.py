"""Resumable, idempotent build phases with lineage + metrics manifests.

The reference makes every phase resumable by checking output existence
(``checkExistence`` ``WWW.java:367-369``, used at ``WWWMain.java:78-143``) —
a human re-runs main and completed phases are skipped. Spark gives lineage
recompute *within* a job but nothing across runs, so we add the thin layer
the north rule asks for: each phase writes Parquet + a JSON manifest with

- lineage: input paths/manifest hashes, phase parameters,
- per-partition metrics: one entry per output part-file (rows, bytes),
- throughput: rows/sec (the build reports postings/sec from this).

A phase whose manifest + ``_SUCCESS`` marker exist is skipped and its
output read back — kill the build anywhere, re-run, and only unfinished
phases execute (tested in tests/test_corpus_resume.py, byte-identical
results).

The phases themselves are ``build.build_index``'s: a ``Checkpointer``
passed as its ``checkpoint`` is the build's persistence policy.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


class Checkpointer:
    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    def _paths(self, name: str) -> tuple[str, str]:
        out = os.path.join(self.root, name)
        return out, out + ".manifest.json"

    def is_done(self, name: str) -> bool:
        out, manifest = self._paths(name)
        return (os.path.exists(manifest)
                and os.path.exists(os.path.join(out, "_SUCCESS")))

    def manifest(self, name: str) -> dict | None:
        _, m = self._paths(name)
        if not os.path.exists(m):
            return None
        with open(m) as f:
            return json.load(f)

    def phase(self, name: str, builder, inputs: list[str] | None = None,
              params: dict | None = None,
              partition_by: str | None = None) -> tuple[DataFrame, bool]:
        """Run (or skip) one phase. ``builder()`` → DataFrame.

        Returns (output DataFrame read from the checkpoint, skipped?).
        """
        out, manifest_path = self._paths(name)
        if self.is_done(name):
            stored = (self.manifest(name) or {}).get("params") or {}
            if params and stored != params:
                raise ValueError(
                    f"checkpoint {name!r} at {out} was built with params "
                    f"{stored}, but this run asks for {params}; refusing "
                    "to silently reuse it — delete the checkpoint or use "
                    "a different --resume-root")
            return self.spark.read.parquet(out), True
        t0 = time.time()
        df = builder()
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(out)
        wall = time.time() - t0
        result = self.spark.read.parquet(out)
        parts = self._partition_metrics(out)
        rows = sum(p["rows"] for p in parts)
        manifest = {
            "phase": name,
            "inputs": inputs or [],
            "params": params or {},
            "rows": rows,
            "wall_s": round(wall, 3),
            "rows_per_sec": round(rows / wall, 1) if wall > 0 else None,
            "n_partitions": len(parts),
            "partitions": parts,
            "app_id": self.spark.sparkContext.applicationId,
            "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ",
                                          time.gmtime()),
        }
        tmp = manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, manifest_path)  # atomic: manifest is the commit point
        return result, False

    @staticmethod
    def _partition_metrics(out_dir: str) -> list[dict]:
        """Per-part-file lineage from parquet footers (cheap metadata read)."""
        import pyarrow.parquet as pq
        parts = []
        for root, _dirs, files in os.walk(out_dir):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                full = os.path.join(root, fn)
                try:
                    rows = pq.ParquetFile(full).metadata.num_rows
                except Exception:
                    rows = -1
                parts.append({
                    "file": os.path.relpath(full, out_dir),
                    "rows": rows,
                    "bytes": os.path.getsize(full),
                })
        return parts


def build_index_resumable(docs: DataFrame, root: str,
                          id_col: str | None = None,
                          dbigram_distance: int | None = 5,
                          n_store_buckets: int = 64,
                          stopwords=None):
    """Checkpointed end-to-end build → (segments, stats, checkpointer).

    ``build.build_index`` with a :class:`Checkpointer` at ``root`` as its
    persistence policy (phases tokens, postings, stats, scored
    [, pairs]), plus a ``segments`` phase in the term-bucketed
    store layout (segmentstore.py). Re-running after a crash executes only
    missing phases; a crash during the giant pair phase resumes from the
    scored unigrams and the token checkpoint, without re-tokenizing.
    ``id_col`` defaults to ``doc_id`` if present, else the first column —
    same detection as the CLI build."""
    from pyspark.sql import functions as F
    from .build import build_index, release_build_caches
    from .sources.segmentstore import bucket_of

    cp = Checkpointer(root, docs.sparkSession)
    if id_col is None:
        id_col = "doc_id" if "doc_id" in docs.columns else docs.columns[0]
    text_col = "content" if "content" in docs.columns else "text"
    encoded, stats = build_index(
        docs, id_col, text_col, dbigram_distance, checkpoint=cp,
        stopwords=stopwords)
    release_build_caches(stats)  # nothing is pinned; drops the empty list
    segments, _ = cp.phase(
        "segments",
        lambda: encoded.withColumn("bucket",
                                   bucket_of(F.col("term"), n_store_buckets)),
        inputs=["scored", "pairs"] if dbigram_distance else ["scored"],
        params={"n_store_buckets": n_store_buckets},
        partition_by="bucket")
    return segments, stats, cp
