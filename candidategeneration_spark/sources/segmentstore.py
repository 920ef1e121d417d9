"""Term-bucketed persistent segment store.

The reference persists its index as one sorted binary file + a posting-list
directory (``ExternalSort.java:234-292``); queries then seek by term. Our
equivalent is a Parquet table of segment rows partitioned by
``bucket = pmod(xxhash64(term), n_buckets)``:

- a query's terms map to ≤ |q| buckets → Hive partition pruning means a
  query reads at most |q| directories, never the whole index
  (SURVEY.md §7.5 "term-partitioned segment layout");
- bucket count is chosen so one bucket ≈ one task's worth of data at the
  target scale (at 10^12 files: tens of thousands of buckets);
- writes are idempotent per bucket → natural unit for checkpoint/resume
  (checkpoints.py tracks bucket-level completion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

DEFAULT_BUCKETS = 64


def bucket_of(term_col: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


def save_segments(segments: DataFrame, path: str,
                  n_buckets: int = DEFAULT_BUCKETS,
                  mode: str = "overwrite") -> None:
    (segments
     .withColumn("bucket", bucket_of(F.col("term"), n_buckets))
     .repartition("bucket")
     .write.partitionBy("bucket").mode(mode).parquet(path))


def load_segments(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def load_segments_for_terms(spark: SparkSession, path: str,
                            terms: list[str],
                            n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Partition-pruned load: only the buckets of the given terms are read
    (check .explain(): PartitionFilters on `bucket`), then the exact term
    filter is pushed to the parquet row groups."""
    seg = spark.read.parquet(path)
    blist = sorted({r["b"] for r in
                    term_buckets(spark, terms, n_buckets).collect()})
    return seg.where(F.col("bucket").isin(blist)) \
              .where(F.col("term").isin(terms))


def term_buckets(spark: SparkSession, terms: list[str],
                 n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """One row ``b`` per term: its bucket, computed by a JVM-only literal
    plan. A ``createDataFrame(list)`` scan would start Python workers that
    never import this package, so each of their tasks pays PySpark's full
    per-task ``pyspark.zip`` re-read (see config.py)."""
    lits = F.array(*[F.lit(t) for t in terms]).cast("array<string>")
    return spark.range(1).select(F.explode(lits).alias("term")) \
                .select(bucket_of(F.col("term"), n_buckets).alias("b"))
