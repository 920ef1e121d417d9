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
from pyspark.sql.types import IntegerType, StructField, StructType

from ..build import SEGMENT_SCHEMA

DEFAULT_BUCKETS = 64
# what Parquet schema inference finds in a store, given up front so a
# load runs no inference job
STORE_SCHEMA = StructType(SEGMENT_SCHEMA.fields
                          + [StructField("bucket", IntegerType())])


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
    """The whole store, read with ``STORE_SCHEMA``, so no schema-inference
    job runs. Up to ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32) bucket directories, no Spark job runs before the caller's action;
    above it Spark lists the directories with one. An empty store
    directory gives no rows (schema inference would raise)."""
    return spark.read.schema(STORE_SCHEMA).parquet(path)


def load_segments_for_terms(spark: SparkSession, path: str,
                            terms: list[str],
                            n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Partition-pruned load: only the buckets of the given terms are read
    (check .explain(): PartitionFilters on `bucket`), then the exact term
    filter is pushed to the parquet row groups. Each term's bucket is a
    literal expression the optimizer folds to a constant, so this adds
    no job to :func:`load_segments`'s."""
    buckets = [bucket_of(F.lit(t), n_buckets) for t in terms]
    return load_segments(spark, path) \
        .where(F.col("bucket").isin(*buckets)) \
        .where(F.col("term").isin(terms))


def term_buckets(spark: SparkSession, terms: list[str],
                 n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """One row ``b`` per term: its bucket, computed by a JVM-only literal
    plan, which runs no Python stage (a ``createDataFrame(list)`` scan
    would run one). The same buckets as the literals
    :func:`load_segments_for_terms` folds into its partition filter."""
    lits = F.array(*[F.lit(t) for t in terms]).cast("array<string>")
    return spark.range(1).select(F.explode(lits).alias("term")) \
                .select(bucket_of(F.col("term"), n_buckets).alias("b"))
