"""Term-bucketed persistent segment store.

The reference persists its index as one sorted binary file + a posting-list
directory (``ExternalSort.java:234-292``); queries then seek by term. Our
equivalent is a Parquet table of segment rows partitioned by
``bucket = pmod(xxhash64(term), n_buckets)``:

- a query's terms map to ≤ |q| buckets, computed on the driver
  (:func:`term_bucket`, the same XXH64 as Spark's): a load lists and
  reads only those bucket directories, never the whole index
  (SURVEY.md §7.5 "term-partitioned segment layout"). Its bucket and
  term filters are one SQL predicate string, so planning a load costs
  the same few py4j round trips for 2 terms as for 500;
- bucket count is chosen so one bucket ≈ one task's worth of data at the
  target scale (at 10^12 files: tens of thousands of buckets);
- writes are idempotent per bucket → natural unit for checkpoint/resume
  (checkpoints.py tracks bucket-level completion).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from ..build import SEGMENT_SCHEMA
from ..plans import sql_in

DEFAULT_BUCKETS = 64
# what Parquet schema inference finds in a store, given up front so a
# load runs no inference job
STORE_SCHEMA = StructType(SEGMENT_SCHEMA.fields
                          + [StructField("bucket", IntegerType())])


def bucket_of(term_col: F.Column, n_buckets: int) -> F.Column:
    return F.pmod(F.xxhash64(term_col), F.lit(n_buckets)).cast("int")


# the seed of Spark's ``xxhash64`` function, so of the store's buckets
_SEED = 42
_M64 = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
    0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes) -> int:
    """XXH64 of ``data`` with ``_SEED``, as a signed 64-bit int: Spark's
    ``xxhash64`` of a string is this over its UTF-8 bytes."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(_SEED + _P1 + _P2) & _M64, (_SEED + _P2) & _M64, _SEED,
             (_SEED - _P1) & _M64]
        while i <= n - 32:
            for j in range(4):
                v[j] = _round(v[j], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = _SEED + _P5
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h ^= data[i] * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def term_bucket(term: str, n_buckets: int) -> int:
    """:func:`bucket_of` of one term, computed on the driver (a JVM
    literal plan would need a Spark job to read back)."""
    return xxhash64(term.encode("utf-8")) % n_buckets


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


def _glob(path: str, buckets: list[int]) -> str:
    return f"{path}/bucket={{{','.join(map(str, buckets))}}}"


def _bucket_paths(path: str, buckets: list[int]) -> list[str]:
    """Read paths of ``buckets`` (sorted, distinct) under ``path``: the
    literal directory of one bucket, else two globs over disjoint halves.
    Spark probes a lone read path as a literal directory
    (``FileStreamSink.hasMetadata``) and logs a WARN stack when it is a
    glob; it skips that probe for two or more paths."""
    if len(buckets) == 1:
        return [f"{path}/bucket={buckets[0]}"]
    half = len(buckets) // 2
    return [_glob(path, buckets[:half]), _glob(path, buckets[half:])]


def load_segments_for_terms(spark: SparkSession, path: str,
                            terms: list[str],
                            n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """The store's rows of ``terms``. Only the directories of the terms'
    buckets are listed and read: ``basePath`` plus :func:`_bucket_paths`,
    so no Spark job runs before the caller's action while the terms span
    at most ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32) buckets, whatever ``n_buckets`` is. A bucket with no directory
    is skipped: when a read path matches none, the load retries with one
    glob over all the buckets, and when none has a directory, the whole
    store is read (and found to hold none of the terms); Spark may log a
    WARN stack on these retries. The bucket and term filters are one SQL
    predicate (``bucket IN (...) AND term IN (...)``): the bucket filter
    shows as PartitionFilters in ``.explain()``, the term filter is
    pushed to the parquet row groups."""
    terms = sorted(set(terms))
    reader = spark.read.schema(STORE_SCHEMA)
    if not terms:
        return reader.parquet().where("false")
    buckets = sorted({term_bucket(t, n_buckets) for t in terms})
    root = path.rstrip("/")
    attempts = [_bucket_paths(root, buckets)]
    if len(buckets) > 1:
        attempts.append([_glob(root, buckets)])
    reader = reader.option("basePath", path)
    for paths in attempts:
        try:
            df = reader.parquet(*paths)
            break
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
    else:
        df = load_segments(spark, path)
    return df.where(f"{sql_in('bucket', buckets)} AND {sql_in('term', terms)}")
