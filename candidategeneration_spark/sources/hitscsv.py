"""Gzip CSV source + HITS aggregation (SURVEY.md §2.1 S6, §2.4 A6).

The reference streams a gzip CSV of per-document hit counts and folds them
into a DCG-style score (``utilsClass.java:195-235`` ``aggregateHITS``). In
Spark the streamed gzip reader is just the csv source (codec inferred from
the ``.gz`` extension; note gzip is NOT splittable — at 100 TB ship many
moderate files or re-encode to bzip2/parquet so the scan parallelizes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

HITS_SCALE = 1_000_000
HITS_MAX_RANK = 64


def hits_weights(max_rank: int = HITS_MAX_RANK) -> list[tuple[int, int]]:
    """Exact-int DCG weights [(pos, weight)]: weight = trunc(1e6/(log2(i)+1)).

    Computed ONCE in Python and embedded in both the Spark plan and the
    DuckDB oracle (no runtime log on either side — same trick as
    quality.geometric_ranges). Ranks past HITS_MAX_RANK contribute 0 — the
    reference similarly buckets deep ranks coarsely (Selection.java:46-55).
    """
    import math
    return [(i, int(HITS_SCALE / (math.log2(i) + 1.0)))
            for i in range(1, max_rank + 1)]


def hits_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCG-style HITS aggregation + global rank (SURVEY.md §2.4 A6 / §2.7 M3,
    ``utilsClass.java:195-235`` ``aggregateHITS`` + ``getHitScore2:251-263``).

    Per user: events impact-ordered (value desc, event_id asc); the i-th
    event contributes trunc(value * w_i) with w_i the DCG weight; integer
    sum → associative → oracle-exact. Then a global rank over the (small)
    per-user aggregate. The global window is a single-partition sort of the
    AGGREGATED table only (one row per user — at 100 TB of events this is
    still ~millions of rows, the standard final-ranking shape; events
    themselves never see a global sort)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    ranked = (ev.select("user_id", "event_id", "value")
                .withColumn("pos", F.row_number().over(w))
                .where(F.col("pos") <= HITS_MAX_RANK))
    wdf = spark.createDataFrame(hits_weights(), "pos int, weight long")
    contrib = (ranked.join(F.broadcast(wdf), "pos")
               .withColumn("c", (F.col("value") * F.col("weight"))
                           .cast("long")))
    scores = contrib.groupBy("user_id").agg(F.sum("c").alias("hit_score"))
    wr = Window.orderBy(F.desc("hit_score"), F.asc("user_id"))
    return (scores.withColumn("hit_rank",
                              F.row_number().over(wr).cast("long"))
            .select(F.col("user_id").cast("long").alias("user_id"),
                    "hit_score", "hit_rank"))


HITS_SCHEMA = "doc_id LONG, hits LONG"


def read_hits_csv(spark: SparkSession, path: str) -> DataFrame:
    """(doc_id, hits) rows from (possibly gzipped) CSV files.

    Explicit schema — no inference pass over the (non-splittable) gzip.
    """
    return spark.read.schema(HITS_SCHEMA).csv(path)


def aggregate_hits(rows: DataFrame) -> DataFrame:
    """(doc_id, hit_score): i-th largest count of a doc weighs
    trunc(hits·w_i), w_i the shared exact-int DCG weight table — the same
    arithmetic contract as hits_rank, so results are associative
    int sums (oracle-exact)."""
    spark = rows.sparkSession
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), F.asc("doc_id"))
    ranked = (rows.withColumn("pos", F.row_number().over(w))
              .where(F.col("pos") <= HITS_MAX_RANK))
    wdf = spark.createDataFrame(hits_weights(), "pos int, weight long")
    return (ranked.join(F.broadcast(wdf), "pos")
            .withColumn("c", (F.col("hits") * F.col("weight")).cast("long"))
            .groupBy("doc_id").agg(F.sum("c").alias("hit_score")))
