"""Relational operator demos over the TPC-H-ish tables.

Exercises the scan/filter/join/aggregate/window/sort surface (SURVEY.md §2
S*/J*/A*/O* families) with Catalyst-native plans: broadcast joins for dims,
partial aggregation, window top-N. Money/quantity sums are quantized to
integer cents BEFORE aggregation so results are associative and match the
DuckDB oracles exactly (double sums are order-dependent)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan + filter + hash agg with map-side combine."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 100).cast("long")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-01"))
              .groupBy("l_returnflag", "l_linestatus")
              .agg(F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
                    .alias("sum_qty_c"),
                   F.sum(F.round(F.col("l_extendedprice") * 100)
                         .cast("long")).alias("sum_price_c"),
                   F.sum(cents).alias("sum_disc_price_c"),
                   F.count("*").cast("long").alias("count_order")))


def top_orders(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (dim broadcast) + agg + exact top-k."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    * 100).cast("long")
    j = (li.join(orders, li.l_orderkey == orders.o_orderkey)
           .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey))
    agg = (j.groupBy("o_orderkey", "o_orderdate")
             .agg(F.sum(rev_c).alias("revenue_c")))
    return (agg.orderBy(F.desc("revenue_c"), F.asc("o_orderkey")).limit(k)
               .select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                       F.date_format("o_orderdate", "yyyy-MM-dd")
                        .alias("o_orderdate"), "revenue_c"))


def window_topn_events(spark: SparkSession, sf_dir: str,
                       n: int = 3) -> DataFrame:
    """Per-user top-N events by value (window + rank filter — Catalyst
    rewrites to a partial top-k before the shuffle)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("value"), F.asc("event_id"))
    return (ev.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= n)
              .select(F.col("user_id").cast("long").alias("user_id"),
                      F.col("event_id").cast("long").alias("event_id"),
                      F.col("rn").cast("long").alias("rn")))


def sessionize_events(spark: SparkSession, sf_dir: str,
                      gap_minutes: int = 30) -> DataFrame:
    """(user_id, n_sessions, n_events): session = run of events with
    < gap_minutes between consecutive ones. Batch analogue of the streaming
    sessionizer (streaming/events.py); lag + cumulative-sum pattern."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet ts is TIMESTAMP_NTZ: not directly castable to long in Spark 4;
    # epoch absolute value may shift by session tz vs DuckDB, but only gaps
    # matter and those are tz-invariant
    sec = F.col("ts").cast("timestamp").cast("long")
    gap = sec - F.lag(sec).over(w)
    marked = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0))
    return (marked.groupBy("user_id")
            .agg(F.sum("new_sess").cast("long").alias("n_sessions"),
                 F.count("*").cast("long").alias("n_events"))
            .select(F.col("user_id").cast("long").alias("user_id"),
                    "n_sessions", "n_events"))


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, day, n, sum_value_q, lvl): ROLLUP aggregation over
    events — per (type, day), per type subtotal, grand total, with the
    grouping level exposed. OLAP hypertable-rollup shape: one shuffle,
    Catalyst expands the grouping sets map-side (partial aggregation per
    set), so the three levels cost one pass. ``value`` is quantized
    per-row BEFORE summation (int64 sums are associative → identical
    under any execution order; a double sum would be order-dependent
    and oracle-unstable)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.round(F.col("value") * 1000).cast("long").alias("vq"))
    return (ev.rollup("event_type", "day")
            .agg(F.count("*").alias("n"),
                 F.sum("vq").alias("sum_value_q"),
                 F.grouping_id().alias("lvl"))
            .select(F.coalesce("event_type", F.lit("ALL"))
                     .alias("event_type"),
                    F.coalesce("day", F.lit("ALL")).alias("day"),
                    F.col("n").cast("long").alias("n"),
                    F.col("sum_value_q").cast("long").alias("sum_value_q"),
                    F.col("lvl").cast("long").alias("lvl")))


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, n, p50_q, p90_q, p99_q): EXACT percentiles of the
    quantized event value per type — rank-based (k = floor((n-1)·p), the
    lower nearest-rank convention), not sampled and not interpolated, so
    the result is integer-deterministic. One shuffle to rank within each
    type + one tiny pivot; the reference's sampled-quantile threshold
    (O7) is the approximate cousin of this exact form."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value") * 1000).cast("long")
        .alias("vq"))
    w = Window.partitionBy("event_type").orderBy(F.asc("vq"))
    ranked = ev.withColumn("rn", F.row_number().over(w))
    counts = ev.groupBy("event_type").agg(F.count("*").alias("n"))
    j = ranked.join(counts, "event_type")
    out = None
    for p, name in ((50, "p50_q"), (90, "p90_q"), (99, "p99_q")):
        sel = (j.where(F.col("rn") ==
                       F.floor((F.col("n") - 1) * p / 100) + 1)
               .select("event_type", F.col("vq").alias(name)))
        out = sel if out is None else out.join(sel, "event_type")
    return (counts.join(out, "event_type")
            .select("event_type", F.col("n").cast("long").alias("n"),
                    F.col("p50_q").cast("long").alias("p50_q"),
                    F.col("p90_q").cast("long").alias("p90_q"),
                    F.col("p99_q").cast("long").alias("p99_q")))


def events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, dow, n, sum_value_q, lvl): CUBE aggregation — all four
    grouping sets of (event_type, day-of-week) in one shuffle (ROLLUP's
    superset: the (,dow)-only marginal exists here and not there). Same
    exactness posture as events_rollup: per-row quantization before the
    int64 sums."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.dayofweek("ts").cast("long").alias("dow"),
        F.round(F.col("value") * 1000).cast("long").alias("vq"))
    return (ev.cube("event_type", "dow")
            .agg(F.count("*").alias("n"),
                 F.sum("vq").alias("sum_value_q"),
                 F.grouping_id().alias("lvl"))
            .select(F.coalesce("event_type", F.lit("ALL"))
                     .alias("event_type"),
                    F.coalesce(F.col("dow"), F.lit(-1)).cast("long")
                     .alias("dow"),
                    F.col("n").cast("long").alias("n"),
                    F.col("sum_value_q").cast("long").alias("sum_value_q"),
                    F.col("lvl").cast("long").alias("lvl")))
