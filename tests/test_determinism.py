"""Partitioning-independence: the value-hash gate depends on every
operator producing BIT-IDENTICAL results regardless of how the input is
partitioned or ordered. These tests run representative round-3 operators
on adversarial repartitionings of the same input and assert row-set
equality (the driver's sort-then-hash makes row order irrelevant, so
set equality == hash equality)."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from candidategeneration_spark import annops, textops  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _variants(df):
    """The same frame under three adversarial layouts: as-read, one
    partition, and a 7-way hash scatter in descending-id order."""
    yield df
    yield df.coalesce(1)
    yield df.repartition(7).sortWithinPartitions(F.desc(df.columns[0]))


def test_ann_family_partitioning_independent(spark):
    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    for fn in (annops.ivf_cells, annops.pq_codes,
               lambda d: annops.ivfpq_topk(d, n_probes=3, topk=5)):
        results = [_rows(fn(v)) for v in _variants(emb)]
        assert results[0] == results[1] == results[2]


def test_text_family_partitioning_independent(spark):
    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet") \
        .select("doc_id", "text")
    for fn in (textops.gopher_rules, textops.dedup_clusters):
        results = [_rows(fn(v)) for v in _variants(docs)]
        assert results[0] == results[1] == results[2]
