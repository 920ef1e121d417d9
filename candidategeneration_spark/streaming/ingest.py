"""Streaming index ingestion: continuous postings ingest + batch compaction.

The reference is strictly batch (4-phase offline build, ``WWWMain.java``).
This module adds the Spark-first incremental story — the Lucene-style
segment architecture expressed in Structured Streaming:

1. **Ingest** (:func:`stream_postings` → :func:`postings_sink`): a document
   stream (file source here; Kafka at scale) flows through the SAME Arrow
   tokenize+tf pass as the batch build (``build.build_postings``: the
   explode of ``build.tokenize_docs``) and appends raw postings
   ``(term, doc_id, tf, doc_len, maxtf)`` to a Parquet postings log. The
   streaming Parquet sink is exactly-once (its file manifest commits
   atomically per micro-batch), so task retries can't duplicate postings.
   No scoring happens here — scores depend on GLOBAL stats (df, n_docs,
   avgdl), which a micro-batch cannot know.
   A companion doc-id sidecar (:func:`docs_sink`) records every ingested
   document — including token-less ones, which the postings log cannot
   represent but which count toward n_docs/avgdl.

2. **Compact** (:func:`compact_index`): a batch job reads the postings log
   at any point, computes exact global stats over everything ingested so
   far, scores, and builds compressed block-max segments with the normal
   pipeline. Every compaction is EXACT — identical to a from-scratch batch
   build of the same documents (tested) — because scoring is deferred to
   the point where df/N are known. Between compactions, queries serve from
   the last compacted store: the standard freshness/exactness trade of
   log-structured search indexes (Lucene soft-commits, Elasticsearch
   refresh intervals), chosen over approximate per-batch scoring because
   BM25 idf drift would break the engine's rank-identity contract.

At 100 TB: the postings log is append-only (no shuffle on the hot path —
the only streaming-state-free shape), compaction cost is one normal build
over the log, and both sides reuse every batch kernel unchanged.

3. **Delete / update** (:func:`deletes_sink` → :func:`compact_index_with_
   deletes`, :func:`filter_deleted`): the Lucene posture — documents are
   never rewritten; tombstones accumulate in a tiny log, serving
   anti-filters against it, the next compaction drops dead docs from
   stats AND scores. UPDATES need no extra machinery: the corpus natural
   key (repo, path, commit — ``corpusio.with_doc_id``) gives every
   version its own doc_id by construction, so an update is "ingest the
   new commit's id + tombstone the old one" — exactly Lucene's
   delete-and-re-add with a fresh internal id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DOCS_SCHEMA = "doc_id long, text string"


def read_docs_stream(spark: SparkSession, path: str,
                     schema: str = DOCS_SCHEMA,
                     max_files: int = 4) -> DataFrame:
    """File-source document stream (Kafka stand-in; plans are
    source-agnostic)."""
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files)
            .parquet(path))


def stream_postings(docs_stream: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", stopwords=None) -> DataFrame:
    """Streaming postings: the batch Arrow kernel applied to a stream.

    ``mapInArrow`` is stateless per micro-batch, so the tokenize+tf pass
    runs identically under streaming — one code path for both modes.
    """
    from ..build import build_postings
    return build_postings(docs_stream, id_col=id_col, text_col=text_col,
                          stopwords=stopwords)


def docs_sink(docs_stream: DataFrame, doc_log_path: str, checkpoint: str,
              id_col: str = "doc_id", available_now: bool = True):
    """Append every ingested document's id to a doc log (exactly-once sink).

    Token-less documents emit NO postings, so the postings log alone
    under-counts n_docs — and the reference's global stats count EVERY doc
    (``InvertedIndex.java:171``), so avgdl/idf (hence all scores) would
    drift from a batch build of the same corpus. A second tiny stream over
    the same source records each doc_id; :func:`compact_index` counts
    distinct ids here. Only the id column leaves the source (pruned scan),
    and the parquet streaming sink keeps the same exactly-once manifest
    semantics as the postings log.
    """
    w = (docs_stream.selectExpr(f"cast({id_col} as long) as doc_id")
         .writeStream
         .format("parquet")
         .option("path", doc_log_path)
         .option("checkpointLocation", checkpoint)
         .outputMode("append"))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def postings_sink(postings_stream: DataFrame, log_path: str,
                  checkpoint: str, available_now: bool = True):
    """Append the postings stream to the Parquet log (exactly-once sink).

    Returns the StreamingQuery; callers ``awaitTermination`` it. With
    ``available_now`` the query drains everything currently in the source
    and stops — the test/backfill shape; omit for a continuous run.
    """
    w = (postings_stream.writeStream
         .format("parquet")
         .option("path", log_path)
         .option("checkpointLocation", checkpoint)
         .outputMode("append"))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def compact_index(spark: SparkSession, log_path: str,
                  doc_log_path: str | None = None) -> tuple[DataFrame, dict]:
    """Exact segments from everything ingested so far.

    Reads the postings log, derives global stats from it, scores, builds
    segments with the normal batch pipeline. Result is identical to a
    batch build of the same corpus (asserted in
    tests/test_streaming_ingest.py).

    ``doc_log_path``: the :func:`docs_sink` sidecar. n_docs = distinct ids
    there — exact even when the corpus contains token-less documents
    (which emit no postings but still count toward n_docs/avgdl, matching
    the batch build's count of its token table). Without a sidecar, n_docs
    falls back to distinct doc ids in the postings log, which is only
    exact for corpora with no empty documents.
    """
    from pyspark.sql import functions as F

    from ..build import (build_segments, global_stats_from_postings,
                         score_postings)
    postings = spark.read.parquet(log_path)
    if doc_log_path is not None:
        n_docs = spark.read.parquet(doc_log_path) \
            .select("doc_id").distinct().count()
    else:
        n_docs = postings.select("doc_id").distinct().count()
    stats = global_stats_from_postings(postings, n_docs)
    scored = score_postings(postings, stats["n_docs"], stats["avgdl"])
    return build_segments(scored), stats


def deletes_sink(delete_stream: DataFrame, deletes_path: str,
                 checkpoint: str, id_col: str = "doc_id",
                 available_now: bool = True):
    """Append deletion tombstones (doc_id) — the Lucene-style delete
    story: documents are never rewritten in place; a tiny tombstone log
    accumulates ids, queries anti-filter against it, and the next
    compaction drops the documents for good. Same exactly-once parquet
    sink semantics as the postings log."""
    w = (delete_stream.selectExpr(f"cast({id_col} as long) as doc_id")
         .writeStream
         .format("parquet")
         .option("path", deletes_path)
         .option("checkpointLocation", checkpoint)
         .outputMode("append"))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def compact_index_with_deletes(spark: SparkSession, log_path: str,
                               deletes_path: str,
                               doc_log_path: str | None = None
                               ) -> tuple[DataFrame, dict]:
    """Exact segments for (everything ingested) MINUS (tombstoned docs).

    The tombstones are applied BEFORE global stats: n_docs, avgdl, df and
    hence every BM25 score reflect only live documents — the result is
    byte-identical to a from-scratch batch build of the live corpus
    (asserted in tests), not merely a post-filtered stale index. The
    tombstone table is tiny → broadcast anti-joins; the postings log is
    read once."""
    from pyspark.sql import functions as F

    from ..build import (build_segments, global_stats_from_postings,
                         score_postings)
    dead = spark.read.parquet(deletes_path).select("doc_id").distinct()
    postings = spark.read.parquet(log_path).join(
        F.broadcast(dead), "doc_id", "left_anti")
    if doc_log_path is not None:
        n_docs = (spark.read.parquet(doc_log_path).select("doc_id")
                  .distinct()
                  .join(F.broadcast(dead), "doc_id", "left_anti").count())
    else:
        n_docs = postings.select("doc_id").distinct().count()
    stats = global_stats_from_postings(postings, n_docs)
    scored = score_postings(postings, stats["n_docs"], stats["avgdl"])
    return build_segments(scored), stats


def filter_deleted(results: DataFrame, spark: SparkSession,
                   deletes_path: str) -> DataFrame:
    """Serve-time tombstone filter for results produced against a store
    compacted BEFORE the deletes: anti-join top-k rows on the tombstone
    log. Exact suppression of deleted docs; ranks of survivors are
    preserved as-is (the freshness trade until the next compaction —
    identical posture to Lucene deleted-docs bitmaps)."""
    from pyspark.sql import functions as F
    dead = spark.read.parquet(deletes_path).select("doc_id").distinct()
    return results.join(F.broadcast(dead), "doc_id", "left_anti")
