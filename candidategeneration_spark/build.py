"""Index build pipeline: corpus → postings → stats → compressed segments.

Spark-first re-expression of the reference's 4-phase offline builder
(``WWWMain.java:50-199``): its per-thread buffers, sorted dump files and
k-way external merge (``InvertedIndex.java:264-498``, ``ExternalSort.java``)
are replaced wholesale by one shuffle — ``repartition(term)`` +
``sortWithinPartitions(term, doc_id)`` — whose sort-based exchange does the
external merge with spill for free.

Lifecycle of the d-bigram build (SURVEY.md §3.1):

    read corpus → mapInArrow(tokenize + per-doc tf)        [one Python pass]
      (the token table, the in-memory build's one cached table)
    → explode(arrays_zip(terms, tfs)) → unigram postings   [JVM]
    → per-term df (shuffle on term) + idf                  [pandas UDF]
    → broadcast-join df/idf onto the postings              [JVM]
    → quantized BM25 per posting (JVM column math)
    → ∪ one (doc_id, toks) row per doc from the token table
    → repartition(doc_id) + sort(doc_id, term)
    → doc-local pair scoring per whole doc, the doc's      [mapInArrow]
      unigram rows passed through
    → repartition(term) + sort(term, doc_id)
    → mapInArrow(columnar delta+VByte, block-max)           [Arrow in/out]
    → segments DataFrame / Parquet

The unigram-only build starts from the same token table and explode, and
fuses df + BM25 into the encoder (:func:`build_segments_fast`).

:func:`build_index` is the one pipeline for every build mode: the
persistence policy (in-memory ``persist()``, or a
:class:`~candidategeneration_spark.checkpoints.Checkpointer` that writes
each phase and skips finished ones) is its parameter.

Skew: every segment row is encoded by the one streaming encoder
(:func:`_encode_stream`), so one task encodes a term's whole list — a
hot d-bigram (``def __init__`` at 10^12-file scale) owns its task. The
encode shuffle spreads terms over up to 4×cores partitions. The
reference has no skew handling either (fixed 4 shards,
``InvertedIndex.java:74-84``); bounding one hot list's task would need a
term split across several segment rows, a store-format change.
"""

from __future__ import annotations

import hashlib
import itertools
from typing import TYPE_CHECKING, Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType, BinaryType, IntegerType, LongType, StringType, StructField,
    StructType,
)

from . import indexcodec, plans
from .bm25 import avgdl_floor, bm25_quantized_col, idf_col
from .tokenizer import DBIGRAM_DISTANCE, tokenize_pandas, tokens_col

if TYPE_CHECKING:
    from .checkpoints import Checkpointer

PAIR_SEP = "\x1f"  # string analogue of the reference's a<<32|b long packing
                   # (``WWW.java:432-440``) for our string-keyed terms

# Stage-sizing targets (round 4: the unigram fast path had drifted 52k→39k
# postings/s across three rounds; profiling showed the cost was pure Spark
# orchestration, not kernel CPU — a single-file corpus tokenized on ONE
# task, and the encode shuffle fixed at 4×cores partitions regardless of
# volume, paying ~15 ms of Python UDF overhead per mostly-EMPTY task at
# small scale). Both knobs size stages by measured kernel throughput and
# are inert at 100 TB (the encode partition count is capped at 4×cores as
# before):
# - tokenize: ⌈n_docs / DOCS_PER_TOKENIZE_TASK⌉ tasks. An input with
#   fewer partitions is repartitioned up (capped at cores); one with more
#   is coalesced down (narrow, no shuffle), because each Python task costs
#   a fixed ~60 ms of task time whatever its data. The down target is
#   uncapped, so an input whose data warrants more tasks keeps its splits.
# - score (the per-term df aggregate + idf UDF): its reduce stage would
#   run at spark.sql.shuffle.partitions — AQE does not coalesce the final
#   stage of a cached plan — so :func:`score_postings` coalesces it to
#   ⌈n_postings / HINTED_POSTINGS_PER_ENCODE_TASK⌉ tasks (a df-count row
#   is lighter than an encode row), only when that is below the shuffle
#   partition count and the term table may broadcast: a coalesce drops
#   the hash partitioning that a sort-merge join would reuse, and at
#   scale the join would then shuffle the term table again.
DOCS_PER_TOKENIZE_TASK = 512       # ~30 ms of Arrow tokenize+tf per task
POSTINGS_PER_ENCODE_TASK = 16_384  # ~35 ms of vectorized encode per task
# Pair-pass kernel parallelism (round 5): the doc_id exchange that feeds
# _pair_rows_scored is a SMALL shuffle at bench scale, so AQE would
# coalesce it to ONE partition — the entire pair kernel (the single most
# expensive CPU stage of the build, ~6 µs/token) then runs on one task.
# The kernel width (token volume / this target, ~50 ms of kernel per
# task, capped at 4×cores) is that exchange's explicit partition count
# (_pair_pass: an explicit-count repartition, which AQE leaves alone) —
# no extra shuffle at any scale.
TOKENS_PER_PAIR_TASK = 8_192
# build_segments sizes from an UPPER BOUND (distance × total tokens,
# ~1.5-2× the deduped pair count) and pair rows are ~2× heavier than
# unigram rows, so its divisor is 4× the exact-count target; measured
# sweep at sf0.1 (830k pair rows): 87 parts 2.75 s → 44 ≈1.8 s →
# 32 1.41 s → 16 1.31 s, with 4×cores still the skew-safety cap.
HINTED_POSTINGS_PER_ENCODE_TASK = 65_536

POSTINGS_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("doc_id", LongType()),
    StructField("tf", LongType()),
    StructField("doc_len", LongType()),
    StructField("maxtf", LongType()),
])

SEGMENT_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("df", LongType()),
    StructField("n_blocks", IntegerType()),
    StructField("did_blob", BinaryType()),
    StructField("score_blob", BinaryType()),
    StructField("tf_blob", BinaryType()),
    StructField("block_last", ArrayType(LongType())),
    StructField("block_max", ArrayType(LongType())),
    StructField("block_n", ArrayType(LongType())),
    StructField("did_off", ArrayType(LongType())),
    StructField("score_off", ArrayType(LongType())),
    StructField("tf_off", ArrayType(LongType())),
])

TOKENS_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("toks", ArrayType(StringType())),
    StructField("terms", ArrayType(StringType())),
    StructField("tfs", ArrayType(LongType())),
    StructField("doc_len", LongType()),
    StructField("maxtf", LongType()),
])


# --------------------------------------------------------------------------
# Phase 1 — tokenize + per-doc tf in one Arrow pass
# --------------------------------------------------------------------------

def _sized_corpus(docs: DataFrame, id_col: str, text_col: str,
                  n_tasks: int | None) -> DataFrame:
    """(doc_id, __text) of the corpus at the tokenize pass's task count.

    ``n_tasks`` is the data-sized target (⌈n_docs / DOCS_PER_TOKENIZE_TASK⌉,
    uncapped). An input with more partitions is coalesced down to it — a
    narrow dependency, no shuffle; one with fewer is repartitioned up to
    ``min(n_tasks, cores)`` — a single-file local corpus otherwise
    tokenizes on ONE task. A 100 TB input whose data warrants its
    thousands of splits is left as it is. ``None`` keeps the input's
    partitioning."""
    cols = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       F.col(text_col).alias("__text"))
    if n_tasks is None:
        return cols
    if n_tasks <= 1:
        # no partition count needed: coalesce(1) of one partition is a
        # no-op, and counting an AQE plan's partitions runs its stages
        return cols.coalesce(1)
    have = cols.rdd.getNumPartitions()
    if have > n_tasks:
        return cols.coalesce(n_tasks)
    up = min(n_tasks, docs.sparkSession.sparkContext.defaultParallelism)
    return cols.repartition(up) if have < up else cols


def _tokenize_tf_batch(batch: pa.RecordBatch,
                       stopwords=None) -> pa.RecordBatch:
    """One Arrow batch of (doc_id, __text) → ``TOKENS_SCHEMA``: the token
    list plus the doc's distinct terms with their tfs, doc_len and maxtf.
    One hash factorize over the batch's tokens and one int64 unique over
    (row, term id) keys count every doc's tfs at once."""
    toks = tokenize_pandas(batch.column(1).to_pandas(), stopwords)
    n = len(toks)
    lens = np.fromiter(map(len, toks), dtype=np.int64, count=n)
    flat = list(itertools.chain.from_iterable(toks))
    codes, vocab = pd.factorize(np.asarray(flat, dtype=object))
    n_vocab = max(len(vocab), 1)
    keys, tfs = np.unique(np.repeat(np.arange(n), lens) * n_vocab + codes,
                          return_counts=True)
    n_terms = np.bincount(keys // n_vocab, minlength=n)
    maxtf = np.zeros(n, dtype=np.int64)
    has = n_terms > 0
    if has.any():
        first = np.cumsum(n_terms) - n_terms
        maxtf[has] = np.maximum.reduceat(tfs, first[has])
    lists = indexcodec.list_array
    terms = pa.array(vocab, pa.string()).take(pa.array(keys % n_vocab))
    return pa.RecordBatch.from_arrays(
        [batch.column(0), lists(lens, pa.array(flat, pa.string())),
         lists(n_terms, terms), lists(n_terms, pa.array(tfs)),
         pa.array(lens), pa.array(maxtf)],
        names=TOKENS_SCHEMA.fieldNames())


def tokenize_docs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", stopwords=None,
                  input_partitions: int | None = None) -> DataFrame:
    """corpus → ``TOKENS_SCHEMA`` rows, one per doc: the tokenize-ONCE
    table of every build, in one ``mapInArrow`` pass.

    Each row carries the doc's token list (``toks``, read by the pair
    pass) AND its per-doc term frequencies (``terms``/``tfs`` aligned,
    ``doc_len``, ``maxtf``), so the unigram postings are a JVM explode of
    this table (:func:`build_postings_from_tokens`) and the corpus text is
    tokenized exactly once per build, by one Python runner per task. At
    100 TB the persisted form is the same order as the corpus itself —
    build with ``build_index(checkpoint=...)`` when it exceeds cluster
    RAM: the table is then the build's ``tokens`` Parquet phase.

    Empty documents keep a row with empty arrays (token-less docs still
    count in n_docs, ``InvertedIndex.java:171``), so the table's row
    count IS n_docs (:func:`global_stats_from_tokens`).

    ``input_partitions``: optional data-sized task count
    (:func:`_sized_corpus`).
    """
    from .config import ensure_on_executors
    ensure_on_executors(docs.sparkSession)
    cols = _sized_corpus(docs, id_col, text_col, input_partitions)

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _tokenize_tf_batch(batch, stopwords)

    return cols.mapInArrow(gen, schema=TOKENS_SCHEMA)


def build_postings_from_tokens(tokens_df: DataFrame) -> DataFrame:
    """Unigram ``POSTINGS_SCHEMA`` rows from the tokenize-once table
    (:func:`tokenize_docs`): a JVM ``explode(arrays_zip(terms, tfs))`` —
    no Python stage. Token-less docs explode to no rows."""
    z = F.explode(F.arrays_zip("terms", "tfs")).alias("__z")
    return tokens_df.select("doc_id", "doc_len", "maxtf", z).select(
        F.col("__z.terms").alias("term"), "doc_id",
        F.col("__z.tfs").alias("tf"), "doc_len", "maxtf")


def build_postings(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   term_filter: DataFrame | None = None,
                   stopwords=None,
                   input_partitions: int | None = None) -> DataFrame:
    """corpus → unigram (term, doc_id, tf, doc_len, maxtf): the explode
    (:func:`build_postings_from_tokens`) of one tokenize pass
    (:func:`tokenize_docs`). Pair postings are born scored in
    :func:`build_index`'s pair phase
    (:func:`build_pair_postings_from_tokens`).

    Map-side pre-aggregation: the tokenize pass counts each doc's tfs, so
    only per-(doc, term) tf rows reach a shuffle (the analogue of the
    reference's per-doc dedup-before-buffer, ``InvertedIndex.java:291``).

    ``term_filter``: optional DataFrame with a ``term`` column — postings
    are pruned to those terms by broadcast LEFT SEMI join, the Spark form
    of the reference's query-trace filter-set probe during generation
    (``InvertedIndex.java:291``/``374``; SURVEY §2.2 T6 / §2.3 J2). Default
    None = index everything.

    ``input_partitions``: optional data-sized task count for the tokenize
    pass (:func:`_sized_corpus`).
    """
    out = build_postings_from_tokens(tokenize_docs(
        docs, id_col, text_col, stopwords, input_partitions))
    if term_filter is not None:
        out = out.join(F.broadcast(term_filter.select("term").distinct()),
                       "term", "left_semi")
    return out


# --------------------------------------------------------------------------
# Phase 2 — global stats + per-term df + quantized BM25
# --------------------------------------------------------------------------

def global_stats(docs: DataFrame, text_col: str = "text",
                 stopwords=None) -> dict:
    """N docs / total kept tokens / floored avgdl (``InvertedIndex.java:171``).

    Counts *all* docs (even token-less ones), like the reference's scan.
    """
    row = docs.select(F.size(tokens_col(F.col(text_col), stopwords))
                      .alias("dl")) \
              .agg(F.count("*").alias("n"), F.sum("dl").alias("tot")) \
              .collect()[0]
    n, tot = int(row["n"]), int(row["tot"] or 0)
    return {"n_docs": n, "total_tokens": tot,
            "avgdl": avgdl_floor(tot, n) if n else 0}


def score_postings(postings: DataFrame, n_docs: int, avgdl: int,
                   n_postings: int | None = None) -> DataFrame:
    """postings + per-term df → + quantized ``score_q`` (int64).

    The df aggregate shuffles the postings' terms on ``term`` (map-side
    partial counts first); its reduce stage also runs the idf pandas UDF.
    The per-term table is small, so the planner broadcasts it — at bench
    scale the plan is a ``BroadcastHashJoin`` and the postings are not
    shuffled for the join (a table above the broadcast threshold turns it
    into a sort-merge join that does shuffle them). No exchange is shared
    with the segment build, whose ``repartition(term)`` is its own
    shuffle.

    ``n_postings``: optional known row count of ``postings`` (build_index
    has it from the stats job) that sizes the reduce stage. Without it
    the stage runs at ``spark.sql.shuffle.partitions`` tasks — AQE does
    not coalesce the final stage of a cached plan, so a persisted
    ``scored`` paid that many Python tasks for a vocabulary-sized idf
    projection. With it the aggregate's output is coalesced to
    ⌈n_postings / HINTED_POSTINGS_PER_ENCODE_TASK⌉ tasks when that is
    fewer and the term table may broadcast; otherwise the plan is the
    unsized one.

    UNIGRAMS ONLY. The round-1 pair branch here (join the pair table twice
    against scored unigrams) was the build's biggest scale-killer and is
    deleted — pair terms must be scored doc-locally by
    :func:`build_pair_postings_from_tokens` (the pair table is born scored
    and never joins anything). Passing pair rows raises (at the first
    action that evaluates the scored rows) rather than silently taking a
    two-shuffle path no caller should want. The guard is fused into the
    df aggregate as an executor-side ``raise_error`` — round 5: the old
    eager ``pairs.isEmpty()`` probe cost a FULL extra scan job per call
    exactly on the happy path (no match → every partition visited), one
    per build and one per streaming-ingest micro-batch.
    """
    # idf via glibc-log pandas UDF on the tiny per-term table (bm25.idf_col
    # determinism note); the per-posting arithmetic below stays in codegen.
    guard_msg = (
        "score_postings scores unigrams only; score pair terms "
        "doc-locally with build_pair_postings_from_tokens (the legacy "
        "pair-join path was removed — it shuffled the pair table twice)")
    term_df = postings.groupBy("term").agg(F.count("*").alias("df"))
    if n_postings is not None:
        # the session's resolved SQLConf: its shuffle partition count is
        # the one the aggregate's exchange uses (AQE's initial count when
        # set), and the threshold comes back in bytes
        conf = postings.sparkSession._jsparkSession.sessionState().conf()
        n_tasks = max(1, -(-n_postings // HINTED_POSTINGS_PER_ENCODE_TASK))
        if n_tasks < conf.numShufflePartitions() and \
                conf.autoBroadcastJoinThreshold() > 0:
            term_df = term_df.coalesce(n_tasks)
    term_df = term_df.withColumn("df", F.when(
        F.col("term").contains(PAIR_SEP),
        F.raise_error(F.lit(guard_msg)).cast("long"))
        .otherwise(F.col("df"))) \
        .withColumn("__idf", idf_col(F.col("df"), n_docs))
    return (
        postings.join(term_df, "term")
                .withColumn("score_q", bm25_quantized_col(
                    "tf", "maxtf", "doc_len", "__idf", avgdl))
                .drop("__idf")
    )


PAIR_SCORED_SCHEMA = StructType([
    StructField("term", StringType()),
    StructField("doc_id", LongType()),
    StructField("tf", LongType()),
    StructField("s1", LongType()),
    StructField("s2", LongType()),
    StructField("score_q", LongType()),
])
_PAIR_ARROW = to_arrow_schema(PAIR_SCORED_SCHEMA)


def _pair_rows_scored(pdf: pd.DataFrame, distance: int) -> pd.DataFrame:
    """One Arrow batch of (doc_id, __toks, __terms sorted, __scores
    aligned) → scored pair postings, all doc-local (no join touches the
    pair table). ``__toks`` is each doc's token list from the
    tokenize-once table (:func:`tokenize_docs`).

    ``__terms`` is sorted ascending (the pair exchange's sort; pure-ASCII
    tokens so JVM and NumPy string orders agree) — each pair side's
    unigram score is a vectorized lookup. s1 belongs to the smaller term
    of the pair (the oracle's t1), s2 to the larger; the stored pair
    score is s1+s2 (``InvertedIndex.java:302-307``).

    Round-5 close: the kernel is vectorized across the WHOLE Arrow batch
    (the previous form looped per document — per-doc Python constants and
    a per-doc *string* searchsorted were most of its ~6 µs/token cost).
    One hash factorize maps every term/token string to a sorted-vocab id,
    one int64 searchsorted resolves all tokens against all per-doc score
    maps at once (doc-major keys ``doc·V + vid`` are globally sorted
    because each doc's terms are), the d windows slide over the flattened
    doc-major token array with a doc-boundary mask, and one global
    ``np.unique`` dedups (global term-row ids are doc-disjoint, so the
    global dedup IS the per-doc dedup and its ascending key order
    reproduces the per-doc loop's row order byte-for-byte). Output is
    byte-identical to the per-doc form (differential test); the only
    behavior delta is stricter validation — token-resolution is now
    checked for 1-token docs too, where the loop skipped them before
    pairing (unreachable through the public build paths, which always
    feed unfiltered score maps).
    """
    toks = pdf["__toks"]
    empty = pd.DataFrame({
        "term": pd.Series([], dtype=object),
        "doc_id": pd.Series([], dtype=np.int64),
        "tf": pd.Series([], dtype=np.int64),
        "s1": pd.Series([], dtype=np.int64),
        "s2": pd.Series([], dtype=np.int64),
        "score_q": pd.Series([], dtype=np.int64)})
    n_rows = len(pdf)
    if n_rows == 0:
        return empty
    tok_lens = np.fromiter((len(t) for t in toks), dtype=np.int64,
                           count=n_rows)
    term_lens = np.fromiter((len(t) for t in pdf["__terms"]),
                            dtype=np.int64, count=n_rows)
    n_tok = int(tok_lens.sum())
    n_term = int(term_lens.sum())
    missing_msg = (
        "pair pass: document tokens missing from the per-doc "
        "score map — build_pair_postings_from_tokens needs "
        "unfiltered scored unigrams")
    if n_tok == 0:
        return empty
    if n_term == 0:
        if (tok_lens >= 2).any():
            raise ValueError(missing_msg)
        return empty
    tok_doc = np.repeat(np.arange(n_rows, dtype=np.int64), tok_lens)
    term_doc = np.repeat(np.arange(n_rows, dtype=np.int64), term_lens)
    tok_flat = np.concatenate(
        [np.asarray(t, dtype=object) for t in toks])
    term_flat = np.concatenate(
        [np.asarray(t, dtype=object) for t in pdf["__terms"]])
    score_flat = np.concatenate(
        [np.asarray(s, dtype=np.int64) for s in pdf["__scores"]])
    # sorted-vocab ids via ONE hash factorize over all strings (then only
    # the uniques are sorted) — ~10x cheaper than string searchsorted
    vid, vocab = pd.factorize(np.concatenate([term_flat, tok_flat]),
                              sort=True)
    n_vocab = int(vid.max()) + 1
    term_key = term_doc * n_vocab + vid[:n_term]
    tok_key = tok_doc * n_vocab + vid[n_term:]
    # doc-major keys are globally sorted iff each doc's terms are sorted
    # unique (the exchange's sort + one-row-per-(term,doc) guarantee it); a
    # violation means the caller hand-built the score map — refuse rather
    # than silently mis-pair
    if n_term > 1 and (np.diff(term_key) <= 0).any():
        raise ValueError(
            "pair pass: per-doc score map terms must be sorted and "
            "unique (the pair pass sorts one row per term by term)")
    pos = np.searchsorted(term_key, tok_key)
    # every token must resolve to its term: scored_uni must be the
    # UNFILTERED unigram postings of the doc (build_index guarantees
    # it; a term_filter'ed set here would silently mis-score pairs)
    if not (term_key[np.minimum(pos, n_term - 1)] == tok_key).all():
        raise ValueError(missing_msg)
    # windowing over the flattened doc-major token stream: positions j
    # and j+s are s apart in the SAME doc exactly when the doc index
    # matches (docs are contiguous), so the per-doc windows of the old
    # loop are one strided compare per distance
    lefts, rights = [], []
    for s in range(1, distance + 1):
        if s >= n_tok:
            break
        same = tok_doc[:-s] == tok_doc[s:]
        lefts.append(pos[:-s][same])
        rights.append(pos[s:][same])
    if not lefts:
        return empty
    a = np.concatenate(lefts)
    b = np.concatenate(rights)
    neq = a != b
    a, b = a[neq], b[neq]
    if a.shape[0] == 0:
        return empty
    lo = np.minimum(a, b)
    hi = np.maximum(a, b)
    # global term-row ids are doc-disjoint ascending, so one unique both
    # dedups per doc AND orders rows (doc-major, then (lo, hi) in each
    # doc's local term order) exactly like the per-doc loop did.
    # n_term^2 must fit int64: n_term < 3e9 — an Arrow batch is ~10k docs
    # x ~1k distinct terms at the extreme, 5 orders of magnitude under it
    keys = np.unique(lo * n_term + hi)
    lo_u = keys // n_term
    hi_u = keys % n_term
    # pair STRINGS depend only on the vocab pair, and real corpora are
    # zipf (hot pairs recur across many docs) — concat each distinct
    # vocab pair ONCE and gather, instead of one Python concat per output
    # row (the concat was ~2/3 of the kernel). Adaptive: when the batch
    # shows little duplication (adversarial near-uniform vocab draws) the
    # searchsorted+gather overhead exceeds the concat saved, so fall back
    # to per-row concat. Plain-Python concat still beats np.char.add by
    # ~10x per element (no per-call ufunc machinery on strings).
    term_vid = vid[:n_term]
    pkey = term_vid[lo_u] * n_vocab + term_vid[hi_u]
    upk = np.unique(pkey)
    if upk.shape[0] * 5 <= pkey.shape[0] * 4:  # >=1.25x duplication
        vocab_arr = np.asarray(vocab, dtype=object)
        ustr = np.fromiter(
            (x + PAIR_SEP + y for x, y in
             zip(vocab_arr[upk // n_vocab].tolist(),
                 vocab_arr[upk % n_vocab].tolist())),
            dtype=object, count=upk.shape[0])
        terms_out = ustr[np.searchsorted(upk, pkey)]
    else:
        terms_out = np.fromiter(
            (x + PAIR_SEP + y for x, y in
             zip(term_flat[lo_u].tolist(), term_flat[hi_u].tolist())),
            dtype=object, count=keys.shape[0])
    s1 = score_flat[lo_u]
    s2 = score_flat[hi_u]
    return pd.DataFrame({
        "term": terms_out,
        "doc_id": pdf["doc_id"].to_numpy(np.int64)[term_doc[lo_u]],
        "tf": np.ones(s1.shape[0], np.int64),
        "s1": s1, "s2": s2, "score_q": s1 + s2})


def build_pair_postings_from_tokens(tokens_df: DataFrame,
                                    scored_uni: DataFrame,
                                    dbigram_distance: int = DBIGRAM_DISTANCE,
                                    num_partitions: int | None = None
                                    ) -> DataFrame:
    """Scored d-bigram postings with DOC-LOCAL pair scoring, fed by the
    tokenize-once table (:func:`tokenize_docs`).

    Round-1 scored pairs by joining the pair table TWICE against the scored
    unigram table on (term, doc_id) — two shuffle joins over the largest
    intermediate of the whole build (pair postings ≈ 7× unigrams). The
    reference computes pair scores from an in-memory per-doc score map
    (``InvertedIndex.java:302-307``); this is the Spark shape of that idea,
    one doc_id exchange (:func:`_pair_pass`):

        scored_uni rows ∪ one (doc_id, toks) row per doc
        → repartition(doc_id) + sort(doc_id, term)       [1× uni + tokens]
        → mapInArrow: per doc, window pairs + score lookup

    The giant pair table is *born scored* and never joins anything; the
    one shuffle moves the unigram rows and each doc's token list. Output
    carries the SEPARATE component streams (s1, s2) — X2 parity with the
    reference's precomputed pair lists (``BigramIndex.java:44-85``,
    ``algo_toplayer.cpp:477-564``).

    ``num_partitions``: explicit kernel parallelism (see
    TOKENS_PER_PAIR_TASK) — without it AQE coalesces the small exchange
    to one task at bench scale and the kernel serializes."""
    return _pair_pass(scored_uni, tokens_df, dbigram_distance,
                      num_partitions)


def _pair_pass(scored_uni: DataFrame, tokens_df: DataFrame, distance: int,
               num_partitions: int | None,
               passthrough: bool = False) -> DataFrame:
    """Doc-local pair scoring over ONE doc_id exchange → PAIR_SCORED rows.

    ``tokens_df``: the token table, one row per doc, whose ``toks`` ride
    the exchange as ``__toks``. The scored unigram rows and the document
    rows are hash-partitioned by doc_id together and sorted by
    (doc_id, term); a document row has a NULL term, and NULL sorts first,
    so every doc arrives as its document row followed by its terms in
    ascending order — the per-doc score map of the reference
    (``InvertedIndex.java:302-307``) with no aggregate, no second shuffle
    and no join. A streaming ``mapInArrow`` cuts the sorted rows into
    whole docs (:func:`_whole_groups`) and scores each batch of docs with
    :func:`_pair_rows_scored`; memory stays one Arrow batch plus one doc.

    ``passthrough``: also emit every scored unigram row (s1, s2 NULL), so
    that a build reading this output (:func:`_segment_rows`) consumes its
    scored unigrams once. ``num_partitions``: the exchange's explicit
    width — AQE never coalesces an explicit-count repartition; ``None``
    leaves it to ``spark.sql.shuffle.partitions`` and AQE."""
    from .config import ensure_on_executors
    ensure_on_executors(tokens_df.sparkSession)
    cols = {"term": "string", "score_q": "long"}
    if passthrough:
        cols["tf"] = "long"
    uni = scored_uni.select("doc_id", *cols, F.lit(None).cast(
        "array<string>").alias("__toks"))
    heads = tokens_df.select("doc_id", *(F.lit(None).cast(t).alias(c)
                                         for c, t in cols.items()),
                             F.col("toks").alias("__toks"))
    rows = uni.unionByName(heads)
    rows = rows.repartition("doc_id") if num_partitions is None \
        else rows.repartition(num_partitions, "doc_id")

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in _whole_groups(batches, "doc_id"):
            yield from _pair_batch(batch, distance, passthrough)

    return rows.sortWithinPartitions("doc_id", "term") \
               .mapInArrow(gen, schema=PAIR_SCORED_SCHEMA)


def _pair_batch(batch: pa.RecordBatch, distance: int,
                passthrough: bool) -> Iterator[pa.RecordBatch]:
    """Whole docs of the pair exchange, sorted by (doc_id, term) with each
    doc's document row (NULL term) first → PAIR_SCORED_SCHEMA batches.

    A doc with no document row yields no pairs; a doc with document rows
    but no scored rows reaches :func:`_pair_rows_scored`, which raises if
    it has a pair to score."""
    term = batch.column("term")
    is_doc = term.is_null().to_numpy(zero_copy_only=False)
    starts = _group_starts(batch.column("doc_id"))
    has_doc = is_doc[starts]
    if is_doc.sum() != has_doc.sum():
        raise ValueError("pair pass: a doc_id has more than one document "
                         "row — doc ids must be unique")
    uni = batch.filter(pa.array(~is_doc))
    n_terms = np.diff(np.append(starts, batch.num_rows)) - has_doc
    heads, keep = pa.array(starts[has_doc]), pa.array(has_doc)
    lists = indexcodec.list_array
    pdf = pd.DataFrame({
        "doc_id": batch.column("doc_id").take(heads).to_numpy(),
        "__toks": batch.column("__toks").take(heads).to_pandas(),
        "__terms": lists(n_terms, uni.column("term")).filter(keep)
        .to_pandas(),
        "__scores": lists(n_terms, uni.column("score_q")).filter(keep)
        .to_pandas()})
    yield pa.RecordBatch.from_pandas(
        _pair_rows_scored(pdf, distance), schema=_PAIR_ARROW,
        preserve_index=False)
    if passthrough and uni.num_rows:
        none = pa.nulls(uni.num_rows, pa.int64())
        yield pa.RecordBatch.from_arrays(
            [uni.column("term"), uni.column("doc_id"), uni.column("tf"),
             none, none, uni.column("score_q")], schema=_PAIR_ARROW)


def pair_needed_terms_prune(scored_uni: DataFrame,
                            pairs: DataFrame) -> DataFrame:
    """The needed-terms prune of the budget pair build: restrict the scored
    unigram table to terms mentioned by ANY candidate pair, as an explicit
    broadcast left-semi join (the distinct pair-term set is tiny next to
    the postings table, so the postings never shuffle for this prune).

    Split out of :func:`build_pair_postings_budget` so the plan can be
    asserted directly (tests/test_plans.py): downstream,
    ``posting_positions`` eagerly ``localCheckpoint``-s its input, which
    truncates lineage — the final pair plan starts from the checkpointed
    scan and no longer SHOWS this join, even though it always runs.
    """
    needed = (pairs.select(F.col("t1").alias("term"))
              .unionByName(pairs.select(F.col("t2").alias("term")))
              .distinct())
    return scored_uni.join(F.broadcast(needed), "term", "left_semi") \
                     .select("term", "doc_id", "score_q")


def build_pair_postings_budget(scored_uni: DataFrame, pairs: DataFrame,
                               budget: int) -> DataFrame:
    """J4 exact variant: pair lists merged from top-``budget`` unigram
    prefixes — the reference's precomputed bigram index construction
    (``BigramIndex.java:44-85``, ``getUnigramTopMap`` ibid. 126-151),
    as opposed to :func:`build_pair_postings_from_tokens`' exact
    full-corpus pass.

    Reference semantics, re-expressed:

    1. prefix(t) = the first ``budget`` postings of t's unigram list in
       impact order (score desc, doc_id asc — the stored order of the
       reference's unigram index, ``WWW.java:211-247``;
       ``getUnigramTopMap`` reads exactly that prefix).
    2. The pair (t1, t2)'s list = the two prefixes concatenated, re-sorted
       ascending by the doc-id-major packed key (the ``parallelSort`` at
       ``BigramIndex.java:66``), truncated to ``budget`` entries
       (``min(len1+len2, budget)``, ibid. 67).

    Documented deviations (both strictly cleaner, neither affects which
    docs the budget admits except at the cap boundary):
    - a doc present in BOTH prefixes collapses to ONE row carrying the
      separate (s1, s2) components — the reference stores two adjacent
      packed entries that its scorer then sums; our row IS the summed
      form (X2 contract, compatible with :func:`pair_segment_input`).
    - the cap counts reference ENTRIES (a both-sides doc counts 2) and
      never splits a doc: a doc whose two entries straddle the cap is
      dropped whole.

    ``pairs``: (t1, t2) candidate pair set — the query-trace 2-subsets
    (U4, ``Metadata.java:236-262``); t1 < t2.

    Scale shape: prefixes bound every per-term list at ``budget`` rows
    BEFORE anything is joined (the skew-safe rank assignment of
    :func:`~candidategeneration_spark.quality.posting_positions`, so a
    df≈N hot term never lands in one task); the side joins move only
    budget-bounded tables; the per-pair truncation windows over ≤2·budget
    rows. No full-length posting list ever crosses an exchange.
    """
    from .quality import posting_positions
    pre = pair_needed_terms_prune(scored_uni, pairs)
    prefix = posting_positions(pre).where(F.col("pos") < budget) \
                                   .drop("pos")
    a = (prefix.join(pairs, prefix["term"] == pairs["t1"])
         .select("t1", "t2", "doc_id",
                 F.col("score_q").alias("s1"),
                 F.lit(0).cast("long").alias("s2"),
                 F.lit(1).cast("long").alias("__ent")))
    b = (prefix.join(pairs, prefix["term"] == pairs["t2"])
         .select("t1", "t2", "doc_id",
                 F.lit(0).cast("long").alias("s1"),
                 F.col("score_q").alias("s2"),
                 F.lit(1).cast("long").alias("__ent")))
    merged = (a.unionByName(b)
              .groupBy("t1", "t2", "doc_id")
              .agg(F.sum("s1").alias("s1"), F.sum("s2").alias("s2"),
                   F.sum("__ent").alias("__ent")))
    w = Window.partitionBy("t1", "t2").orderBy("doc_id") \
              .rowsBetween(Window.unboundedPreceding, 0)
    return (merged.withColumn("__cum", F.sum("__ent").over(w))
            .where(F.col("__cum") <= budget)
            .select(F.concat_ws(PAIR_SEP, "t1", "t2").alias("term"),
                    "doc_id", "s1", "s2",
                    (F.col("s1") + F.col("s2")).alias("score_q")))


def global_stats_from_postings(postings: DataFrame, n_docs: int) -> dict:
    """Stats without a second corpus scan: total kept tokens = Σ tf over
    unigram postings (each doc contributes its doc_len exactly once as the
    sum of its per-term tfs) — a pure map-side partial aggregation, NO
    shuffle. Token-less docs carry no postings, so ``n_docs`` comes from
    the caller (streaming compaction counts its doc log); it counts them —
    same semantics as :func:`global_stats` (reference scans every doc,
    InvertedIndex.java:171). :func:`build_index` reads all four stats off
    its token table instead (:func:`global_stats_from_tokens`).
    """
    uni = postings.where(~F.col("term").contains(PAIR_SEP))
    row = uni.agg(F.sum("tf").alias("tot"),
                  F.count("*").alias("np")).collect()[0]
    tot = int(row["tot"] or 0)
    return {"n_docs": n_docs, "total_tokens": tot,
            "avgdl": avgdl_floor(tot, n_docs) if n_docs else 0,
            "n_postings": int(row["np"])}


def global_stats_from_tokens(tokens_df: DataFrame) -> dict:
    """:func:`global_stats_from_postings`' dict from the tokenize-once
    table (:func:`tokenize_docs`) in one map-side aggregate: the table has
    one row per doc, token-less docs included, so ``count(*)`` is the
    exact n_docs with no corpus count job; Σ doc_len is the total kept
    tokens and Σ size(terms) the unigram posting count."""
    row = tokens_df.agg(F.count("*").alias("n"),
                        F.sum("doc_len").alias("tot"),
                        F.sum(F.size("terms")).alias("np")).collect()[0]
    n, tot = int(row["n"]), int(row["tot"] or 0)
    return {"n_docs": n, "total_tokens": tot,
            "avgdl": avgdl_floor(tot, n) if n else 0,
            "n_postings": int(row["np"] or 0)}


# --------------------------------------------------------------------------
# Phase 3 — compressed block-max segments
# --------------------------------------------------------------------------

def _group_starts(key: pa.Array) -> np.ndarray:
    """First row of every run of equal keys (rows arrive key-sorted)."""
    n = len(key)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    change = pc.not_equal(key.slice(1), key.slice(0, n - 1))
    return np.flatnonzero(
        np.r_[True, change.to_numpy(zero_copy_only=False)])


def encode_sorted_batch(batch: pa.RecordBatch, n_docs: int, avgdl: int,
                        score_in: bool) -> pa.RecordBatch:
    """Encode a (term, doc_id)-sorted batch of COMPLETE term groups into
    one ``SEGMENT_SCHEMA`` row per term, columnar end to end.

    ``score_in``: the batch carries ``score_q``; otherwise it carries
    (``doc_len``, ``maxtf``) and BM25 is computed here with df = group
    size (the fused unigram path)."""
    from .bm25 import bm25_quantized_np
    term = batch.column("term")
    starts = _group_starts(term)
    dids = batch.column("doc_id").to_numpy()
    tfs = batch.column("tf").to_numpy()
    if score_in:
        scores = batch.column("score_q").to_numpy()
    else:
        sizes = np.diff(np.append(starts, len(term)))
        scores = bm25_quantized_np(
            tfs, batch.column("maxtf").to_numpy(), np.repeat(sizes, sizes),
            batch.column("doc_len").to_numpy(), n_docs, avgdl)
    cols = indexcodec.encode_groups(dids, scores, tfs, starts)
    cols["term"] = term.take(pa.array(starts))
    return pa.RecordBatch.from_arrays(
        [cols[f.name] for f in SEGMENT_SCHEMA.fields],
        names=SEGMENT_SCHEMA.fieldNames())


def _whole_groups(batches: Iterator[pa.RecordBatch],
                  key: str) -> Iterator[pa.RecordBatch]:
    """Re-cut a partition's ``key``-sorted Arrow batches so that no run of
    equal keys spans two of them. A run may span batch boundaries, so the
    rows of the last run stay in ``carry`` until a later batch (or the end
    of the partition) closes it. ``carry`` holds zero-copy slices and is
    concatenated once, when its run completes."""
    carry: list[pa.RecordBatch] = []

    def whole(parts):
        return parts[0] if len(parts) == 1 else \
            pa.Table.from_batches(parts).combine_chunks().to_batches()[0]

    for batch in batches:
        if not batch.num_rows:
            continue
        col = batch.column(key)
        last = int(_group_starts(col)[-1])
        if last == 0 and carry and \
                col[0].as_py() == carry[-1].column(key)[-1].as_py():
            carry.append(batch)  # the whole batch continues the open run
            continue
        done = carry + ([batch.slice(0, last)] if last else [])
        if done:
            yield whole(done)
        carry = [batch.slice(last)]
    if carry:
        yield whole(carry)


def _encode_stream(batches: Iterator[pa.RecordBatch], n_docs: int,
                   avgdl: int, score_in: bool) -> Iterator[pa.RecordBatch]:
    """Per-partition streaming encoder (``mapInArrow``) over batches sorted
    by (term, doc_id) within the partition, one term group never split
    (:func:`_whole_groups`)."""
    for batch in _whole_groups(batches, "term"):
        yield encode_sorted_batch(batch, n_docs, avgdl, score_in)


def build_segments_fast(postings: DataFrame, n_docs: int, avgdl: int,
                        num_partitions: int | None = None,
                        n_postings: int | None = None) -> DataFrame:
    """Unigram fast path: ONE shuffle total.

    repartition(term) → Tungsten sortWithinPartitions(term, doc_id) →
    streaming ``mapInArrow`` encode (:func:`encode_sorted_batch`) with
    FUSED df + BM25 (df = group size, so the separate df aggregation +
    join of the classic path disappear). The encoder is columnar: Arrow
    batches in, one ``SEGMENT_SCHEMA`` batch out, no Python object per
    term — dictionaries dominated by tiny lists (unique identifiers at
    10^12-file scale) cost what their postings cost.

    ``n_postings``: optional known row count (build_index gets it for
    free from the stats aggregate over the persisted postings) — sizes
    the encode shuffle at POSTINGS_PER_ENCODE_TASK rows/partition,
    capped at 4×cores. Without it the count-free 4×cores default stands.
    """
    cols = postings.select("term", "doc_id", "tf", "doc_len", "maxtf")
    sc = postings.sparkSession.sparkContext
    if num_partitions is None and n_postings is not None:
        num_partitions = min(
            sc.defaultParallelism * 4,
            max(1, -(-n_postings // POSTINGS_PER_ENCODE_TASK)))
    if num_partitions is None:
        # explicit count (AQE coalescing would shrink a bare
        # repartition("term") to ~advisory-size partitions — measured 21
        # partitions for a 16-core run, which turns term-hash skew into a
        # straggler tail). 4×cores keeps waves balanced under skew.
        num_partitions = sc.defaultParallelism * 4
    part = cols.repartition(num_partitions, "term")
    part = part.sortWithinPartitions("term", "doc_id")

    def run(batches):
        yield from _encode_stream(batches, n_docs, avgdl, score_in=False)

    return part.mapInArrow(run, schema=SEGMENT_SCHEMA)


def build_segments(scored: DataFrame,
                   n_postings_hint: int | None = None) -> DataFrame:
    """scored postings → one segment row per term.

    One explicit term-hash shuffle + Tungsten sort + the streaming
    columnar ``mapInArrow`` encoder (:func:`_encode_stream`, same kernel
    as the fused unigram path, scores taken from ``score_q``; an
    ``applyInPandas`` per term would pay one UDF invocation per term —
    ruinous for d-bigram dictionaries with millions of pair terms).

    ``n_postings_hint``: optional (over-)estimate of the row count — sizes
    the encode shuffle like :func:`build_segments_fast` (floor = cores so
    a low estimate never serializes the sort; cap = 4×cores as before).
    """
    from .config import ensure_on_executors
    ensure_on_executors(scored.sparkSession)
    sc = scored.sparkSession.sparkContext
    n_parts = sc.defaultParallelism * 4
    if n_postings_hint is not None:
        n_parts = min(n_parts, max(
            sc.defaultParallelism,
            -(-n_postings_hint // HINTED_POSTINGS_PER_ENCODE_TASK)))
    part = scored.select("term", "doc_id", "tf", "score_q") \
                 .repartition(n_parts, "term") \
                 .sortWithinPartitions("term", "doc_id")

    def run(batches):
        yield from _encode_stream(batches, 0, 0, score_in=True)

    return part.mapInArrow(run, schema=SEGMENT_SCHEMA)


def pair_segment_input(scored_uni: DataFrame, pairs: DataFrame) -> DataFrame:
    """Union scored unigrams with doc-locally scored pairs as segment-build
    input (the checkpointed build's shape; the in-memory build gets the
    same rows from its pair pass, :func:`_segment_rows`)."""
    return scored_uni.select("term", "doc_id", "tf", "score_q") \
        .unionByName(pairs.select("term", "doc_id",
                                  _pair_tf().alias("tf"), "score_q"))


def _segment_rows(rows: DataFrame) -> DataFrame:
    """The pass-through pair pass's ``PAIR_SCORED_SCHEMA`` rows →
    segment-build input: a row with a NULL ``s2`` is a unigram and keeps
    its tf, a pair row stores :func:`_pair_tf`."""
    return rows.select("term", "doc_id",
                       F.coalesce(_pair_tf(), F.col("tf")).alias("tf"),
                       "score_q")


def _pair_tf():
    """The pair tf column — THE single definition of the stored pair
    format (X2 contract).

    Pair tf is meaningless (always 1 — the reference scorer never reads it,
    ``InvertedIndex.java:302-307``), so the tf stream carries zigzag(s2)
    instead: a stored pair segment yields the separate (did, s1, s2)
    component streams via s2 = unzigzag(tf), s1 = score - s2
    (``algo_toplayer.cpp:477-564``, ``BigramIndex.java:44-85``). zigzag
    keeps negative components 1-2 VByte bytes. Every pair-storing segment
    input (build_index, and through it checkpoints.build_index_resumable
    and the CLI) MUST go through here — a path that stored raw tf=1
    instead would store segments that decode s2=-1 for every pair.
    """
    return F.expr("(s2 << 1) ^ (s2 >> 63)").cast("long")


def release_build_caches(stats: dict) -> None:
    """Unpersist the intermediates a build pinned (``stats["cached"]``).

    Call AFTER materializing the returned segments (store write / count):
    the segments plan references the cached tables, so releasing earlier
    just forfeits the cache and recomputes. Long-lived sessions that
    build repeatedly (the driver gate loop, streaming compaction) would
    otherwise accumulate one corpus-order token table per build in the
    cache manager — the same leak class the round-4 ``sample_split`` fix
    removed."""
    for df in stats.pop("cached", []):
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped


def _stopwords_key(stopwords) -> str | None:
    """Digest of the WHOLE sorted stopword set, for checkpoint params: a
    resume under another set must not reuse what the first tokenized."""
    if not stopwords:
        return None
    return hashlib.sha256(
        "\n".join(sorted(stopwords)).encode()).hexdigest()


def build_index(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text",
                dbigram_distance: int | None = DBIGRAM_DISTANCE,
                checkpoint: Checkpointer | None = None,
                phase_times: dict | None = None,
                stopwords=None) -> tuple[DataFrame, dict]:
    """End-to-end build → (segments DataFrame, stats dict).

    The reference's four-phase builder (``WWWMain.java:50-199``) as one
    pipeline of named phases:

        tokens    tokenize-once table (:func:`tokenize_docs`)
        postings  unigram postings (a JVM explode of ``tokens``)
        stats     n_docs / total tokens / avgdl / n_postings (one
                  aggregate over ``tokens``, whose row count is the
                  exact n_docs)
        scored    quantized BM25 per unigram posting (df join)
        pairs     pair postings, born scored by the doc-local pass over
                  ``tokens`` and ``scored`` (d-bigram only, one doc_id
                  exchange) — the pair table, the largest
                  intermediate, never joins anything
        encode    compressed block-max segments (lazy, returned)

    The corpus text is tokenized exactly once per build, and no build
    runs a corpus count job: the tokenize pass is sized from the
    plan's row-count statistic (:func:`plans.row_count_stat`, counting
    only when the plan has none). Every Python stage runs at a task count
    sized from its data (see the stage-sizing notes at the top of this
    module).

    ``checkpoint``: persistence policy of the intermediates.
    ``None`` persists one table in memory — the token table; without it
    Catalyst re-runs the tokenizer per reference — and returns it in
    ``stats["cached"]``. Nothing else is persisted: a unigram build
    encodes the postings exploded from it with df + BM25 fused into the
    encoder (:func:`build_segments_fast`), and a d-bigram build's pair
    pass passes each doc's scored unigram rows through with its pairs,
    so the scored table is read once and feeds the encode without a
    union. After materializing the segments (writing the store /
    counting), call :func:`release_build_caches` to unpersist it — a
    long-lived session that builds repeatedly would otherwise pin one
    corpus-order token table per build in the cache manager. A
    :class:`~candidategeneration_spark.checkpoints.Checkpointer` instead
    writes every phase but encode as Parquet + manifest and skips the
    phases a previous run finished (``WWW.java:367-369``
    ``checkExistence``) — the resumable 100 TB policy, and the one to use
    when the intermediates exceed cluster RAM. Its unigram builds keep
    the ``scored`` phase, so a crash in encode resumes from it.

    ``phase_times``: optional dict filled with wall seconds of the
    materialized sub-phases (benchmark instrumentation).
    """
    import time as _time
    spark = docs.sparkSession
    sc = spark.sparkContext
    cached: list = []

    def phase(name, builder, keep=True, **kw):
        if checkpoint is not None:
            return checkpoint.phase(name, builder, **kw)[0]
        df = builder()
        if keep:
            df = df.persist()
            cached.append(df)
        return df

    # every phase that reads the corpus carries its tokenization contract
    corpus = {"id_col": id_col, "text_col": text_col,
              "stopwords": _stopwords_key(stopwords)}
    # no corpus count job: the token table has one row per doc, so the
    # stats job counts n_docs exactly; the tokenize pass is sized from
    # the plan's row-count statistic (zero jobs; possibly an upper bound,
    # fine for sizing), counting only when the plan has none
    def tokens():
        n_rows = plans.row_count_stat(docs)
        if n_rows is None:
            n_rows = docs.count()
        return tokenize_docs(
            docs, id_col, text_col, stopwords=stopwords,
            input_partitions=max(1, -(-n_rows // DOCS_PER_TOKENIZE_TASK)))
    tokd = phase("tokens", tokens, params=corpus)
    postings = phase("postings", lambda: build_postings_from_tokens(tokd),
                     keep=False, inputs=["tokens"], params=corpus)
    t0 = _time.time()
    if checkpoint is None:
        stats = global_stats_from_tokens(tokd)
    else:
        stats = phase("stats", lambda: spark.createDataFrame(
            [tuple(global_stats_from_tokens(tokd).values())],
            "n_docs long, total_tokens long, avgdl long, n_postings long"),
            inputs=["tokens"]).collect()[0].asDict()
    stats["cached"] = cached
    if phase_times is not None:
        phase_times["tokenize_stats"] = round(_time.time() - t0, 3)
    if not dbigram_distance and checkpoint is None:
        # unigram-only: fused single-shuffle path (df + score in-kernel)
        return build_segments_fast(postings, stats["n_docs"],
                                   stats["avgdl"],
                                   n_postings=stats["n_postings"]), stats
    scored = phase("scored", lambda: score_postings(
        postings, stats["n_docs"], stats["avgdl"],
        n_postings=stats["n_postings"]),
        keep=False, inputs=["postings", "stats"])
    if not dbigram_distance:
        return build_segments(scored, n_postings_hint=stats["n_postings"]), \
            stats
    pair_parts = min(sc.defaultParallelism * 4, max(
        1, -(-stats["total_tokens"] // TOKENS_PER_PAIR_TASK)))
    if checkpoint is None:
        # scored is read once: the pair pass passes each doc's unigram
        # rows through with its pairs
        seg_in = _segment_rows(_pair_pass(
            scored, tokd, dbigram_distance, pair_parts, passthrough=True))
    else:
        pairs = phase("pairs", lambda: build_pair_postings_from_tokens(
            tokd, scored, dbigram_distance, num_partitions=pair_parts),
            inputs=["tokens", "scored"],
            params={"dbigram_distance": dbigram_distance})
        seg_in = pair_segment_input(scored, pairs)
    # pair rows are bounded by distance × total tokens (each token opens
    # ≤ d windows, pre-dedup) — a cheap over-estimate that sizes the
    # encode shuffle without materializing the pair table
    hint = stats["n_postings"] + dbigram_distance * stats["total_tokens"]
    return build_segments(seg_in, n_postings_hint=hint), stats
