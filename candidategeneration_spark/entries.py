"""Spark-side implementations of the driver-gate entries.

Each function has signature ``(spark, sf_dir) -> DataFrame`` and a DuckDB
oracle twin in entrysql.py. Column names/types are aligned on both sides
(the driver's compare hashes values after sorting columns by name).
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession, functions as F

from .build import (
    PAIR_SEP, build_index, build_pair_postings_from_tokens, build_postings,
    build_postings_from_tokens, global_stats, release_build_caches,
    score_postings, tokenize_docs,
)
from .entrysql import QUERY_SET, TOPK  # noqa: F401
from .queryengine import wand_topk
from .tokenizer import DBIGRAM_DISTANCE

# Deferred cache release for long-lived gate loops (the round driver runs
# all gates in ONE session; so does tests/test_entry_contract.py). A gate
# returns a LAZY plan that still references the build's persisted
# intermediates, so they cannot be unpersisted before the caller
# materializes the result — instead each gate releases the PREVIOUS
# gate's pinned tables on entry (by then the driver has collected that
# result) and defers its own. Bounds cache-manager growth to one build's
# worth instead of one per gate — the leak class the round-4 sample_split
# fix removed, applied to the gate loop itself.
# The list is owned by the first thread that runs a gate: another
# thread's gate would release tables this thread's lazy result still
# reads, so it raises instead.
_DEFERRED_BUILD_CACHES: list[dict] = []
_DEFERRED_OWNER: dict[str, int] = {}


def _deferred_caches() -> list[dict]:
    me = threading.get_ident()
    owner = _DEFERRED_OWNER.setdefault("thread", me)
    if owner != me:
        raise RuntimeError(
            "gate caches are owned by thread %d; gates must run on one "
            "thread (called from %d)" % (owner, me))
    return _DEFERRED_BUILD_CACHES


def _release_prior_gate_caches() -> None:
    deferred = _deferred_caches()
    while deferred:
        release_build_caches(deferred.pop())


def _gate_build_index(docs: DataFrame, **kwargs):
    _release_prior_gate_caches()
    segments, stats = build_index(docs, **kwargs)
    _deferred_caches().append(stats)
    return segments


def _gate_cache(df: DataFrame) -> DataFrame:
    """Gate-owned ``df.cache()`` with the same deferred release."""
    _release_prior_gate_caches()
    cached = df.cache()
    _deferred_caches().append({"cached": [cached]})
    return cached


def load_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = global_stats(load_docs(spark, sf_dir))
    return spark.createDataFrame(
        [(s["n_docs"], s["total_tokens"], s["avgdl"])],
        "n_docs long, total_tokens long, avgdl long")


def q_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    postings = build_postings(load_docs(spark, sf_dir))
    return postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"))


def _scored_unigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_docs(spark, sf_dir)
    stats = global_stats(docs)
    postings = build_postings(docs)
    return score_postings(postings, stats["n_docs"], stats["avgdl"])


def q_postings_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _scored_unigrams(spark, sf_dir).select(
        "term", F.col("doc_id").cast("long").alias("doc_id"),
        F.col("tf").cast("long").alias("tf"),
        F.col("doc_len").cast("long").alias("doc_len"),
        F.col("maxtf").cast("long").alias("maxtf"),
        F.col("df").cast("long").alias("df"), "score_q")


def _uni_and_pairs(docs: DataFrame) -> tuple[dict, DataFrame, DataFrame]:
    """(stats, unigram postings, scored pairs) of one ``tokenize_docs``
    table: the doc-local pair scoring path
    (build.build_pair_postings_from_tokens) — the pair table is born
    scored; no join ever touches it."""
    stats = global_stats(docs)
    tokd = tokenize_docs(docs)
    uni = build_postings_from_tokens(tokd)
    scored = score_postings(uni, stats["n_docs"], stats["avgdl"])
    return stats, uni, build_pair_postings_from_tokens(tokd, scored)


def _scored_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _uni_and_pairs(load_docs(spark, sf_dir))[2]


def q_postings_dbigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _scored_pairs(spark, sf_dir)
    split = F.split(F.col("term"), PAIR_SEP)
    return pairs.select(
        split.getItem(0).alias("t1"), split.getItem(1).alias("t2"),
        F.col("doc_id").cast("long").alias("doc_id"), "score_q")


def q_pair_streams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 parity (algo_toplayer.cpp:477-564, BigramIndex.java:44-85): pair
    lists expose SEPARATE per-component score streams (did, s1, s2) — the
    reference's query engine uses the components independently as
    lookup-pruning seeds."""
    pairs = _scored_pairs(spark, sf_dir)
    split = F.split(F.col("term"), PAIR_SEP)
    return pairs.select(
        split.getItem(0).alias("t1"), split.getItem(1).alias("t2"),
        F.col("doc_id").cast("long").alias("doc_id"), "s1", "s2")


def q_access_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — standalone access map (getAccessMap, Metadata.java:153-169):
    per augmented term (unigram or 2-combination), the number of queries
    containing it."""
    from .quality import access_map
    return access_map(_query_df(spark))


def q_query_trace_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 — query-trace cleaning (convertANDcleanQueryTrace,
    Metadata.java:191-225): tokenize the fixed dirty trace, drop
    no-ground-truth qids, encode terms through the corpus dictionary
    (OOV drops out), remove emptied queries, renumber positions."""
    from . import textops
    from .entrysql import MISSING_GROUND_TRUTH_QIDS, RAW_QUERY_TRACE
    raw = spark.createDataFrame(RAW_QUERY_TRACE, "qid long, text string")
    missing = spark.createDataFrame(
        [(q,) for q in MISSING_GROUND_TRUTH_QIDS], "qid long")
    dt = textops.doc_tokens(load_docs(spark, sf_dir))
    dictionary = textops.term_dictionary(dt)
    return textops.clean_query_trace(raw, dictionary, missing_qids=missing)


PAIR_BUDGET = 64


def q_pair_budget_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 exact variant (BigramIndex.java:44-85): pair lists built by
    merging the top-PAIR_BUDGET impact-order prefixes of the two unigram
    lists, doc-id-ascending, capped at PAIR_BUDGET reference entries —
    the reference's precomputed bigram index, as opposed to the exact
    full-corpus pair pass of postings_dbigram. Pair set = the query
    trace's distinct term 2-combinations (U4, Metadata.java:236-262)."""
    from itertools import combinations
    from .build import build_pair_postings_budget
    prs = sorted({(a, b) for _, terms in QUERY_SET
                  for a, b in combinations(sorted(set(terms)), 2)})
    pdf = spark.createDataFrame(prs, "t1 string, t2 string")
    scored = _scored_unigrams(spark, sf_dir)
    res = build_pair_postings_budget(scored, pdf, PAIR_BUDGET)
    split = F.split(F.col("term"), PAIR_SEP)
    return res.select(
        split.getItem(0).alias("t1"), split.getItem(1).alias("t2"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "s1", "s2", "score_q")


def _query_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(qid, list(terms)) for qid, terms in QUERY_SET],
        "qid long, terms array<string>")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    segments = _gate_build_index(load_docs(spark, sf_dir),
                                 dbigram_distance=None)
    res = wand_topk(segments, _query_df(spark), k=TOPK)
    return res.select("qid", F.col("rank").cast("long").alias("rank"),
                      "doc_id", "score_q")


def q_warc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 end-to-end under the driver oracle (the reference's full ClueWeb
    path: ``ReadWarcSample.java`` → ``WarcRecord`` framing →
    ``HtmlpageCleaner`` → index → query): a deterministic slice of the
    documents table (doc_id % WARC_DOC_MOD == 0) is HTML-escaped, wrapped
    in pages with script/style/comment bait, framed into two .warc.gz
    shards, re-ingested with read_warc → html_to_text, indexed, and
    queried with the exact top-k engine. The escape makes the wrap token-exact
    (see entrysql.WARC_DOC_MOD note), so the oracle is plain BM25 SQL
    over the same slice — and any bait leaking through the tag/entity
    stripping shows up as a hash mismatch."""
    import hashlib
    import html as _html
    import os
    import tempfile

    from .entrysql import WARC_DOC_MOD
    from .sources.warc import read_warc, write_warc_gz
    # gate-scale only: the slice is collected to the driver to author the
    # .warc.gz fixture (1/WARC_DOC_MOD of a sf0.01 corpus — a few hundred
    # KB). Real WARC ingestion never routes through the driver.
    sub = load_docs(spark, sf_dir) \
        .where(F.col("doc_id") % WARC_DOC_MOD == 0) \
        .select("doc_id", "text")
    rows = sorted(sub.collect(), key=lambda r: r["doc_id"])
    pages = [
        (f"clueweb09-en0000-00-{int(r['doc_id']):08d}",
         f"http://x.test/{int(r['doc_id'])}",
         "<html><head><title>p</title>"
         "<script>var bait = 'sort merge hash';</script>"
         "<style>.c { color: red }</style></head>"
         # quote=False: escape only & < > — html.escape's default also
         # emits &#x27; for apostrophes, which html_to_text's entity table
         # historically missed, and quotes need no escaping in element
         # content anyway. Keeps the wrap token-exact for ANY corpus text.
         f"<body><!-- bait bait -->"
         f"<p>{_html.escape(r['text'] or '', quote=False)}"
         "</p></body></html>")
        for r in rows]
    # deterministic per-(sf_dir) fixture dir, overwritten in place — a
    # fresh mkdtemp per invocation would leak one dir per gate run
    root = os.path.join(
        tempfile.gettempdir(),
        "warc_gate_" + hashlib.sha1(sf_dir.encode()).hexdigest()[:12])
    os.makedirs(root, exist_ok=True)
    for stale in os.listdir(root):  # a prior run may have written more shards
        os.unlink(os.path.join(root, stale))
    half = max(1, len(pages) // 2)
    write_warc_gz(pages[:half], f"{root}/part-0.warc.gz")
    if pages[half:]:
        write_warc_gz(pages[half:], f"{root}/part-1.warc.gz")
    docs = read_warc(spark, root).select(
        F.regexp_extract(F.col("doc_id"), r"(\d+)$", 1).cast("long")
         .alias("doc_id"),
        "text")
    segments = _gate_build_index(docs, dbigram_distance=None)
    res = wand_topk(segments, _query_df(spark), k=TOPK)
    return res.select("qid", F.col("rank").cast("long").alias("rank"),
                      "doc_id", "score_q")


def q_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    segments = _gate_build_index(load_docs(spark, sf_dir),
                                 dbigram_distance=DBIGRAM_DISTANCE)
    return segments.select(
        "term", F.col("df").cast("long").alias("df"),
        F.col("n_blocks").cast("long").alias("n_blocks"))


# ---------------------------------------------------------------------------
# Training-data ops entries
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    from . import textops
    return textops.dedup_exact(load_docs(spark, sf_dir))


def q_minhash_signatures(spark, sf_dir):
    from . import textops
    return textops.minhash_signatures(load_docs(spark, sf_dir))


def q_lsh_candidate_pairs(spark, sf_dir):
    from . import textops
    return textops.lsh_candidate_pairs(load_docs(spark, sf_dir))


def q_simhash(spark, sf_dir):
    from . import textops
    return textops.simhash(load_docs(spark, sf_dir))


def q_ngram_jaccard(spark, sf_dir):
    from . import textops
    return textops.ngram_jaccard_pairs(load_docs(spark, sf_dir))


def q_lang_id(spark, sf_dir):
    from . import textops
    return textops.lang_id(load_docs(spark, sf_dir))


def q_quality_score(spark, sf_dir):
    from . import textops
    return textops.quality_score(load_docs(spark, sf_dir))


def q_token_counts(spark, sf_dir):
    from . import textops
    return textops.token_counts(load_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    from . import textops
    return textops.fingerprint(load_docs(spark, sf_dir))


def q_mm_extract(spark, sf_dir):
    from . import mmops
    docs = mmops.with_fake_payload(load_docs(spark, sf_dir))
    return mmops.extract_metadata(docs)


def q_ann_brute_topk(spark, sf_dir):
    from . import annops
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return annops.brute_topk(emb)


def q_ann_lsh_buckets(spark, sf_dir):
    from . import annops
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return annops.lsh_buckets(emb)


def q_ann_lsh_topk(spark, sf_dir):
    from . import annops
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return annops.lsh_topk(emb)


def q_ann_ivf_cells(spark, sf_dir):
    from . import annops
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return annops.ivf_cells(emb).select(
        "vec_id", F.col("cid").cast("long").alias("cid"))


def q_ann_ivf_topk(spark, sf_dir):
    from . import annops
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return annops.ivf_topk(emb)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs (dedup family): banded-LSH
    candidates + exact integer cos >= sqrt(49/400) (= 0.35 — a TEST-SCALE
    threshold: the synthetic embeddings' max pairwise cosine is ~0.51;
    production near-dup (.9+) uses the same operator with more planes)."""
    from . import annops
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return annops.near_dup_pairs(emb, num=49, den=400)


def q_ann_cosine_topk(spark, sf_dir):
    """Rank-only projection of the float cosine path: the cos value itself
    is fp-summation-order dependent (NumPy matmul vs sequential SQL sum)
    and can never be bit-stable cross-engine, but the RANKING is — adjacent
    cosines of random 64-d vectors differ by ~1e-3 while engines agree to
    ~1e-15, and exact ties (duplicate vectors) break on vec_id in both."""
    from . import annops
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    res = annops.cosine_topk_pandas(emb)
    return res.select("qid", F.col("rank").cast("long").alias("rank"),
                      "vec_id")


def q_frame_sample(spark, sf_dir):
    """Integer projection (len + byte checksum) of the binary frame
    sampler so the gate is oracle-checkable; the binary-output operator
    itself is exercised underneath (frame_sample_stats wraps it)."""
    from . import mmops
    docs = mmops.with_fake_payload(load_docs(spark, sf_dir))
    return mmops.frame_sample_stats(docs)


def q_mm_features(spark, sf_dir):
    from . import mmops
    docs = mmops.with_fake_payload(load_docs(spark, sf_dir))
    return mmops.byte_histogram_features(docs)


# ---------------------------------------------------------------------------
# Relational entries
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    from . import relops
    return relops.pricing_summary(spark, sf_dir)


def q_top_orders(spark, sf_dir):
    from . import relops
    return relops.top_orders(spark, sf_dir)


def q_window_topn(spark, sf_dir):
    from . import relops
    return relops.window_topn_events(spark, sf_dir)


def q_sessionize(spark, sf_dir):
    from . import relops
    return relops.sessionize_events(spark, sf_dir)


def q_bm25_topk_pairs(spark, sf_dir):
    """Augmented d-bigram query model (reference Metadata.java:236-262 +
    pair top layers): each query expands to its term 2-combinations, docs
    score by the SUM of pair scores (s1+s2 per pair present), exact top-k
    over the pair segment index via the same top-k engine (pair keys are
    just terms to the engine)."""
    from itertools import combinations
    segments = _gate_build_index(load_docs(spark, sf_dir),
                                 dbigram_distance=DBIGRAM_DISTANCE)
    rows = []
    for qid, terms in QUERY_SET:
        uniq = sorted(set(terms))
        keys = [a + PAIR_SEP + b for a, b in combinations(uniq, 2)]
        rows.append((qid, keys))
    qdf = spark.createDataFrame(rows, "qid long, terms array<string>")
    res = wand_topk(segments, qdf, k=TOPK)
    return res.select("qid", F.col("rank").cast("long").alias("rank"),
                      "doc_id", "score_q")


def q_term_dictionary(spark, sf_dir):
    from . import textops
    dt = textops.doc_tokens(load_docs(spark, sf_dir))
    return textops.term_dictionary(dt)


def q_hits_rank(spark, sf_dir):
    from . import relops
    return relops.hits_rank(spark, sf_dir)


def q_quality_matrix(spark, sf_dir):
    """Quality-model training histogram (Q4/Q5): ground truth = exact
    top-10 per benchmark query from our own scorer (the complex-ranker
    role), bucketed by exact-integer geometric (list-len, rank) edges."""
    from . import quality
    scored = _scored_unigrams(spark, sf_dir)
    queries = _query_df(spark)
    golden = quality.golden_topk(scored, queries, k=TOPK)
    qterms = queries.select("qid", F.explode("terms").alias("term")).distinct()
    golden_terms = golden.join(qterms, "qid").select("term", "doc_id")
    return quality.quality_matrix_df(scored, golden_terms)


QUALITY_BUDGET = 4000

# Q8/X11 gate config: the reference's class tables scaled to the sf0.01
# vocabulary (its boundaries are thousands-of-postings on a 50.2M-doc
# corpus; dividing by 1000 puts the benchmark terms' dfs across several
# classes so the CASE actually stratifies). Varying nums per class =
# the reference's commented per-class configs (algo_toplayer.h:144-150).
ONLINE_CLASS_BOUNDARIES = (0, 5, 10, 50, 100, 250, 500, 1000, 10000,
                           1 << 40)
ONLINE_CLASS_NUMS = (12, 16, 20, 24, 28, 32, 36, 40, 44)
ONLINE_BUDGET = 64


def q_online_greedy_topk(spark, sf_dir):
    """Q8+X11 — per-QUERY online greedy budget allocation
    (onlineGreedyDepthSelectionAlgorithm, algo_toplayer.h:193-269, invoked
    algo_toplayer.cpp:176-178; class tables algo_toplayer.h:142-143):
    train the quality matrix on the query set's ground truth, give each
    query list its class-table depth, pool its (list, rank-chunk) cells,
    grant spaces in model-value order until the 64-posting query budget is
    spent, answer over the granted prefixes only."""
    from . import quality
    scored = _gate_cache(_scored_unigrams(spark, sf_dir))
    queries = _query_df(spark)
    golden = quality.golden_topk(scored, queries, k=TOPK)
    qterms = queries.select("qid", F.explode("terms").alias("term")).distinct()
    golden_terms = golden.join(qterms, "qid").select("term", "doc_id")
    return quality.online_greedy_topk(
        scored, queries, golden_terms, ONLINE_BUDGET, k=TOPK,
        boundaries=ONLINE_CLASS_BOUNDARIES, nums=ONLINE_CLASS_NUMS)


def q_selection_lookup_topk(spark, sf_dir):
    """X3 + selection lookups — the reference's full flash-fetch
    (decide_termbits_new algo_toplayer.cpp:341-390 + Do_SelectionLookups):
    Q8 budgeted prefixes generate candidates with per-doc kbits coverage;
    each candidate's missing terms are looked up in the full lists, so the
    returned scores are the exact multi-term sums over the candidate set."""
    from . import quality
    scored = _gate_cache(_scored_unigrams(spark, sf_dir))
    queries = _query_df(spark)
    golden = quality.golden_topk(scored, queries, k=TOPK)
    qterms = queries.select("qid", F.explode("terms").alias("term")).distinct()
    golden_terms = golden.join(qterms, "qid").select("term", "doc_id")
    return quality.selection_lookup_topk(
        scored, queries, golden_terms, ONLINE_BUDGET, k=TOPK,
        boundaries=ONLINE_CLASS_BOUNDARIES, nums=ONLINE_CLASS_NUMS)


def q_lm_probabilities(spark, sf_dir):
    """Q9 — unigram + d-bigram LM probability maps (Metadata.java:20-84),
    derived from the corpus itself (MLE; the reference converts an external
    LM through its dictionary — no external data exists here). Exact
    integer probabilities p_q = cf*1e6 div total."""
    from . import quality
    stats, uni, pairs = _uni_and_pairs(load_docs(spark, sf_dir))
    return quality.lm_probability_maps(uni, pairs.select("term"),
                                       stats["total_tokens"])


def q_toplayer_topk(spark, sf_dir):
    """Quality-model-DRIVEN budgeted top-layer candidate generation
    (Q4→Q6→Q7→X1, the reference's full predictive-selection pipeline):
    train the quality matrix on the query set's ground truth, run the
    cell-greedy budget selection over it, extract the selected per-list
    prefixes (top layers), answer queries over prefixes only. Round 1 used
    a hard-coded 64-posting prefix; the budgets now come from the trained
    model (NewGreedySelection.java:26-89 → SelectChuncks.java:16-62)."""
    from . import quality
    scored = _gate_cache(_scored_unigrams(spark, sf_dir))
    queries = _query_df(spark)
    golden = quality.golden_topk(scored, queries, k=TOPK)
    qterms = queries.select("qid", F.explode("terms").alias("term")).distinct()
    golden_terms = golden.join(qterms, "qid").select("term", "doc_id")
    keep = quality.cell_greedy_prefixes(scored, golden_terms, QUALITY_BUDGET)
    top = quality.extract_top_layers_df(scored, keep)
    res = quality.toplayer_topk(top, queries, k=TOPK)
    return res.select("qid", F.col("rank").cast("long").alias("rank"),
                      "doc_id", "score_q")


# ---------------------------------------------------------------------------
# Training-data pipeline family (pipelineops.py)
# ---------------------------------------------------------------------------

def decon_phrases(spark):
    """Eval-benchmark phrase table: the fixed query set as contiguous
    phrases (len >= 2 — single terms are term filtering, not phrase
    decontamination)."""
    rows = [(int(qid), " ".join(terms))
            for qid, terms in QUERY_SET if len(terms) >= 2]
    return spark.createDataFrame(rows, "qid long, phrase string")


def q_decontaminate(spark, sf_dir):
    from .pipelineops import decontaminate
    return decontaminate(load_docs(spark, sf_dir), decon_phrases(spark))


def dirty_text(docs):
    """Deterministic PII-injection column for the pii_scrub gate: the raw
    corpus is clean lowercase word-soup, so the gate derives a dirty twin
    (email + 32-hex signature + 12-digit account id per doc) with the
    SAME expression on both the Spark and the DuckDB side."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" contact user"),
            F.col("doc_id").cast("string"), F.lit("@mail"),
            (F.col("doc_id") % 7).cast("string"), F.lit(".com sig "),
            F.md5(F.col("text")), F.lit(" acct "),
            F.lpad(F.col("doc_id").cast("string"), 12, "0")).alias("text"))


def q_pii_scrub(spark, sf_dir):
    from .pipelineops import pii_scrub
    return pii_scrub(dirty_text(load_docs(spark, sf_dir)))


def q_sample_split(spark, sf_dir):
    from .pipelineops import sample_split
    return sample_split(load_docs(spark, sf_dir), stratum_col="lang")


def q_pack_sequences(spark, sf_dir):
    from .pipelineops import pack_sequences
    return pack_sequences(load_docs(spark, sf_dir))


def q_repetition_stats(spark, sf_dir):
    from .pipelineops import repetition_stats
    return repetition_stats(load_docs(spark, sf_dir))


def q_lm_doc_scores(spark, sf_dir):
    from .pipelineops import lm_doc_scores
    return lm_doc_scores(load_docs(spark, sf_dir))


def q_ann_pq_codes(spark, sf_dir):
    from .annops import pq_codes
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_codes(emb)


def q_ann_pq_adc_topk(spark, sf_dir):
    from .annops import pq_adc_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_adc_topk(emb)


def q_ann_ivfpq_codes(spark, sf_dir):
    from .annops import ivfpq_codes
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivfpq_codes(emb)


def q_ann_ivfpq_topk(spark, sf_dir):
    from .annops import ivfpq_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivfpq_topk(emb)


def q_duplicate_spans(spark, sf_dir):
    from .pipelineops import duplicate_spans
    return duplicate_spans(load_docs(spark, sf_dir))


def q_dedup_clusters(spark, sf_dir):
    from .textops import dedup_clusters
    return dedup_clusters(load_docs(spark, sf_dir))


def q_gopher_rules(spark, sf_dir):
    from .textops import gopher_rules
    return gopher_rules(load_docs(spark, sf_dir))


def q_events_rollup(spark, sf_dir):
    from .relops import events_rollup
    return events_rollup(spark, sf_dir)


def q_value_percentiles(spark, sf_dir):
    from .relops import value_percentiles
    return value_percentiles(spark, sf_dir)


def q_events_cube(spark, sf_dir):
    from .relops import events_cube
    return events_cube(spark, sf_dir)
