"""Randomized END-TO-END differential fuzz: random mini-corpora through
the full Spark build (tokenize → postings → segments) and both query
feeders (join mode, prepared serving) against the pure-Python
``OracleIndex`` — the corpus-level complement of the kernel-level fuzz in
test_codec.py / test_fuzz_extended.py.

Corner cases deliberately generated: empty documents, punctuation-only
documents, unicode text, single-doc corpora, hot terms (df > N/2 →
negative scores), absent query terms, duplicate query terms, k > corpus.

3 trials by default (~20 s with a warm session); EXTENDED_FUZZ=1 runs 12.
"""
import os

import numpy as np
import pytest

from candidategeneration_spark import build as B
from candidategeneration_spark import queryengine as Q
from candidategeneration_spark.oracle import OracleIndex

N_TRIALS = 12 if os.environ.get("EXTENDED_FUZZ") else 3


def _random_corpus(r: np.random.Generator):
    vocab_n = int(r.integers(5, 60))
    vocab = [f"w{i}" for i in range(vocab_n)] + ["héllo", "naïve", "функция"]
    n_docs = int(r.integers(1, 80))
    docs = []
    for did in range(n_docs):
        kind = r.random()
        if kind < 0.05:
            text = ""                                   # empty doc
        elif kind < 0.10:
            text = "!!! ... ;;; ---"                    # punct-only
        else:
            n_tok = int(r.integers(1, 120))
            # zipf-ish draw → a few hot terms with df > N/2 (negative IDF)
            idx = np.minimum((r.zipf(1.3, n_tok) - 1), len(vocab) - 1)
            seps = r.choice([" ", ", ", ".\n", "(", ")  "], n_tok)
            text = "".join(v + s for v, s in
                           zip([vocab[i] for i in idx], seps))
        docs.append((did, text))
    return docs, vocab


def _random_queries(r: np.random.Generator, vocab):
    qs = []
    for qid in range(int(r.integers(3, 10))):
        n = int(r.integers(1, 5))
        terms = [vocab[int(r.integers(0, len(vocab)))] for _ in range(n)]
        if r.random() < 0.3:
            terms.append("zz_absent_term")
        if r.random() < 0.3 and terms:
            terms.append(terms[0])                      # duplicate term
        qs.append((qid, terms))
    return qs


@pytest.mark.parametrize("trial", range(N_TRIALS))
def test_random_corpus_rank_identity(spark, trial):
    r = np.random.default_rng(90_000 + trial)
    docs, vocab = _random_corpus(r)
    oracle = OracleIndex(docs, dbigram_distance=5)
    df = spark.createDataFrame(docs, "doc_id long, text string")
    segs, _ = B.build_index(df, dbigram_distance=5)
    segs = segs.cache()
    segs.count()
    # every stored posting list (unigram AND d-bigram pair) vs the oracle
    from candidategeneration_spark.build import PAIR_SEP
    from candidategeneration_spark.indexcodec import segment_from_row
    for row in segs.collect():
        seg = segment_from_row(row)
        d, s, _ = seg.decode_all()
        if PAIR_SEP in row["term"]:
            t1, t2 = row["term"].split(PAIR_SEP)
            expect_p = oracle.pair_postings(t1, t2)
            assert d.tolist() == [e[0] for e in expect_p], (trial, row["term"])
            assert s.tolist() == [e[1] for e in expect_p], (trial, row["term"])
        else:
            expect_u = oracle.postings(row["term"])
            assert d.tolist() == [e[0] for e in expect_u], (trial, row["term"])
            assert s.tolist() == [e[2] for e in expect_u], (trial, row["term"])
    queries = _random_queries(r, vocab)
    qdf = spark.createDataFrame(queries, "qid long, terms array<string>")
    k = int(r.choice([1, 3, 10, 200]))                  # 200 > any corpus
    expect = {qid: oracle.topk(terms, k=k) for qid, terms in queries}
    got = {}
    for row in Q.wand_topk(segs, qdf, k=k).orderBy("qid", "rank").collect():
        got.setdefault(row["qid"], []).append((row["doc_id"], row["score_q"]))
    for qid, terms in queries:
        assert got.get(qid, []) == expect[qid], (trial, qid, terms, "join")
    # prepared serving path (broadcast PreparedIndex + _CachingSegment)
    all_terms = sorted({t for _, ts in queries for t in ts})
    prep = Q.prepare_index(segs, all_terms)
    got = {}
    for row in Q.wand_topk_prepared(prep, qdf, k=k) \
                .orderBy("qid", "rank").collect():
        got.setdefault(row["qid"], []).append((row["doc_id"], row["score_q"]))
    for qid, terms in queries:
        assert got.get(qid, []) == expect[qid], (trial, qid, terms, "prep")
    segs.unpersist()
