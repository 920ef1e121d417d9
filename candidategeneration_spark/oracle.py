"""Brute-force pure-Python oracle — plays the role of the (non-runnable)
reference engine for rank-identity tests (SURVEY.md §5 item 2).

Independent of every Spark code path: tokenizes with the scalar tokenizer,
scores with the scalar BM25, ranks with plain ``sorted``. If the Spark
exhaustive kernel, the auto-dispatched kernels and this oracle all agree, the
engine is rank-identical by construction.
"""

from __future__ import annotations

from collections import Counter

from .bm25 import avgdl_floor, bm25_quantized_scalar
from .tokenizer import DBIGRAM_DISTANCE, dbigram_pairs, tokenize_text


class OracleIndex:
    def __init__(self, docs: list[tuple[int, str]],
                 dbigram_distance: int | None = DBIGRAM_DISTANCE):
        self.tokens = {did: tokenize_text(text) for did, text in docs}
        self.n_docs = len(docs)
        self.total_tokens = sum(len(t) for t in self.tokens.values())
        self.avgdl = avgdl_floor(self.total_tokens, self.n_docs) \
            if self.n_docs else 0
        self.tf: dict[int, Counter] = {
            did: Counter(toks) for did, toks in self.tokens.items()}
        self.df: Counter = Counter()
        for c in self.tf.values():
            self.df.update(c.keys())
        self.doc_len = {did: len(t) for did, t in self.tokens.items()}
        self.maxtf = {did: (max(c.values()) if c else 0)
                      for did, c in self.tf.items()}
        self.dbigram_distance = dbigram_distance
        self.pair_docs: dict[tuple[str, str], list[int]] = {}
        if dbigram_distance:
            for did, toks in self.tokens.items():
                for pair in dbigram_pairs(toks, dbigram_distance):
                    self.pair_docs.setdefault(pair, []).append(did)

    def unigram_score(self, term: str, did: int) -> int:
        tf = self.tf[did].get(term, 0)
        if tf == 0:
            return 0
        return bm25_quantized_scalar(
            tf, self.maxtf[did], self.df[term], self.doc_len[did],
            self.n_docs, self.avgdl)

    def postings(self, term: str) -> list[tuple[int, int, int]]:
        """(doc_id, tf, score_q) sorted by doc_id, for one unigram term."""
        out = []
        for did in sorted(self.tf):
            tf = self.tf[did].get(term, 0)
            if tf:
                out.append((did, tf, self.unigram_score(term, did)))
        return out

    def pair_postings(self, t1: str, t2: str) -> list[tuple[int, int]]:
        """(doc_id, score_q) for a d-bigram: sum of unigram scores."""
        key = (t1, t2) if t1 < t2 else (t2, t1)
        return [(did, self.unigram_score(key[0], did)
                 + self.unigram_score(key[1], did))
                for did in sorted(self.pair_docs.get(key, []))]

    def topk(self, terms: list[str], k: int = 10) -> list[tuple[int, int]]:
        """Exact BM25 top-k over unique query terms; ties (score desc,
        doc_id asc). Returns [(doc_id, score_q)]."""
        uniq = sorted(set(terms))
        scores: dict[int, int] = {}
        for did in self.tf:
            s = 0
            hit = False
            for t in uniq:
                u = self.unigram_score(t, did)
                if self.tf[did].get(t, 0):
                    hit = True
                s += u
            if hit:
                scores[did] = s
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return ranked[:k]
