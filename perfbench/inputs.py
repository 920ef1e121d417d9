"""Seeded benchmark inputs: the corpus and the query mixes.

The program under test receives only these. The corpus is
``sources.corpus.generate_corpus`` (content a pure function of seed and
doc id); queries are drawn here from the corpus text with the benchmark's
own term split, so they do not depend on any output of the program.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np

_TERM = re.compile(r"[a-z0-9.]+")

# share of each query shape in a serving batch
ZIPF_SHARE, NEGHOT_SHARE = 0.5, 0.25
# ad-hoc query ids start here, so they never collide with batch query ids
ADHOC_QID_BASE = 1 << 40


def corpus(spark, n_docs: int, seed: int):
    from candidategeneration_spark.sources.corpus import generate_corpus
    return generate_corpus(spark, n_docs, seed=seed)


def corpus_rows(docs) -> list[tuple[int, str]]:
    """(doc_id, content) sorted by doc id — the input the oracle reads."""
    return sorted((int(r["doc_id"]), r["content"])
                  for r in docs.select("doc_id", "content").collect())


class Vocabulary:
    """Document frequencies of the corpus terms and the term pools the
    query shapes draw from (each pool sorted, so draws are seed-stable)."""

    def __init__(self, rows: list[tuple[int, str]]):
        df: Counter = Counter()
        for _, text in rows:
            df.update(set(_TERM.findall(text.lower())))
        n = len(rows)
        self.n_docs = n
        terms = sorted(df)
        self.hot = [t for t in terms if df[t] > n // 2]
        self.unique = [t for t in terms if df[t] == 1]
        self.mid = [t for t in terms if 2 <= df[t] <= max(2, n // 50)]
        self.zipf = [t for t in terms if df[t] <= n // 2]
        w = np.array([df[t] for t in self.zipf], dtype=np.float64)
        self.zipf_p = w / w.sum()


def serving_batch(vocab: Vocabulary, n_queries: int, seed: int,
                  batch: int) -> list[tuple[int, list[str]]]:
    """Batch number ``batch`` (>= 0) of serving queries: zipf-drawn
    identifiers (1-3 terms), a hot keyword plus a unique identifier (the
    negative-hot lookup shape), and 2-3 uniform mid-vocabulary
    identifiers, in fixed shares."""
    rng = np.random.default_rng([seed, batch])
    out = []
    for i in range(n_queries):
        u = i / n_queries
        if u < ZIPF_SHARE:
            idx = rng.choice(len(vocab.zipf), size=int(rng.integers(1, 4)),
                             p=vocab.zipf_p)
            terms = [vocab.zipf[j] for j in idx]
        elif u < ZIPF_SHARE + NEGHOT_SHARE:
            terms = [vocab.hot[int(rng.integers(len(vocab.hot)))],
                     vocab.unique[int(rng.integers(len(vocab.unique)))]]
        else:
            idx = rng.choice(len(vocab.mid), size=int(rng.integers(2, 4)),
                             replace=False)
            terms = [vocab.mid[j] for j in idx]
        out.append((batch * n_queries + i, terms))
    return out


def adhoc_batch(vocab: Vocabulary, n_queries: int, seed: int,
                batch: int) -> list[tuple[int, list[str]]]:
    """Batch number ``batch`` (>= 0) of ad-hoc queries: 2 uniform
    mid-vocabulary identifiers each, fresh per batch, so a request mostly
    reads lists no earlier request read."""
    rng = np.random.default_rng([seed, batch, 1])
    return [(ADHOC_QID_BASE + batch * n_queries + i,
             [vocab.mid[j] for j in rng.choice(len(vocab.mid), size=2,
                                               replace=False)])
            for i in range(n_queries)]


def digest(rows, queries=()) -> str:
    """sha256 over the corpus rows and the queries, in order."""
    h = hashlib.sha256()
    for did, text in rows:
        h.update(f"{did}\x1e{text}\x1d".encode())
    for qid, terms in queries:
        h.update(f"{qid}\x1e{' '.join(terms)}\x1d".encode())
    return h.hexdigest()
