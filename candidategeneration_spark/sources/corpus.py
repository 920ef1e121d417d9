"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

The authoritative input shape from BASELINE.json input_hint:
``(repo, path, commit, lang, content)`` — an Iceberg-style table of source
files. This generator synthesizes it at any scale, distributed, with
content a pure function of ``(seed, doc_id)`` — NOT of partitioning — so
two runs at different parallelism produce byte-identical tables (the
scaling benchmark depends on this).

Statistical shape: zipf-distributed ~5k-token vocabulary + language
keywords (so hot d-bigrams like ``def __init__`` exist → term-frequency
skew in the encode shuffle), plus rare per-file unique identifiers
so every doc is distinguishable.

Replaces the reference's ClueWeb09 forward index + docInfo sidecar
(``utilsClass.java:46-80``, ``InvertedIndex.java:126-128``) as the corpus
source; ``content_sha`` is the per-row invariant column (sha256 equality,
input_hint).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

VOCAB_SIZE = 50_000  # web-realistic: mid/rare terms get positive IDF so
                     # block-max pruning has something to prune (a 5k vocab
                     # puts every term in ~all docs → all-negative IDF)
KEYWORDS = [
    "def", "class", "return", "import", "from", "for", "while", "if",
    "else", "try", "except", "lambda", "yield", "self", "init", "main",
    "void", "int", "string", "public", "static", "func", "var", "const",
]
LANGS = ["py", "java", "c", "js", "go", "md"]
LANG_WEIGHTS = np.array([0.35, 0.2, 0.15, 0.15, 0.1, 0.05])

_VOCAB = None
_CUMP = None


def _vocab():
    """Vocabulary + zipf CDF, built once per process."""
    global _VOCAB, _CUMP
    if _VOCAB is None:
        words = KEYWORDS + [f"ident{i:04d}" for i in range(VOCAB_SIZE)]
        ranks = np.arange(1, len(words) + 1, dtype=np.float64)
        p = 1.0 / ranks ** 1.1
        p /= p.sum()
        _VOCAB = np.array(words, dtype=object)
        _CUMP = np.cumsum(p)
    return _VOCAB, _CUMP


def _doc_content(doc_id: int, seed: int) -> tuple[str, str]:
    """(lang, content) for one doc — pure function of (seed, doc_id)."""
    rng = np.random.default_rng((seed << 40) ^ doc_id)
    vocab, cump = _vocab()
    lang = LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS))]
    n_lines = int(rng.integers(5, 40))
    lines = []
    for _ in range(n_lines):
        n_tok = int(rng.integers(3, 12))
        idx = np.searchsorted(cump, rng.random(n_tok))
        lines.append(" ".join(vocab[idx]))
    # rare unique identifiers: make every doc distinguishable / queryable.
    # NOTE: must survive the tokenizer ([a-z0-9.] only — underscores split!)
    lines.append(f"uniq{doc_id}tok rare{doc_id % 9973}mark")
    return lang, "\n".join(lines)


def generate_corpus(spark: SparkSession, n_docs: int,
                    seed: int = 42, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus: (doc_id, repo, path, commit, lang,
    content, content_sha)."""
    base = spark.range(0, n_docs, numPartitions=partitions)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["id"].to_numpy(np.int64):
                lang, content = _doc_content(int(did), seed)
                repo = f"org{did % 7}/repo{did % 53}"
                path = f"src/m{did % 17}/file_{did}.{lang}"
                commit = hashlib.sha1(
                    f"{repo}/{path}@{seed}".encode()).hexdigest()
                rows.append((int(did), repo, path, commit, lang, content))
            out = pd.DataFrame(rows, columns=[
                "doc_id", "repo", "path", "commit", "lang", "content"])
            yield out

    df = base.mapInPandas(
        gen, schema="doc_id long, repo string, path string, commit string,"
                    " lang string, content string")
    return df.withColumn("content_sha", F.sha2(F.col("content"), 256))


def doc_table(docs: DataFrame, text_col: str = "content") -> DataFrame:
    """Doc-metadata sidecar analogue (``docInfo.csv``): the index's claim of
    what it indexed — (doc_id, content_sha, doc_len)."""
    from ..tokenizer import tokens_col
    return docs.select(
        "doc_id", F.sha2(F.col(text_col), 256).alias("content_sha"),
        F.size(tokens_col(F.col(text_col))).cast("long").alias("doc_len"))


def check_content_invariant(source: DataFrame, claimed: DataFrame,
                            text_col: str = "content") -> int:
    """North-star per-row invariant: sha256(content) equality between the
    source table and what the index claims. Returns mismatch count (0 ok);
    full outer join also catches missing/extra docs."""
    src = source.select("doc_id",
                        F.sha2(F.col(text_col), 256).alias("src_sha"))
    j = src.join(claimed.select("doc_id", "content_sha"), "doc_id", "full")
    return j.where(
        F.col("src_sha").isNull() | F.col("content_sha").isNull()
        | (F.col("src_sha") != F.col("content_sha"))).count()
