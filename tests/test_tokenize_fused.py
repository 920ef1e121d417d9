"""The fused tokenize+tf pass: ``tokenize_docs`` emits per-doc tokens AND
term frequencies in one ``mapInArrow`` pass, and the unigram postings are
a JVM explode of it. Both must agree with the per-doc tf kernel of the
text path (``_explode_tf_from_toks``, behind ``build_postings``)."""

import numpy as np
import pandas as pd
import pyarrow as pa

from candidategeneration_spark import build as B
from candidategeneration_spark.tokenizer import STOPWORDS_WEB, tokenize_pandas

TEXTS = [
    "alpha beta alpha Alpha beta gamma alpha",    # repeated, mixed case
    "",                                            # empty doc
    "a b c ! ? -- x",                              # only sub-2-char tokens
    "the cat and the dog and THE bird",            # stopwords
    "foo.bar(baz) foo.bar qux_quux 42 42 42",      # dotted ids, numbers
    "İstanbul naïve café K",                       # non-ASCII strip-first
    "the and of",                                  # stopwords only
    "single",
]


def _per_doc(df: pd.DataFrame) -> dict:
    """doc_id -> ({term: tf}, doc_len, maxtf) from exploded postings."""
    out = {}
    for did, g in df.groupby("doc_id"):
        out[int(did)] = (dict(zip(g["term"], g["tf"].astype(int))),
                         int(g["doc_len"].iloc[0]), int(g["maxtf"].iloc[0]))
    return out


def _fused(ids, texts, stopwords):
    batch = pa.RecordBatch.from_arrays(
        [pa.array(ids, pa.int64()), pa.array(texts, pa.string())],
        names=["doc_id", "__text"])
    return B._tokenize_tf_batch(batch, stopwords).to_pylist()


def test_fused_batch_matches_explode_tf():
    ids = np.arange(len(TEXTS), dtype=np.int64) * 3 + 11
    for sw in (None, STOPWORDS_WEB):
        toks = tokenize_pandas(pd.Series(TEXTS), sw)
        want = _per_doc(B._explode_tf_from_toks(ids, toks))
        rows = _fused(ids, TEXTS, sw)
        assert [r["doc_id"] for r in rows] == ids.tolist()
        for r, t in zip(rows, toks):
            assert r["toks"] == list(t)
            assert len(r["terms"]) == len(set(r["terms"]))
            if not r["terms"]:
                # token-less docs keep their row, with nothing to explode
                assert (r["doc_len"], r["maxtf"], r["tfs"]) == (0, 0, [])
                assert r["doc_id"] not in want
                continue
            got = (dict(zip(r["terms"], r["tfs"])), r["doc_len"],
                   r["maxtf"])
            assert got == want[r["doc_id"]], r["doc_id"]


def test_fused_batch_all_empty():
    rows = _fused([1, 2], ["", "! ?"], None)
    assert [(r["toks"], r["terms"], r["tfs"], r["doc_len"], r["maxtf"])
            for r in rows] == [([], [], [], 0, 0)] * 2


def test_postings_from_tokens_equal_build_postings(spark):
    docs = spark.createDataFrame(
        [(i * 3 + 11, t) for i, t in enumerate(TEXTS)] +
        [(100 + i, " ".join(f"w{(i * j) % 17}" for j in range(40)))
         for i in range(30)],
        "doc_id long, text string")
    for sw in (None, STOPWORDS_WEB):
        tokd = B.tokenize_docs(docs, stopwords=sw, input_partitions=3)
        assert tokd.count() == docs.count()
        fused = B.build_postings_from_tokens(tokd)
        assert fused.schema == B.POSTINGS_SCHEMA
        text = B.build_postings(docs, stopwords=sw)
        got = sorted(map(tuple, fused.collect()))
        assert got == sorted(map(tuple, text.collect()))
        assert len(got) > 0
