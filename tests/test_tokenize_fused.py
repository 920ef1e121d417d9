"""The fused tokenize+tf pass: ``tokenize_docs`` emits per-doc tokens AND
term frequencies in one ``mapInArrow`` pass, and the unigram postings are
a JVM explode of it. Both must agree with a plain pandas per-doc tf
kernel (``_explode_tf_from_toks`` below), the reference of this file."""

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


def _explode_tf_from_toks(ids, toks: pd.Series) -> pd.DataFrame:
    """Reference per-doc tf kernel: one (term, doc_id, tf, doc_len, maxtf)
    row per distinct (doc, term), by pandas groupby over the exploded
    tokens. Token-less docs yield no rows."""
    lens = toks.map(len).to_numpy(dtype=np.int64)
    doc_ids = np.asarray(ids, dtype=np.int64)
    if lens.sum() == 0:
        return pd.DataFrame(
            {"term": pd.Series([], dtype=object),
             "doc_id": pd.Series([], dtype=np.int64),
             "tf": pd.Series([], dtype=np.int64),
             "doc_len": pd.Series([], dtype=np.int64),
             "maxtf": pd.Series([], dtype=np.int64)})
    flat_terms = np.concatenate(
        [np.asarray(t, dtype=object) for t in toks if len(t)])
    flat_docs = np.repeat(doc_ids, lens)
    edf = pd.DataFrame({"doc_id": flat_docs, "term": flat_terms})
    tf = (edf.groupby(["doc_id", "term"], sort=False)
             .size().rename("tf").reset_index())
    per_doc = tf.groupby("doc_id", sort=False)["tf"].max().rename("maxtf")
    doclen = pd.Series(lens, index=doc_ids, name="doc_len")
    tf = tf.merge(per_doc, left_on="doc_id", right_index=True)
    tf = tf.merge(doclen, left_on="doc_id", right_index=True)
    return tf[["term", "doc_id", "tf", "doc_len", "maxtf"]]


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
        want = _per_doc(_explode_tf_from_toks(ids, toks))
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
    """The Spark postings (the explode of a ``tokenize_docs`` table, and
    ``build_postings`` on the corpus) equal the reference kernel's rows
    computed on the driver."""
    rows = [(i * 3 + 11, t) for i, t in enumerate(TEXTS)] + \
        [(100 + i, " ".join(f"w{(i * j) % 17}" for j in range(40)))
         for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    ids = [r[0] for r in rows]
    for sw in (None, STOPWORDS_WEB):
        toks = tokenize_pandas(pd.Series([r[1] for r in rows]), sw)
        want = sorted(
            (t, int(d), int(f), int(n), int(m)) for t, d, f, n, m in
            _explode_tf_from_toks(ids, toks).itertuples(index=False))
        assert len(want) > 0
        tokd = B.tokenize_docs(docs, stopwords=sw, input_partitions=3)
        assert tokd.count() == docs.count()
        fused = B.build_postings_from_tokens(tokd)
        assert fused.schema == B.POSTINGS_SCHEMA
        assert sorted(map(tuple, fused.collect())) == want
        text = B.build_postings(docs, stopwords=sw)
        assert sorted(map(tuple, text.collect())) == want
