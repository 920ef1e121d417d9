"""BM25 arithmetic identity across implementations + tokenizer contract."""

import duckdb
import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st


from candidategeneration_spark import bm25
from candidategeneration_spark.tokenizer import (
    dbigram_pairs, tokenize_pandas, tokenize_text, tokens_col,
)


@given(
    tf=st.integers(1, 100),
    maxtf_extra=st.integers(0, 100),
    df=st.integers(1, 10_000),
    doc_len=st.integers(1, 5_000),
    n_docs=st.integers(1, 1_000_000),
    avgdl=st.integers(1, 5_000),
)
@settings(max_examples=300, deadline=None)
def test_scalar_vs_numpy(tf, maxtf_extra, df, doc_len, n_docs, avgdl):
    df = min(df, n_docs)
    maxtf = tf + maxtf_extra
    a = bm25.bm25_quantized_scalar(tf, maxtf, df, doc_len, n_docs, avgdl)
    b = bm25.bm25_quantized_np([tf], [maxtf], [df], [doc_len], n_docs, avgdl)[0]
    assert a == int(b)


def test_scalar_vs_duckdb_sql():
    rng = np.random.default_rng(42)
    n_docs, avgdl = 50_000, 37
    rows = []
    for _ in range(500):
        tf = int(rng.integers(1, 60))
        maxtf = tf + int(rng.integers(0, 60))
        df = int(rng.integers(1, n_docs))
        dl = int(rng.integers(1, 2000))
        rows.append((tf, maxtf, df, dl,
                     bm25.bm25_quantized_scalar(tf, maxtf, df, dl,
                                                n_docs, avgdl)))
    pdf = pd.DataFrame(rows, columns=["tf", "maxtf", "df", "dl", "expect"])
    expr = bm25.bm25_sql("tf", "maxtf", "df", "dl", str(n_docs), str(avgdl))
    got = duckdb.sql(f"SELECT {expr} AS s FROM pdf").df()["s"]
    assert (got.to_numpy() == pdf["expect"].to_numpy()).all()


def test_spark_column_matches_scalar(spark):
    """Production column path: idf precomputed via idf_col (glibc log),
    everything else JVM codegen — must equal the scalar oracle bit-for-bit."""
    rows = [(tf, tf + m, df, dl)
            for tf in (1, 3, 17) for m in (0, 5) for df in (1, 9, 400)
            for dl in (3, 128, 999)]
    n_docs, avgdl = 1000, 53
    sdf = spark.createDataFrame(rows, "tf long, maxtf long, df long, dl long")
    got = sdf.withColumn("idf", bm25.idf_col(sdf.df, n_docs)).select(
        "tf", "maxtf", "df", "dl",
        bm25.bm25_quantized_col("tf", "maxtf", "dl", "idf", avgdl).alias("s")
    ).collect()
    for r in got:
        assert r["s"] == bm25.bm25_quantized_scalar(
            r["tf"], r["maxtf"], r["df"], r["dl"], n_docs, avgdl)


def test_zero_avgdl_scores_zero(spark):
    """Fewer kept tokens than docs floors avgdl to 0: the reference's
    double division by it is +Infinity, so every score is 0 — in each
    implementation, none of which may raise."""
    rows = [(1, 1, 1, 1), (2, 3, 1, 4), (1, 2, 5, 2)]
    n_docs = 7
    for tf, maxtf, df, dl in rows:
        assert bm25.bm25_quantized_scalar(tf, maxtf, df, dl, n_docs, 0) == 0
    tf, maxtf, df, dl = (list(c) for c in zip(*rows))
    got = bm25.bm25_quantized_np(tf, maxtf, df, dl, n_docs, 0)
    assert got.dtype == np.int64 and got.tolist() == [0, 0, 0]
    sdf = spark.createDataFrame(rows, "tf long, maxtf long, df long, dl long")
    got = sdf.withColumn("idf", bm25.idf_col(sdf.df, n_docs)).select(
        bm25.bm25_quantized_col("tf", "maxtf", "dl", "idf", 0).alias("s")
    ).collect()
    assert [r["s"] for r in got] == [0, 0, 0]
    # the DuckDB oracle's BM25, at avgdl 0 and at avgdl >= 1
    pdf = pd.DataFrame(rows, columns=["tf", "maxtf", "df", "dl"])
    for avgdl in (0, 1, 3):
        sql = bm25.bm25_sql("tf", "maxtf", "df", "dl", str(n_docs),
                            str(avgdl))
        got = duckdb.sql(f"SELECT {sql} AS s FROM pdf").df()["s"].tolist()
        assert got == [bm25.bm25_quantized_scalar(*r, n_docs, avgdl)
                       for r in rows], avgdl


def test_idf_bitwise_matches_duckdb_ln():
    """The ONLY inexact op in the scorer is ln; our idf (CPython math.log →
    glibc) must be BITWISE equal to DuckDB's ln over a wide df domain —
    the round-1 bm25_topk hash flake was a 1-ulp log divergence."""
    n_docs = 123_457
    dfs = np.unique(np.concatenate([
        np.arange(1, 2000, dtype=np.int64),
        np.int64(1) << np.arange(1, 17),
        np.array([n_docs // 2, n_docs - 1, n_docs], dtype=np.int64),
    ]))
    ours = bm25.idf_np(dfs, n_docs)
    pdf = pd.DataFrame({"df": dfs})
    got = duckdb.sql(
        f"SELECT ln((CAST({n_docs} AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
        " / (CAST(df AS DOUBLE) + 0.5)) AS idf FROM pdf ORDER BY df"
    ).df()["idf"].to_numpy()
    assert ours.tobytes() == got.tobytes()


def test_np_vs_duckdb_full_expression():
    rng = np.random.default_rng(7)
    n_docs, avgdl = 200_000, 41
    n = 5000
    tf = rng.integers(1, 80, n)
    maxtf = tf + rng.integers(0, 80, n)
    df = rng.integers(1, n_docs, n)
    dl = rng.integers(1, 4000, n)
    ours = bm25.bm25_quantized_np(tf, maxtf, df, dl, n_docs, avgdl)
    pdf = pd.DataFrame({"tf": tf, "maxtf": maxtf, "df": df, "dl": dl})
    expr = bm25.bm25_sql("tf", "maxtf", "df", "dl", str(n_docs), str(avgdl))
    got = duckdb.sql(f"SELECT {expr} AS s FROM pdf").df()["s"].to_numpy()
    assert (ours == got).all()


def test_tokenizer_paths_agree(spark):
    texts = [
        "Hello, World! x1 y z.z  Foo_bar BAZ.qux a 42 ..",
        "", "   ", "a b c", "def __init__(self): return self.x",
        "the the the quick-brown fox",
    ]
    py = [tokenize_text(t) for t in texts]
    pdres = tokenize_pandas(pd.Series(texts)).tolist()
    assert py == pdres
    sdf = spark.createDataFrame([(t,) for t in texts], "text string")
    jvm = [r[0] for r in sdf.select(tokens_col(sdf.text)).collect()]
    assert py == jvm


def test_stopword_option_all_paths(spark):
    """T2: stopword filtering is an option on every tokenizer path with
    identical output; default (None) keeps everything >= MIN_TOKEN_LEN."""
    from candidategeneration_spark.tokenizer import STOPWORDS_WEB
    texts = ["The quick fox and the lazy dog", "def foo(self): return this",
             "", "and and and"]
    sw = STOPWORDS_WEB
    py = [tokenize_text(t, sw) for t in texts]
    assert py[0] == ["quick", "fox", "lazy", "dog"]
    assert py[3] == []
    assert tokenize_pandas(pd.Series(texts), sw).tolist() == py
    sdf = spark.createDataFrame([(t,) for t in texts], "text string")
    jvm = [r[0] for r in sdf.select(tokens_col(sdf.text, sw)).collect()]
    assert jvm == py
    # default None unchanged
    assert "the" in tokenize_text(texts[0])


def test_stopword_option_build(spark):
    from candidategeneration_spark.build import build_postings
    docs = spark.createDataFrame(
        [(0, "the cat and the hat"), (1, "cat hat cat")],
        "doc_id long, text string")
    rows = build_postings(docs, stopwords={"the", "and"}).collect()
    terms = {r["term"] for r in rows}
    assert terms == {"cat", "hat"}
    # doc_len counts KEPT tokens only (stopwords removed before stats)
    dl = {r["doc_id"]: r["doc_len"] for r in rows}
    assert dl == {0: 2, 1: 3}


def test_dbigram_windows():
    toks = "a1 b1 c1 d1 e1 f1 g1".split()
    pairs = dbigram_pairs(toks, distance=2)
    assert ("a1", "b1") in pairs and ("a1", "c1") in pairs
    assert ("a1", "d1") not in pairs  # beyond window
    # self pairs excluded, ordering ascending
    assert all(a < b for a, b in pairs)
    assert dbigram_pairs(["x9", "x9"], 5) == []
    # dedup across windows
    assert dbigram_pairs("p q p q".split(), 5).count(("p", "q")) == 1
