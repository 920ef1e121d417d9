"""The pair pass's doc grouper: scored unigram rows and one document row
per doc meet in ONE doc_id exchange, sorted (doc_id, term) with the
document row (NULL term) first, and a streaming ``mapInArrow`` cuts the
partition into whole docs across Arrow batch edges.

The Spark tests run at ``spark.sql.execution.arrow.maxRecordsPerBatch=1``
(every doc with a scored row straddles a batch edge) and at the default,
against the pure-Python oracle's pair lists. The JVM-free tests drive the
grouper with hand-cut batches: docs of 0, 1 and 2 tokens, a token-less
doc, and partitions that hold one side of the exchange only.
"""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import (
    HealthCheck, example, given, settings, strategies as st,
)

from candidategeneration_spark.build import (
    _PAIR_ARROW, PAIR_SEP, _pair_batch, _whole_groups, build_index,
    build_pair_postings_from_tokens, build_postings_from_tokens,
    global_stats_from_tokens, release_build_caches, score_postings,
    tokenize_docs,
)
from candidategeneration_spark.oracle import OracleIndex

VOCAB = ["aa", "bb", "cc", "dd", "ee"]
BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _oracle_pairs(oracle: OracleIndex) -> set:
    return {(t1 + PAIR_SEP + t2, did, oracle.unigram_score(t1, did),
             oracle.unigram_score(t2, did))
            for (t1, t2), dids in oracle.pair_docs.items() for did in dids}


def _spark_pairs(spark, texts, distance, parts):
    """build_pair_postings_from_tokens over a corpus of ``texts``, with
    the oracle of the same corpus."""
    rows = [(i * 7 + 3, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tokd = tokenize_docs(docs).cache()
    try:
        stats = global_stats_from_tokens(tokd)
        scored = score_postings(build_postings_from_tokens(tokd),
                                stats["n_docs"], stats["avgdl"])
        got = {(r["term"], r["doc_id"], r["s1"], r["s2"])
               for r in build_pair_postings_from_tokens(
                   tokd, scored, distance, num_partitions=parts).collect()}
    finally:
        tokd.unpersist()
    return got, OracleIndex(rows, distance)


@pytest.fixture(params=["1", None], ids=["batch1", "batch_default"])
def batch_size(spark, request):
    old = spark.conf.get(BATCH_KEY)
    if request.param:
        spark.conf.set(BATCH_KEY, request.param)
    yield request.param
    spark.conf.set(BATCH_KEY, old)


texts = st.lists(
    st.lists(st.sampled_from(VOCAB), max_size=7).map(" ".join),
    min_size=1, max_size=8)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(corpus=texts, distance=st.integers(1, 4),
       parts=st.sampled_from([1, 3, 16]))
@example(corpus=["", "aa"], distance=1, parts=1)  # avgdl floors to 0
def test_pair_exchange_matches_oracle(spark, batch_size, corpus, distance,
                                      parts):
    got, oracle = _spark_pairs(spark, corpus, distance, parts)
    assert got == _oracle_pairs(oracle)
    for t1, t2 in oracle.pair_docs:
        mine = sorted((d, s1 + s2) for t, d, s1, s2 in got
                      if t == t1 + PAIR_SEP + t2)
        assert mine == oracle.pair_postings(t1, t2)


def test_pair_exchange_edge_docs(spark, batch_size):
    """Docs of 0, 1 and 2 tokens, a doc of one repeated token, and more
    partitions than docs (most hold nothing, some one doc)."""
    corpus = ["", "aa", "aa bb", "cc cc cc", "", "dd ee aa"]
    got, oracle = _spark_pairs(spark, corpus, 3, 16)
    assert got == _oracle_pairs(oracle)
    assert {t for t, *_ in got} == {
        "aa\x1fbb", "aa\x1fdd", "aa\x1fee", "dd\x1fee"}


def test_pair_exchange_missing_scored_row_raises(spark, batch_size):
    docs = spark.createDataFrame([(1, "aa bb cc"), (2, "bb cc")],
                                 "doc_id long, text string")
    tokd = tokenize_docs(docs)
    stats = global_stats_from_tokens(tokd)
    scored = score_postings(build_postings_from_tokens(tokd),
                            stats["n_docs"], stats["avgdl"])
    pairs = build_pair_postings_from_tokens(
        tokd, scored.where("term != 'cc' OR doc_id != 1"), 2,
        num_partitions=2)
    with pytest.raises(Exception,
                       match="missing from the per-doc score map"):
        pairs.collect()


def test_dbigram_build_matches_oracle_at_batch_edges(spark, batch_size):
    """The in-memory build's pass-through kernel: every stored posting
    (unigram and pair) decodes to the oracle's."""
    from candidategeneration_spark.indexcodec import segment_from_row
    corpus = ["aa bb cc aa", "", "dd", "bb ee dd aa cc", "ee ee"]
    rows = [(i + 10, t) for i, t in enumerate(corpus)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    oracle = OracleIndex(rows, 3)
    seg, stats = build_index(docs, dbigram_distance=3)
    got = {}
    for r in seg.collect():
        dids, scores = segment_from_row(r).decode_ds()
        got[r["term"]] = list(zip(dids.tolist(), scores.tolist()))
    release_build_caches(stats)
    want = {t: [(d, s) for d, _, s in oracle.postings(t)]
            for t in oracle.df}
    want.update({t1 + PAIR_SEP + t2: oracle.pair_postings(t1, t2)
                 for t1, t2 in oracle.pair_docs})
    assert got == want


# --------------------------------------------------------------------------
# JVM-free: the grouper over hand-cut partitions
# --------------------------------------------------------------------------

def _scored_rows(doc_id, terms, scores):
    n = len(terms)
    return pa.record_batch({
        "doc_id": pa.array([doc_id] * n, pa.int64()),
        "term": pa.array(terms, pa.string()),
        "score_q": pa.array(scores, pa.int64()),
        "tf": pa.array([1] * n, pa.int64()),
        "__toks": pa.nulls(n, pa.list_(pa.string()))})


def _doc_row(doc_id, toks):
    return pa.record_batch({
        "doc_id": pa.array([doc_id], pa.int64()),
        "term": pa.nulls(1, pa.string()),
        "score_q": pa.nulls(1, pa.int64()),
        "tf": pa.nulls(1, pa.int64()),
        "__toks": pa.array([toks], pa.list_(pa.string()))})


def _run(batches, passthrough=False, distance=3):
    out = pa.Table.from_batches(
        [b for g in _whole_groups(iter(batches), "doc_id")
         for b in _pair_batch(g, distance, passthrough)],
        schema=_PAIR_ARROW)
    return sorted(zip(*(out.column(c).to_pylist() for c in
                        ("term", "doc_id", "tf", "s1", "s2", "score_q"))),
                  key=repr)


def _rows_split(batches, cut):
    """The partition's rows re-cut into batches of ``cut`` rows."""
    t = pa.Table.from_batches(batches).combine_chunks()
    return [t.slice(i, cut).to_batches()[0]
            for i in range(0, t.num_rows, cut)]


def test_grouper_one_side_only_partitions():
    # document rows only (token-less docs, and docs whose scored rows
    # are elsewhere): no pairs, nothing passed through
    only_docs = [_doc_row(1, []), _doc_row(2, ["aa"])]
    assert _run(only_docs, passthrough=True) == []
    # scored rows only: no document row, so no pairs; pass-through keeps
    # every row
    only_scored = [_scored_rows(5, ["aa", "bb"], [3, 4])]
    assert _run(only_scored) == []
    assert _run(only_scored, passthrough=True) == [
        ("aa", 5, 1, None, None, 3), ("bb", 5, 1, None, None, 4)]
    assert _run([]) == []


@pytest.mark.parametrize("cut", [1, 2, 3, 100])
def test_grouper_batch_edges(cut):
    part = [_doc_row(1, []),
            _doc_row(2, ["aa"]), _scored_rows(2, ["aa"], [5]),
            _doc_row(3, ["aa", "bb"]), _scored_rows(3, ["aa", "bb"], [1, 2]),
            _doc_row(4, ["cc", "aa", "cc"]),
            _scored_rows(4, ["aa", "cc"], [-7, 9])]
    want = [("aa\x1fbb", 3, 1, 1, 2, 3), ("aa\x1fcc", 4, 1, -7, 9, 2)]
    assert _run(_rows_split(part, cut)) == want
    through = _run(_rows_split(part, cut), passthrough=True)
    assert [r for r in through if r[3] is not None] == want
    assert [r[:2] for r in through if r[3] is None] == [
        ("aa", 2), ("aa", 3), ("aa", 4), ("bb", 3), ("cc", 4)]


def test_grouper_missing_and_duplicate_doc_rows_raise():
    missing = [_doc_row(1, ["aa", "zz"]), _scored_rows(1, ["aa"], [5])]
    with pytest.raises(ValueError, match="missing from the per-doc score"):
        _run(missing)
    token_less_map = [_doc_row(1, ["aa", "bb"])]
    with pytest.raises(ValueError, match="missing from the per-doc score"):
        _run(token_less_map)
    twice = [_doc_row(1, ["aa"]), _doc_row(1, ["bb"]),
             _scored_rows(1, ["aa", "bb"], [1, 2])]
    with pytest.raises(ValueError, match="more than one document row"):
        _run(twice)


def test_grouper_never_holds_more_than_a_batch_and_a_doc():
    """Whole docs leave the grouper as soon as a later doc starts: with
    one-row batches, every yielded group is exactly one doc."""
    part = [b for d in range(5) for b in (
        _doc_row(d, ["aa", "bb"]), _scored_rows(d, ["aa", "bb"], [d, 1]))]
    groups = list(_whole_groups(iter(_rows_split(part, 1)), "doc_id"))
    assert [np.unique(g.column("doc_id").to_numpy()).tolist()
            for g in groups] == [[d] for d in range(5)]
    assert [g.num_rows for g in groups] == [3] * 5
