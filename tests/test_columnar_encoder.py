"""Differential + property tests for the columnar segment encoder.

Every stored segment row must be byte-identical to the per-term reference
encoder, :func:`indexcodec.encode_postings` + :func:`segment_to_row` —
at the kernel (``indexcodec.encode_groups``), at the batch level with
terms split across Arrow batches (``build._encode_stream``), and through
Spark's ``mapInArrow`` with a tiny ``maxRecordsPerBatch``."""

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from candidategeneration_spark import build as B
from candidategeneration_spark import indexcodec as ic
from candidategeneration_spark.bm25 import bm25_quantized_np

EDGE_SIZES = [1, 127, 128, 129, 256, 300]
SEG_COLS = [f.name for f in B.SEGMENT_SCHEMA.fields if f.name != "term"]


def _lists(sizes, seed):
    """One sorted posting list per size: (dids, scores, tfs) each, with
    negative scores (df > N/2 terms) among the positive ones."""
    rng = np.random.default_rng(seed)
    out = []
    for m in sizes:
        dids = np.sort(rng.choice(20 * m + 50, size=m, replace=False))
        out.append((dids.astype(np.int64),
                    rng.integers(-10**9, 10**9, size=m, dtype=np.int64),
                    rng.integers(1, 400, size=m, dtype=np.int64)))
    return out


def _reference(dids, scores, tfs) -> dict:
    return ic.segment_to_row(ic.encode_postings(dids, scores, tfs))


def _row(cols: dict, i: int) -> dict:
    return {k: cols[k][i].as_py() for k in SEG_COLS}


def _assert_groups_match(lists):
    starts = np.cumsum([0] + [len(d) for d, _, _ in lists[:-1]])
    cols = ic.encode_groups(*(np.concatenate(c) for c in zip(*lists)),
                            starts)
    assert len(cols["df"]) == len(lists)
    for g, (d, s, t) in enumerate(lists):
        assert _row(cols, g) == _reference(d, s, t), (g, len(d))


def test_encode_groups_edge_sizes_negative_scores():
    _assert_groups_match(_lists(EDGE_SIZES, seed=1))
    _assert_groups_match(_lists(EDGE_SIZES[::-1], seed=2))


@given(st.lists(st.integers(min_value=1, max_value=400), min_size=1,
                max_size=12),
       st.integers(min_value=0, max_value=2**31))
@settings(max_examples=120, deadline=None)
def test_encode_groups_property(sizes, seed):
    _assert_groups_match(_lists(sizes, seed))


def test_encode_groups_full_range_doc_ids():
    """Hashed docIDs span all of int64 (negative heads, gaps past 2^63):
    the stored gaps wrap mod 2^64 exactly like the per-term encoder's."""
    rng = np.random.default_rng(12)
    lists = []
    for m in EDGE_SIZES:
        dids = np.unique(rng.integers(-2**63, 2**63 - 1, size=m,
                                      dtype=np.int64))
        lists.append((dids, rng.integers(-10**9, 10**9, size=len(dids)),
                      rng.integers(1, 9, size=len(dids))))
    lists.append((np.array([-2**63, 2**63 - 1]), np.array([5, -5]),
                  np.array([1, 2])))
    _assert_groups_match(lists)


def test_encode_groups_rejects_unsorted_doc_ids():
    with pytest.raises(ValueError, match="strictly increasing"):
        ic.encode_groups(np.array([3, 3]), np.array([1, 2]),
                         np.array([1, 1]), np.array([0]))


def _postings_batches(lists, batch_rows, score_in):
    """Term-sorted postings of ``lists`` as Arrow batches of
    ``batch_rows`` rows (so long lists span batches), plus one empty
    batch at the front."""
    terms = np.repeat([f"t{g:03d}" for g in range(len(lists))],
                      [len(d) for d, _, _ in lists])
    dids, scores, tfs = (np.concatenate(c) for c in zip(*lists))
    cols = {"term": pa.array(terms.tolist(), pa.string()),
            "doc_id": pa.array(dids), "tf": pa.array(tfs)}
    if score_in:
        cols["score_q"] = pa.array(scores)
    else:
        rng = np.random.default_rng(5)
        cols["doc_len"] = pa.array(tfs + rng.integers(0, 50, tfs.shape[0]))
        cols["maxtf"] = pa.array(tfs + rng.integers(0, 3, tfs.shape[0]))
    table = pa.table(cols)
    empty = pa.RecordBatch.from_pylist([], schema=table.schema)
    return [empty] + table.to_batches(max_chunksize=batch_rows), table


@pytest.mark.parametrize("score_in", [True, False])
@pytest.mark.parametrize("batch_rows", [1, 7, 128, 10_000])
def test_encode_stream_across_batches(score_in, batch_rows):
    """Terms spanning any number of batch boundaries encode exactly as
    one whole list, in both score modes."""
    lists = _lists(EDGE_SIZES + [3, 1, 129], seed=9)
    batches, table = _postings_batches(lists, batch_rows, score_in)
    n_docs, avgdl = 5_000, 40
    out = pa.Table.from_batches(
        list(B._encode_stream(iter(batches), n_docs, avgdl, score_in)))
    assert out.column("term").to_pylist() == \
        [f"t{g:03d}" for g in range(len(lists))]
    pos = 0
    for g, (d, s, t) in enumerate(lists):
        m = len(d)
        if not score_in:
            part = table.slice(pos, m)
            s = bm25_quantized_np(t, part.column("maxtf").to_numpy(),
                                  np.full(m, m),
                                  part.column("doc_len").to_numpy(),
                                  n_docs, avgdl)
        got = {k: out.column(k)[g].as_py() for k in SEG_COLS}
        assert got == _reference(d, s, t), (g, m)
        pos += m


def test_encode_stream_empty_partition():
    assert list(B._encode_stream(iter([]), 0, 0, True)) == []


@pytest.fixture
def tiny_arrow_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    yield
    spark.conf.set(key, old)


def test_spark_encoders_match_reference(spark, tiny_arrow_batches):
    """build_segments (pre-scored) and build_segments_fast (BM25 in the
    kernel) through mapInArrow with 5-row batches, most of the 16 encode
    partitions empty: every row equals the per-term reference."""
    lists = _lists(EDGE_SIZES + [2], seed=4)
    names = [f"t{g}" for g in range(len(lists))]
    rows = []
    for name, (d, s, t) in zip(names, lists):
        rows += [(name, int(a), int(b), int(c), int(c) + 7, int(c) + 1)
                 for a, b, c in zip(d, s, t)]
    df = spark.createDataFrame(
        rows, "term string, doc_id long, score_q long, tf long, "
              "doc_len long, maxtf long")
    n_docs, avgdl = 9_000, 30
    scored = {r["term"]: r.asDict() for r in B.build_segments(df).collect()}
    fast = {r["term"]: r.asDict() for r in
            B.build_segments_fast(df, n_docs, avgdl).collect()}
    assert set(scored) == set(fast) == set(names)
    for name, (d, s, t) in zip(names, lists):
        got = {k: scored[name][k] for k in SEG_COLS}
        assert got == _reference(d, s, t), name
        s_fast = bm25_quantized_np(t, t + 1, np.full(len(d), len(d)),
                                   t + 7, n_docs, avgdl)
        got = {k: fast[name][k] for k in SEG_COLS}
        assert got == _reference(d, s_fast, t), name


def test_spark_encoder_empty_input(spark):
    empty = spark.createDataFrame(
        [], "term string, doc_id long, tf long, score_q long")
    assert B.build_segments(empty).collect() == []
