"""End-to-end golden tests: Spark build + query vs pure-Python oracle
(SURVEY.md §5 rebuild strategy, items 2-3)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from candidategeneration_spark import build as B
from candidategeneration_spark import queryengine as Q
from candidategeneration_spark.indexcodec import segment_from_row
from candidategeneration_spark.oracle import OracleIndex

QUERIES = [
    (0, ["fast", "key"]),
    (1, ["order", "sort", "merge"]),
    (2, ["spark"]),
    (3, ["window", "hash", "join", "scan"]),
    (4, ["zzznotaterm"]),
    (5, ["stream", "zzznotaterm"]),
    (6, ["the"]),
    (7, ["batch", "batch", "dup"]),
]


@pytest.fixture(scope="module")
def corpus(docs_sf001):
    return [(int(r["doc_id"]), r["text"])
            for r in docs_sf001.select("doc_id", "text").collect()]


@pytest.fixture(scope="module")
def oracle(corpus):
    return OracleIndex(corpus, dbigram_distance=5)


@pytest.fixture(scope="module")
def built(spark, docs_sf001):
    segs, stats = B.build_index(docs_sf001, dbigram_distance=5)
    segs = segs.cache()
    segs.count()
    return segs, stats


def test_global_stats(built, oracle):
    _, stats = built
    assert stats["n_docs"] == oracle.n_docs
    assert stats["total_tokens"] == oracle.total_tokens
    assert stats["avgdl"] == oracle.avgdl


def test_unigram_postings_match_oracle(built, oracle):
    segs, _ = built
    some_terms = ["the", "fast", "spark", "order", "dup", "window"]
    rows = {r["term"]: r for r in
            segs.where(F.col("term").isin(some_terms)).collect()}
    for t in some_terms:
        expect = oracle.postings(t)
        assert t in rows, f"term {t} missing from index"
        seg = segment_from_row(rows[t])
        d, s, tf = seg.decode_all()
        exp_d = [e[0] for e in expect]
        exp_tf = [e[1] for e in expect]
        exp_s = [e[2] for e in expect]
        assert d.tolist() == exp_d
        assert tf.tolist() == exp_tf
        assert s.tolist() == exp_s
        assert seg.df == len(expect)


def test_pair_postings_match_oracle(built, oracle):
    segs, _ = built
    # pick a few pairs that actually occur
    pairs = sorted(oracle.pair_docs)[:3] + [("batch", "batch")]
    keys = [B.PAIR_SEP.join(p) for p in pairs[:3]]
    rows = {r["term"]: r for r in
            segs.where(F.col("term").isin(keys)).collect()}
    for (t1, t2), key in zip(pairs[:3], keys):
        expect = oracle.pair_postings(t1, t2)
        seg = segment_from_row(rows[key])
        d, s, _ = seg.decode_all()
        assert d.tolist() == [e[0] for e in expect]
        assert s.tolist() == [e[1] for e in expect]


def test_pair_segment_component_streams(built, oracle):
    """X2: stored pair segments carry SEPARATE component streams — the tf
    channel holds zigzag(s2) (pair tf is meaningless), so (did, s1, s2)
    reconstructs from the store: s2 = unzigzag(tf), s1 = score - s2."""
    from candidategeneration_spark.indexcodec import zigzag_decode
    segs, _ = built
    pairs = sorted(oracle.pair_docs)[:3]
    keys = [B.PAIR_SEP.join(p) for p in pairs]
    rows = {r["term"]: r for r in
            segs.where(F.col("term").isin(keys)).collect()}
    for (t1, t2), key in zip(pairs, keys):
        seg = segment_from_row(rows[key])
        d, s, tfz = seg.decode_all()
        s2 = zigzag_decode(tfz.astype(np.uint64))
        s1 = s - s2
        for did, a, b in zip(d.tolist(), s1.tolist(), s2.tolist()):
            assert a == oracle.unigram_score(t1, did)
            assert b == oracle.unigram_score(t2, did)


def test_df_and_block_invariants(built, oracle):
    segs, _ = built
    for r in segs.collect():
        seg = segment_from_row(r)
        d, s, _ = seg.decode_all()
        assert np.all(np.diff(d) > 0), r["term"]
        assert seg.df == d.shape[0]
        off = 0
        for i in range(seg.n_blocks):
            bd, bs, _ = seg.decode_block(i)
            assert bs.max() <= seg.block_max[i]
            assert bd[-1] == seg.block_last[i]
            off += 1


def _by_qid(rows) -> dict[int, list]:
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["qid"], r["rank"])):
        got.setdefault(r["qid"], []).append((r["doc_id"], r["score_q"]))
    return got


def test_topk_rank_identity(spark, built, oracle):
    """Engine == oracle, rank for rank, score for score."""
    segs, _ = built
    qdf = spark.createDataFrame(
        [(qid, terms) for qid, terms in QUERIES],
        "qid long, terms array<string>")
    got = _by_qid(Q.wand_topk(segs, qdf, k=10).collect())
    for qid, terms in QUERIES:
        expect = oracle.topk(terms, k=10)
        assert got.get(qid, []) == expect, \
            f"qid={qid}: {got.get(qid)} != {expect}"


def test_k_below_one_rejected_on_driver(spark, built):
    """k < 1 raises ValueError at the call, before any Spark job runs
    (the kernels' np.partition would otherwise fail inside a task)."""
    segs, _ = built
    qdf = spark.createDataFrame([(0, ["fast", "key"])],
                                "qid long, terms array<string>")
    prep = Q.prepare_index(segs, ["fast", "key"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    for call in (lambda: Q.wand_topk(segs, qdf, k=0),
                 lambda: Q.wand_topk(segs, qdf, k=0, mode="broadcast"),
                 lambda: Q.wand_topk_prepared(prep, qdf, k=0)):
        with pytest.raises(ValueError, match="k must be >= 1"):
            call()
    assert len(tracker.getJobIdsForGroup(None) or []) == before


def test_fast_build_identical_to_classic(spark, docs_sf001):
    """The fused single-shuffle path must produce byte-identical segments
    to the classic df-join + applyInPandas path."""
    from candidategeneration_spark.build import (
        build_postings, build_segments, build_segments_fast, global_stats,
        global_stats_from_postings, score_postings,
    )
    stats = global_stats(docs_sf001)
    postings = build_postings(docs_sf001).persist()
    stats2 = global_stats_from_postings(postings, docs_sf001.count())
    # the postings-derived stats additionally carry the exact posting
    # count (round 4: sizes the encode shuffle); the shared keys match
    assert stats == {k: v for k, v in stats2.items() if k != "n_postings"}
    assert stats2["n_postings"] == postings.count()
    classic = {r["term"]: r for r in build_segments(
        score_postings(postings, stats["n_docs"], stats["avgdl"])).collect()}
    fast = {r["term"]: r for r in build_segments_fast(
        postings, stats["n_docs"], stats["avgdl"]).collect()}
    assert set(classic) == set(fast)
    for t in classic:
        for f in ("df", "n_blocks", "block_max", "block_last"):
            assert classic[t][f] == fast[t][f], (t, f)
        for f in ("did_blob", "score_blob", "tf_blob"):
            assert bytes(classic[t][f]) == bytes(fast[t][f]), (t, f)


@pytest.mark.parametrize(
    "max_records,threshold",
    [(None, None), (1, None), (None, "-1"), (1, "-1")],
    ids=["batch_default", "batch_1", "forced_batch_default",
         "forced_batch_1"])
def test_broadcast_mode_matches_join_mode(spark, built, oracle, max_records,
                                          threshold):
    """Both physical query strategies must return identical results, in
    both join-mode shapes (segments broadcast under the default
    ``autoBroadcastJoinThreshold``; query terms broadcast and rows
    exchanged by qid at −1), also when every joined row is its own Arrow
    batch (``maxRecordsPerBatch`` 1): then each multi-term query's rows
    straddle a batch edge in join mode."""
    from candidategeneration_spark import plans
    segs, _ = built
    qdf = spark.createDataFrame(
        [(qid, terms) for qid, terms in QUERIES],
        "qid long, terms array<string>")
    confs = {"spark.sql.execution.arrow.maxRecordsPerBatch": max_records,
             "spark.sql.autoBroadcastJoinThreshold": threshold}
    old = {key: spark.conf.get(key, None) for key in confs}
    try:
        for key, value in confs.items():
            if value is not None:
                spark.conf.set(key, str(value))
        join = Q.wand_topk(segs, qdf, k=10, mode="join")
        exchanged = "hashpartitioning(qid" in plans.explain_str(join, "simple")
        assert exchanged == (threshold == "-1")
        a = _by_qid(join.collect())
        b = _by_qid(Q.wand_topk(segs, qdf, k=10, mode="broadcast").collect())
    finally:
        for key, value in old.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
    assert a == b and len(a) > 0
    for qid, terms in QUERIES:
        assert a.get(qid, []) == oracle.topk(terms, k=10), qid


def test_term_filter_semi_join(spark, docs_sf001):
    """T6/J2: broadcast filter-set pruning — only listed terms survive."""
    from candidategeneration_spark.build import build_postings
    keep = spark.createDataFrame([("fast",), ("key",)], "term string")
    filtered = build_postings(docs_sf001, term_filter=keep)
    got = {r["term"] for r in filtered.select("term").distinct().collect()}
    assert got <= {"fast", "key"} and got
    full = build_postings(docs_sf001)
    n_full = full.where(F.col("term").isin("fast", "key")).count()
    assert filtered.count() == n_full


def test_score_postings_pair_guard_fires_executor_side(spark, docs_sf001):
    """The unigrams-only guard is fused into the df aggregate (round 5 —
    no extra probe job): feeding pair rows must still raise, now at the
    first action that evaluates the scored rows."""
    from candidategeneration_spark.build import (
        PAIR_SEP, POSTINGS_SCHEMA, build_postings, global_stats,
        score_postings)
    stats = global_stats(docs_sf001)
    pairs = spark.createDataFrame(
        [(f"fast{PAIR_SEP}key", 1, 1, 7, 1),
         (f"alpha{PAIR_SEP}beta", 2, 1, 9, 2)], POSTINGS_SCHEMA)
    with_pairs = build_postings(docs_sf001).unionByName(pairs)
    bad = score_postings(with_pairs, stats["n_docs"], stats["avgdl"])
    with pytest.raises(Exception, match="unigrams only"):
        bad.collect()


def test_score_postings_runs_one_job(spark, docs_sf001):
    """Happy path: score_postings itself schedules ZERO jobs (the old
    eager isEmpty probe scanned every partition when no pair rows
    existed — one wasted job per build / per streaming micro-batch)."""
    from candidategeneration_spark.build import (
        build_postings, global_stats, score_postings)
    stats = global_stats(docs_sf001)
    postings = build_postings(docs_sf001)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    # building the plan must not launch anything
    scored = score_postings(postings, stats["n_docs"], stats["avgdl"])
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before
    assert scored.columns  # plan analyzes cleanly
