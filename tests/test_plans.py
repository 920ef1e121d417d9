"""Physical-plan assertions for the headline pipelines (SURVEY.md §4):
pushdown/pruning/broadcast/codegen must actually appear in the optimized
plans, not just be assumed. These are the sandbox stand-ins for 100 TB plan
reviews — a scan reading unpruned columns fails here instead of on a
cluster bill."""

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from candidategeneration_spark import plans  # noqa: E402
from candidategeneration_spark.build import build_postings  # noqa: E402
from candidategeneration_spark.queryengine import wand_topk  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


def test_tokenize_scan_prunes_columns(spark):
    """The postings pipeline must read ONLY (doc_id, text) from the corpus
    parquet — tokenization cannot drag lang/source/n_chars into the scan."""
    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    postings = build_postings(docs, text_col="text")
    plans.assert_columns_pruned(postings, {"doc_id", "text"})


def test_filter_pushdown_reaches_scan(spark):
    docs = spark.read.parquet(f"{TESTDATA}/sf0.001/documents.parquet")
    q = docs.where(F.col("lang") == "en").select("doc_id")
    plans.assert_pushed_filter(q, "lang")
    plans.assert_columns_pruned(q, {"doc_id", "lang"})


def test_query_join_is_broadcast_not_shuffle(spark, docs_sf001):
    """wand_topk joins segments × query terms: one side broadcasts (the
    segments when Catalyst sizes them under
    ``spark.sql.autoBroadcastJoinThreshold``, else the tiny query side);
    the segment table must never move through a SortMergeJoin."""
    from candidategeneration_spark.build import build_index
    segments, _ = build_index(docs_sf001, dbigram_distance=None)
    qdf = spark.createDataFrame([(0, ["fast", "key"])],
                                "qid long, terms array<string>")
    res = wand_topk(segments, qdf, k=5)
    plans.assert_broadcast_join(res)
    plans.assert_no_shuffle_join_of(res, "SortMergeJoin")


def test_small_join_has_no_qid_exchange(spark, docs_sf001, tmp_path):
    """Join mode on a segment side sized under the broadcast threshold
    broadcasts the segments and streams the queries: no qid exchange and
    no sort, so the batch runs in two jobs. At a threshold of -1 the
    segments stay put and the matched rows are exchanged by qid."""
    from candidategeneration_spark.build import build_index
    from candidategeneration_spark.sources import segmentstore as S
    segments, _ = build_index(docs_sf001, dbigram_distance=None)
    S.save_segments(segments, str(tmp_path / "store"), n_buckets=8)
    segments = S.load_segments(spark, str(tmp_path / "store"))
    qdf = spark.createDataFrame([(0, ["fast", "key"]), (1, ["spark"])],
                                "qid long, terms array<string>")
    key = "spark.sql.autoBroadcastJoinThreshold"
    assert 0 <= plans.size_in_bytes_stat(segments) <= 10 << 20
    try:
        small = plans.explain_str(wand_topk(segments, qdf, k=5), "simple")
        spark.conf.set(key, "-1")
        forced = plans.explain_str(wand_topk(segments, qdf, k=5), "simple")
    finally:
        spark.conf.unset(key)
    assert "BroadcastHashJoin" in small, small
    assert "hashpartitioning(qid" not in small, small
    assert "Sort [" not in small, small
    assert "hashpartitioning(qid" in forced, forced


def test_term_dictionary_no_global_window(spark, docs_sf001):
    """Dictionary id assignment must not contain a partition-less Window
    (single-task sort of the whole vocabulary) nor a 1-partition exchange;
    ids must still equal the global dense rank by term."""
    from candidategeneration_spark import textops
    dt = textops.doc_tokens(docs_sf001)
    d = textops.term_dictionary(dt)
    plan = plans.explain_str(d, "simple")
    assert "Window" not in plan, f"global window in dictionary plan:\n{plan}"
    assert "SinglePartition" not in plan, \
        f"single-partition exchange in dictionary plan:\n{plan}"
    got = {r["term"]: r["tid"] for r in d.collect()}
    terms = sorted(got)
    assert [got[t] for t in terms] == list(range(1, len(terms) + 1))


def test_relational_agg_uses_codegen(spark):
    """The relational surface must stay inside whole-stage codegen (JVM),
    not fall back to interpreted row processing."""
    from candidategeneration_spark.relops import pricing_summary
    df = pricing_summary(spark, f"{TESTDATA}/sf0.001")
    plans.assert_wholestage_codegen(df)
    plans.assert_columns_pruned(df, {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_shipdate"})


def test_dim_join_broadcasts(spark):
    from candidategeneration_spark.relops import top_orders
    df = top_orders(spark, f"{TESTDATA}/sf0.001")
    plans.assert_broadcast_join(df)


def test_pair_budget_semi_join_broadcasts(spark, docs_sf001):
    """build_pair_postings_budget: the needed-terms prune must be a
    broadcast semi join (the scored table never SortMergeJoins against
    the tiny pair-derived term set). Asserted on the prune stage itself —
    posting_positions eagerly localCheckpoints downstream, which truncates
    lineage so the final pair plan no longer SHOWS the prune join even
    though it always runs."""
    from candidategeneration_spark.build import (
        build_pair_postings_budget, build_postings,
        global_stats_from_postings, pair_needed_terms_prune,
        score_postings,
    )
    p = build_postings(docs_sf001)
    st = global_stats_from_postings(p, docs_sf001.count())
    scored = score_postings(p, st["n_docs"], st["avgdl"])
    pairs = spark.createDataFrame([("fast", "key"), ("data", "query")],
                                  "t1 string, t2 string")
    pre = pair_needed_terms_prune(scored, pairs)
    plans.assert_broadcast_join(pre)
    plan = plans.explain_str(pre, "simple")
    assert "SortMergeJoin" not in plan, \
        f"needed-terms prune must not shuffle the postings:\n{plan}"
    # full pipeline: the side joins of budget-bounded prefixes x pair set
    # may legally shuffle at scale (the reference's pair universe is ~11M
    # pairs), but an all-pairs nested-loop join is never acceptable
    bp = build_pair_postings_budget(scored, pairs, 16)
    plans.assert_no_shuffle_join_of(bp, "BroadcastNestedLoopJoin")
    plans.assert_no_shuffle_join_of(bp, "CartesianProduct")


def test_near_dup_band_join_is_equi_join(spark):
    """near_dup_pairs: the band self-join (the piece that must scale) has
    to be a hash/sort equi-join on (band, bkey) — a CartesianProduct or
    BroadcastNestedLoopJoin between the two signature sides would be the
    all-pairs plan the banding exists to avoid."""
    from candidategeneration_spark import annops
    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    nd = annops.near_dup_pairs(emb)
    plan = plans.explain_str(nd)
    assert "CartesianProduct" not in plan, plan
    import re
    # an equi-join on the band keys must exist (any hash/sort flavor)
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin",
                     plan), plan
    # nested-loop joins may appear ONLY as the broadcast of the tiny bands
    # range (4 rows) — i.e. every one must be a BroadcastNestedLoopJoin,
    # never a plain NestedLoopJoin over the two signature sides
    assert "NestedLoopJoin" not in plan.replace(
        "BroadcastNestedLoopJoin", ""), plan


def test_online_greedy_windows_are_per_query(spark, docs_sf001):
    """Q8: every window in the online-greedy plan must be partitioned (by
    qid / (qid, term) / term) — an empty PARTITION BY would serialize the
    query batch through one task at scale."""
    from candidategeneration_spark import quality as Q
    from candidategeneration_spark.build import (
        build_postings, global_stats, score_postings,
    )
    st = global_stats(docs_sf001)
    scored = score_postings(build_postings(docs_sf001),
                            st["n_docs"], st["avgdl"])
    qdf = spark.createDataFrame([(0, ["fast", "key"])],
                                "qid long, terms array<string>")
    golden = Q.golden_topk(scored, qdf, k=5)
    gt = golden.join(qdf.select("qid", F.explode("terms").alias("term")),
                     "qid").select("term", "doc_id")
    df = Q.online_greedy_topk(scored, qdf, gt, budget=64, k=5)
    plan = plans.explain_str(df, mode="extended")
    import re
    # 'windowspecdefinition(...)' lists partition columns FIRST; in an
    # unpartitioned window the first argument is a sort spec
    # ('col ASC/DESC ...'). Assert every window in the plan partitions.
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert specs, "expected windows in the Q8 plan"
    for first_arg in specs:
        assert " ASC" not in first_arg and " DESC" not in first_arg, \
            f"unpartitioned window in Q8 plan: {first_arg}"


def test_pq_scoring_join_is_broadcast_equi_join(spark):
    """PQ/ADC and IVF-PQ: the per-candidate scoring join (code table ×
    ADC table) must be a broadcast hash equi-join, and the corpus side
    must never enter a CartesianProduct — the only nested-loop joins
    allowed are the broadcast of the tiny centroid/plane tables that the
    deterministic k-means needs."""
    from candidategeneration_spark import annops
    emb = spark.read.parquet(f"{TESTDATA}/sf0.001/embeddings.parquet")
    for df in (annops.pq_adc_topk(emb), annops.ivfpq_topk(emb)):
        plan = plans.explain_str(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        assert "NestedLoopJoin" not in plan.replace(
            "BroadcastNestedLoopJoin", ""), plan


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Two tables bucketed+sorted on the join key must join with NO
    Exchange and NO Sort — the write-once/join-many co-location that
    replaces per-run shuffles of the big side at scale."""
    from candidategeneration_spark.sources import bucketed
    a = spark.range(2000).select(F.col("id").alias("doc_id"),
                                 (F.col("id") * 2).alias("x"))
    b = spark.range(2000).select(F.col("id").alias("doc_id"),
                                 (F.col("id") * 3).alias("y"))
    try:
        bucketed.save_bucketed(a, "bt_a", str(tmp_path / "bt_a"),
                               "doc_id", n_buckets=8)
        bucketed.save_bucketed(b, "bt_b", str(tmp_path / "bt_b"),
                               "doc_id", n_buckets=8)
        j = bucketed.bucketed_join(spark, "bt_a", "bt_b", "doc_id")
        plan = plans.explain_str(j, "simple")
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        assert j.count() == 2000
        # with the sorted-scan flag, the write-time sortBy also removes
        # the per-task Sort (off by default since Spark 3.0: reading
        # every bucket sorted forces one task per bucket, which caps
        # scan parallelism — the flag is a deliberate trade)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        try:
            plan2 = plans.explain_str(
                bucketed.bucketed_join(spark, "bt_a", "bt_b", "doc_id"),
                "simple")
            assert "Sort " not in plan2.replace("SortMergeJoin", ""), plan2
        finally:
            spark.conf.set(
                "spark.sql.legacy.bucketedTableScan.outputOrdering",
                "false")
    finally:
        spark.sql("DROP TABLE IF EXISTS bt_a")
        spark.sql("DROP TABLE IF EXISTS bt_b")


def test_build_stages_sized_to_data(spark):
    """The d-bigram build sizes its Python stages from their data. On a
    200-doc corpus that arrives in 4 partitions the tokenize mapInArrow
    is coalesced to 1 task, and the df aggregate's reduce stage (which
    runs the idf UDF) to 1 partition, with the map-side partial counts
    still ahead of its exchange. At a posting count worth
    spark.sql.shuffle.partitions tasks or more, or with broadcast joins
    disabled, the score plan is the unsized one: no Coalesce, no extra
    exchange (a coalesced term table would be shuffled again for a
    sort-merge join)."""
    from candidategeneration_spark.build import (
        HINTED_POSTINGS_PER_ENCODE_TASK, build_index, build_postings,
        release_build_caches, score_postings,
    )
    from candidategeneration_spark.sources.corpus import generate_corpus
    docs = generate_corpus(spark, 200, seed=42, partitions=4).cache()
    assert docs.rdd.getNumPartitions() == 4
    seg, stats = build_index(docs, text_col="content", dbigram_distance=3)
    tokd, = stats["cached"]
    assert tokd.rdd.getNumPartitions() == 1
    idf_branch = plans.explain_str(seg, "simple").split(
        "ArrowEvalPython", 1)[1]
    assert "Coalesce 1" in idf_branch.split("HashAggregate", 1)[0], \
        idf_branch

    postings = build_postings(docs, text_col="content")  # 4 partitions
    n_docs, avgdl = stats["n_docs"], stats["avgdl"]

    def plan(n_postings):
        return plans.explain_str(score_postings(
            postings, n_docs, avgdl, n_postings=n_postings), "simple")

    sized = plan(stats["n_postings"])
    order = [sized.index(op) for op in (
        "Coalesce 1", "functions=[count(1)]", "Exchange hashpartitioning(term",
        "functions=[partial_count(1)]")]
    assert order == sorted(order), sized
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    big, unsized = plan(n_parts * HINTED_POSTINGS_PER_ENCODE_TASK), plan(None)
    assert "Coalesce" not in big and \
        big.count("Exchange") == unsized.count("Exchange"), big
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        smj, unsized = plan(stats["n_postings"]), plan(None)
        assert "Coalesce" not in smj and \
            smj.count("Exchange") == unsized.count("Exchange"), smj
    finally:
        spark.conf.set(key, old)
    release_build_caches(stats)
    docs.unpersist()


def _build_jobs(spark, docs, distance):
    """One ``build_index`` + ``count()`` of its segments in one job group
    → (segments, stats, the group's job ids)."""
    from candidategeneration_spark.build import build_index
    sc = spark.sparkContext
    group = f"build-jobs-{distance}"
    sc.setJobGroup(group, "one build")
    try:
        seg, stats = build_index(docs, text_col="content",
                                 dbigram_distance=distance)
        seg.count()
        return seg, stats, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_dbigram_build_pairs_over_one_doc_exchange(spark):
    """The in-memory d-bigram build groups each doc's scored unigrams and
    tokens through ONE doc_id exchange: no per-doc score map (no
    collect_list aggregate, no sort-merge join), and the pair kernel
    passes the unigram rows through, so the only Union is the exchange's
    input and the token table is the one persisted intermediate. One
    build + count stays at 7 jobs on a 200-doc corpus (13 with the score
    map join and three persisted tables)."""
    from candidategeneration_spark.build import (
        TOKENS_SCHEMA, release_build_caches,
    )
    from candidategeneration_spark.sources.corpus import generate_corpus
    docs = generate_corpus(spark, 200, seed=42).cache()
    docs.count()
    seg, stats, jobs = _build_jobs(spark, docs, 5)
    plan = plans.explain_str(seg, "simple")
    assert plan.count("Exchange hashpartitioning(doc_id") == 1, plan
    for op in ("collect_list", "SortMergeJoin"):
        assert op not in plan, plan
    assert plan.count("Union") == 1, plan
    assert "+- Union" in plan.split("Exchange hashpartitioning(doc_id")[1] \
        .split("\n")[1], plan
    tokd, = stats["cached"]
    assert tokd.columns == TOKENS_SCHEMA.fieldNames()
    assert len(jobs) <= 7, jobs
    release_build_caches(stats)
    docs.unpersist()


def test_unigram_build_reads_one_token_table(spark):
    """The in-memory unigram build runs the same prologue as the d-bigram
    one: the token table is its one persisted intermediate, n_docs comes
    from the stats job over it, and no corpus count job runs. One build +
    count stays at 5 jobs on a 200-doc corpus."""
    from candidategeneration_spark.build import (
        TOKENS_SCHEMA, release_build_caches,
    )
    from candidategeneration_spark.sources.corpus import generate_corpus
    docs = generate_corpus(spark, 200, seed=42).cache()
    docs.count()
    seg, stats, jobs = _build_jobs(spark, docs, None)
    tokd, = stats["cached"]
    assert tokd.columns == TOKENS_SCHEMA.fieldNames()
    assert stats["n_docs"] == 200
    assert len(jobs) <= 5, jobs
    release_build_caches(stats)
    docs.unpersist()


def _exec_nodes(spark, plan) -> list[str]:
    """Node names of an executed physical plan, through AQE query stages
    and reused exchanges; a cached table's plan is walked once per cache,
    however many scans read it (the plan string repeats it per scan)."""
    jvm = spark.sparkContext._jvm
    out, seen = [], set()

    def walk(node):
        cls = node.getClass().getSimpleName()
        out.append(node.nodeName())
        if cls == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if cls.endswith("QueryStageExec"):
            return walk(node.plan())
        if cls == "ReusedExchangeExec":
            return walk(node.child())
        if cls == "InMemoryTableScanExec":
            rel = node.relation()
            key = jvm.java.lang.System.identityHashCode(rel.cacheBuilder())
            if key not in seen:
                seen.add(key)
                walk(rel.cachedPlan())
            return
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))
    walk(plan)
    return out


def test_pair_gates_tokenize_once(spark, tmp_path):
    """The d-bigram gates (postings_dbigram, pair_streams,
    lm_probabilities) share one cached token table: the executed plan
    runs one tokenize MapInArrow and the pair kernel, not a tokenize per
    reader of the table. The corpus is read from a private copy, so no
    table another test left cached can stand in for part of the plan."""
    import shutil
    import __spark_entry__ as entrymod
    from candidategeneration_spark import entries
    shutil.copy(f"{TESTDATA}/sf0.001/documents.parquet",
                tmp_path / "documents.parquet")
    df = entrymod.queries()["postings_dbigram"](spark, str(tmp_path))
    df.collect()
    nodes = _exec_nodes(spark, df._jdf.queryExecution().executedPlan())
    entries._release_prior_gate_caches()
    assert nodes.count("MapInArrow") == 2, nodes
    assert "InMemoryTableScan" in nodes, nodes
