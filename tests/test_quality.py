"""Quality-model training + greedy top-layer selection (SURVEY §2.9)."""

import pytest
from pyspark.sql import functions as F

from candidategeneration_spark import quality as Q
from candidategeneration_spark.build import (
    build_postings, global_stats, score_postings,
)
from candidategeneration_spark.queryengine import wand_topk
from candidategeneration_spark.build import build_index
from candidategeneration_spark.entrysql import QUERY_SET


@pytest.fixture(scope="module")
def scored(spark, docs_sf001):
    stats = global_stats(docs_sf001)
    p = build_postings(docs_sf001)
    return score_postings(p, stats["n_docs"], stats["avgdl"]).cache()


@pytest.fixture(scope="module")
def golden(spark, docs_sf001):
    """Exact top-10 per query, exploded per query term (the reference
    ground-truth model shape)."""
    segments, _ = build_index(docs_sf001, dbigram_distance=None)
    qdf = spark.createDataFrame([(q, list(t)) for q, t in QUERY_SET],
                                "qid long, terms array<string>")
    topk = wand_topk(segments, qdf, k=10)
    qterms = qdf.select("qid", F.explode("terms").alias("term"))
    return topk.join(qterms, "qid").select("qid", "term", "doc_id").cache()


def test_posting_positions_impact_ordered(scored):
    pos = Q.posting_positions(scored)
    rows = pos.where(F.col("term") == "the").orderBy("pos").collect()
    scores = [r["score_q"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    assert [r["pos"] for r in rows] == list(range(len(rows)))


def test_posting_positions_match_window_version(spark, scored):
    """The skew-safe range-partitioned rank assignment must be value-
    identical to the per-term window it replaced — including hot terms
    spanning many range partitions (num_partitions >> #terms forces every
    non-trivial list across partition boundaries)."""
    from pyspark.sql import Window
    w = Window.partitionBy("term").orderBy(F.desc("score_q"),
                                           F.asc("doc_id"))
    want = {(r["term"], r["doc_id"]): r["pos"] for r in
            scored.select("term", "doc_id",
                          (F.row_number().over(w) - 1).alias("pos"))
            .collect()}
    for nparts in (3, 64):
        got = {(r["term"], r["doc_id"]): r["pos"] for r in
               Q.posting_positions(scored, num_partitions=nparts)
               .select("term", "doc_id", "pos").collect()}
        assert got == want, f"nparts={nparts}"


def test_quality_matrix_shape(scored, golden):
    m = Q.quality_matrix(scored, golden)
    assert (m["hits"] <= m["accesses"]).all()
    assert m["hits"].sum() > 0
    assert (m["density"] <= 1.0).all()


def test_greedy_selection_and_recall(spark, scored, golden):
    m = Q.quality_matrix(scored, golden)
    total = scored.count()
    taken = Q.greedy_select_prefixes(scored, m, budget_postings=total // 3)
    assert taken and sum(taken.values()) <= total // 3
    layers = Q.extract_top_layers(scored, taken).cache()
    n_layers = layers.count()
    assert 0 < n_layers <= total // 3
    # budgeted approximate path: recall@10 vs exact engine
    qdf = spark.createDataFrame([(q, list(t)) for q, t in QUERY_SET],
                                "qid long, terms array<string>")
    exact = {(r["qid"], r["doc_id"])
             for r in golden.select("qid", "doc_id").distinct().collect()}

    def recall_of(prefix_lens):
        lay = Q.extract_top_layers(scored, prefix_lens)
        got = {(r["qid"], r["doc_id"])
               for r in Q.toplayer_topk(lay, qdf, k=10).collect()}
        return len(got & exact) / len(exact)

    model_recall = recall_of(taken)
    # baseline with the same budget spread uniformly (prefix ∝ list length)
    sizes = {r["term"]: int(r["n"])
             for r in scored.groupBy("term").agg(
                 F.count("*").alias("n")).collect()}
    naive = {t: max(1, n // 3) for t, n in sizes.items()}
    naive_recall = recall_of(naive)
    # the trained model must not lose to blind uniform truncation, and must
    # recover well over half the exact top-k at 1/3 the postings
    assert model_recall >= naive_recall - 0.05, \
        f"model {model_recall} < naive {naive_recall}"
    assert model_recall >= 0.35, f"recall {model_recall}"


def test_geometric_ranges_exact_partition():
    """Ranges must tile [0, max) with no gaps/overlaps, exact ints."""
    for base, start in ((Q.LEN_BASE, Q.LEN_START),
                        (Q.RANK_BASE, Q.RANK_START)):
        r = Q.geometric_ranges(base, start, 1 << 40)
        assert r[0][1] == 0
        for (b1, lo1, hi1), (b2, lo2, hi2) in zip(r, r[1:]):
            assert b2 == b1 + 1 and lo2 == hi1 and hi2 > lo2
        assert r[-1][2] > (1 << 40)
        assert all(isinstance(x, int) for row in r for x in row)


def test_hits_weights_monotone_exact():
    from candidategeneration_spark.sources.hitscsv import (
        HITS_SCALE, hits_weights,
    )
    w = hits_weights(64)
    assert w[0] == (1, HITS_SCALE)  # log2(1)+1 == 1
    vals = [x for _, x in w]
    assert vals == sorted(vals, reverse=True)
    assert all(isinstance(v, int) and v > 0 for v in vals)


# ---------------------------------------------------------------------------
# Q8 / X11 — online per-query greedy budget allocation (round 3)
# ---------------------------------------------------------------------------

def _reference_greedy(qlists, dens, budget):
    """Plain-Python reimplementation of the reference's online greedy
    (algo_toplayer.h:193-374 semantics as documented on
    Q.online_greedy_cutoffs): per query, walk each list's chunks in rank
    order while density > 0 and the chunk starts inside the depth; pool,
    sort by (value desc, term, rb), grant until budget with a partial
    remainder for the first overflow."""
    lenr = Q.geometric_ranges(Q.LEN_BASE, Q.LEN_START)
    rankr = Q.geometric_ranges(Q.RANK_BASE, Q.RANK_START)

    def lb_of(n):
        return next(b for b, lo, hi in lenr if lo <= n < hi)

    out = {}
    by_q = {}
    for qid, term, list_len, depth, weight in qlists:
        by_q.setdefault(qid, []).append((term, list_len, depth, weight))
    for qid, lists in by_q.items():
        cells = []
        for term, list_len, depth, weight in lists:
            lb = lb_of(list_len)
            for rb, lo, hi in rankr:
                if lo >= depth:
                    break
                d = dens.get((lb, rb), 0.0)
                if d <= 0:
                    break  # the reference's walk stops at the first 0 cell
                cells.append((d * weight, term, rb, min(hi, depth) - lo))
        cells.sort(key=lambda c: (-c[0], c[1], c[2]))
        spent = 0
        for value, term, rb, space in cells:
            g = max(0, min(space, budget - spent))
            spent += g
            if g:
                out[(qid, term)] = out.get((qid, term), 0) + g
    return out


@pytest.mark.parametrize("budget", [7, 40, 64, 10_000])
def test_online_greedy_cutoffs_match_reference_greedy(spark, budget):
    """Distributed Q8 == the driver-side reference greedy, including the
    Unify variant's x5 pair weighting, the first-zero-density walk stop,
    and the partial grant to the first overflowing cell."""
    matrix = spark.createDataFrame(
        [(1, 0, 100, 50), (1, 1, 100, 20), (1, 2, 100, 10),
         (4, 0, 200, 60), (4, 1, 200, 0), (4, 2, 200, 40),  # 0-cell stops walk
         (7, 0, 400, 30), (7, 1, 400, 30), (7, 2, 400, 15)],
        "lb int, rb int, accesses long, hits long")
    dens = {(r["lb"], r["rb"]): r["hits"] / r["accesses"]
            for r in matrix.collect()}
    qlists_rows = [
        # (qid, term, list_len, depth, weight): lb(4)=1, lb(7)=4, lb(10)=7
        # rank chunks: [0,11) [11,16) [16,22) [22,31) ...
        (0, "alpha", 4, 4, 1),
        (0, "beta", 7, 30, 1),
        (0, "al<|>be", 10, 25, 5),     # pair list, x5 weight
        (1, "gamma", 10, 60, 1),
        (1, "alpha", 4, 3, 1),
        (2, "delta", 7, 12, 1),
    ]
    qlists = spark.createDataFrame(
        qlists_rows,
        "qid long, term string, list_len long, depth long, weight int")
    got = {(r["qid"], r["term"]): r["cutoff"]
           for r in Q.online_greedy_cutoffs(qlists, matrix, budget).collect()}
    want = _reference_greedy(qlists_rows, dens, budget)
    assert got == want, f"budget={budget}: {got} != {want}"


def test_class_lens_x11_table(spark):
    """X11 — the class CASE must bucket by the reference boundaries and
    clamp to the list length."""
    bounds = (0, 5, 10, 50, 100, 250, 500, 1000, 10000, 1 << 40)
    nums = (12, 16, 20, 24, 28, 32, 36, 40, 44)
    rows = [(1,), (4,), (5,), (9,), (49,), (50,), (260,), (999,),
            (20_000,), (13,)]
    df = spark.createDataFrame(rows, "n long").withColumn(
        "depth", Q.class_lens(F.col("n"), bounds, nums))
    got = {r["n"]: r["depth"] for r in df.collect()}
    assert got == {1: 1, 4: 4, 5: 5, 9: 9, 49: 20, 50: 24, 260: 32,
                   999: 36, 20_000: 44, 13: 13}


def test_lm_doc_scores_hand_case(spark):
    """4-token corpus: cf(aa)=3, cf(bb)=1, total=4. Doc 0 = 'aa aa aa'
    (typical language, low NLL), doc 1 = 'bb' (rare, high NLL), doc 2
    empty. Quantization replayed with the same math.log."""
    import math
    docs = spark.createDataFrame([(0, "aa aa aa"), (1, "bb"), (2, "")],
                                 "doc_id long, text string")
    rows = {r["doc_id"]: r for r in Q.lm_doc_scores(docs).collect()}
    lp_aa = math.floor(Q.LM_LOG_SCALE * math.log(3 / 4))
    lp_bb = math.floor(Q.LM_LOG_SCALE * math.log(1 / 4))
    assert rows[0]["n_tokens"] == 3
    assert rows[0]["nll_q"] == (3 * -lp_aa) // 3
    assert rows[1]["nll_q"] == -lp_bb
    assert rows[0]["nll_q"] < rows[1]["nll_q"]  # rare text scores worse
    assert (rows[2]["n_tokens"], rows[2]["nll_q"]) == (0, 0)
