"""Quality-model training + greedy index-prefix selection (offline
"optimizer of the index itself") — parity with SURVEY.md §2.9 Q1-Q7.

The reference trains a quality model by scanning the final index and
recording at which *impact-ordered position* ground-truth docs appear
(``NewQualityModel.java:88-195``), buckets (position, list length) into a
geometric 2-D histogram (``Selection.java:33-55``), then greedily selects
posting-list prefix chunks under a byte budget
(``NewGreedySelection.java:26-89``) and rewrites the index keeping those
ranges (``SelectChuncks.java:16-62``). The selected prefixes are the
query-time "top layers" (``algo_toplayer.cpp:393-474``).

Spark re-expression: positions = one window (row_number over score desc);
the histogram = one groupBy over bucket exprs collected to the driver (it
is tiny); selection = driver-side Python heap; chunk extraction = a filter
on posting position + re-encode. Exact top-k in this engine comes from
Block-Max WAND — the top layers here are the *approximate budgeted*
candidate path kept for reference parity, and tests measure its recall
against the exact engine rather than asserting rank identity.
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from .tokenizer import tokens_col

# geometric bucket parameters (Selection.java:33-55 semantics: length
# buckets grow x1.1 from 4, rank buckets x1.4 from 11)
LEN_BASE, LEN_START = 1.1, 4.0
RANK_BASE, RANK_START = 1.4, 11.0


def len_bucket(col):
    """floor(log_{1.1}(max(len,start)/start)) — geometric list-length bucket."""
    x = F.greatest(col.cast("double"), F.lit(LEN_START))
    return F.floor(F.log(x / F.lit(LEN_START)) / math.log(LEN_BASE)) \
        .cast("int")


def rank_bucket(col):
    x = F.greatest(col.cast("double") + 1, F.lit(RANK_START))
    return F.floor(F.log(x / F.lit(RANK_START)) / math.log(RANK_BASE)) \
        .cast("int")


def geometric_ranges(base: float, start: float,
                     max_val: int = 1 << 40) -> list[tuple[int, int, int]]:
    """Exact-integer bucket ranges [(bucket, lo, hi)), hi exclusive] for the
    reference's geometric buckets (``Selection.java:33-55``): bucket 0 is
    [0, ceil(start)), bucket b>0 is [ceil(start*base^(b-1)), ceil(start*base^b)).

    Edges are materialized as Python ints ONCE and embedded identically in
    the Spark plan and the DuckDB oracle SQL — no runtime ``log`` on either
    side, so bucket assignment can never diverge on float ulps.
    """
    edges = [0]
    b = 0
    while edges[-1] <= max_val:
        e = math.ceil(start * base ** b)
        if e > edges[-1]:
            edges.append(e)
        b += 1
    return [(i, lo, hi) for i, (lo, hi) in
            enumerate(zip(edges[:-1], edges[1:]))]


def _ranges_df(spark, name: str, ranges: list[tuple[int, int, int]]):
    return spark.createDataFrame(
        ranges, f"{name} int, {name}_lo long, {name}_hi long")


def golden_topk(scored: DataFrame, queries: DataFrame, k: int = 10
                ) -> DataFrame:
    """Exact (qid, doc_id) ground truth: top-k docs per query by summed
    quantized score — the complex-ranker top-k role
    (``NestedQueryTrace.java:93-103``), computed from our own exact scorer."""
    qterms = queries.select("qid", F.explode("terms").alias("term")).distinct()
    agg = (scored.join(F.broadcast(qterms), "term")
           .groupBy("qid", "doc_id").agg(F.sum("score_q").alias("s")))
    w = Window.partitionBy("qid").orderBy(F.desc("s"), F.asc("doc_id"))
    return (agg.withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= k).select("qid", "doc_id"))


def quality_matrix_df(scored: DataFrame, golden_terms: DataFrame
                      ) -> DataFrame:
    """Distributed quality-model histogram → (lb, rb, accesses, hits).

    Q4/Q5 parity (``NewQualityModel.java:148-195``): every posting lands in
    a (list-length bucket, impact-rank bucket) cell; ``hits`` counts the
    cells' postings whose (term, doc_id) appears in the ground truth,
    ``accesses`` counts all. Bucket edges are exact ints (geometric_ranges).
    The result is tiny (≤ ~200×55 cells) — the driver-side greedy selector
    consumes it directly.
    """
    spark = scored.sparkSession
    # skew-safe impact positions (no per-term global window — see
    # posting_positions): a hot list never lands in one task
    pos = posting_positions(scored).select(
        "term", "doc_id", F.col("df").alias("list_len"), "pos")
    lenr = _ranges_df(spark, "lb", geometric_ranges(LEN_BASE, LEN_START))
    rankr = _ranges_df(spark, "rb", geometric_ranges(RANK_BASE, RANK_START))
    pos = (pos.join(F.broadcast(lenr),
                    (F.col("list_len") >= F.col("lb_lo")) &
                    (F.col("list_len") < F.col("lb_hi")))
           .join(F.broadcast(rankr),
                 (F.col("pos") >= F.col("rb_lo")) &
                 (F.col("pos") < F.col("rb_hi"))))
    g = golden_terms.select("term", "doc_id").distinct()
    hits = (pos.join(g, ["term", "doc_id"])
            .groupBy("lb", "rb").agg(F.count("*").alias("hits")))
    acc = pos.groupBy("lb", "rb").agg(F.count("*").alias("accesses"))
    return (acc.join(hits, ["lb", "rb"], "left")
            .select("lb", "rb", F.col("accesses").cast("long"),
                    F.coalesce(F.col("hits"), F.lit(0)).cast("long")
                     .alias("hits")))


def posting_positions(scored: DataFrame,
                      num_partitions: int | None = None) -> DataFrame:
    """input columns + ``pos``: 0-based impact-order rank within each term —
    score desc, doc_id asc tie-break (the reference's in-list
    BM25-descending order, WWW.java:211-247).

    SKEW-SAFE (round 3): the old ``row_number().over(partitionBy(term))``
    put a hot list (df ≈ N at 100× corpus scale) in ONE task. Same cure as
    textops.term_dictionary: ``repartitionByRange`` on the full
    impact order (term, score desc, doc_id) + per-partition sort, then a
    two-job rank assignment — job 1 collects per-partition boundary-term
    counts (≤ 2 tiny rows per partition: in a range-sorted layout only a
    partition's FIRST term can continue from an earlier partition, so
    offsets exist only for first terms), the driver prefix-sums them, job 2
    tags rows with offset + local rank via ``mapInPandas``. Byte-identical
    to the window version (asserted in tests) — the order is total, so
    positions are independent of where the sampled range boundaries fall —
    while no task ever holds more than its range slice of a hot list.
    """
    import numpy as np
    from pyspark.sql.types import LongType

    spark = scored.sparkSession
    sc = spark.sparkContext
    if num_partitions is None:
        num_partitions = sc.defaultParallelism * 4
    order = [F.col("term").asc(), F.col("score_q").desc(),
             F.col("doc_id").asc()]
    # eager localCheckpoint: the boundary job and the tag job must see the
    # SAME sampled range boundaries, and unlike a bare persist() the
    # blocks are garbage-collected with the DataFrame instead of pinning a
    # postings-sized cache entry per call in a long-lived session (the
    # gate-loop leak class). The trade is lineage truncation.
    part = scored.repartitionByRange(num_partitions, *order) \
                 .sortWithinPartitions(*order).localCheckpoint(eager=True)

    def boundary(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        first_term, n_first = None, 0
        tail_term, tail_n = None, 0
        for pdf in batches:
            if not len(pdf):
                continue
            t = pdf["term"].to_numpy()
            if first_term is None:
                first_term = t[0]
            n_first += int((t == first_term).sum())
            bt = t[-1]
            if bt == tail_term:
                # sorted: a batch whose last term equals the previous tail
                # is entirely that term
                tail_n += len(t)
            else:
                tail_term, tail_n = bt, int((t == bt).sum())
        rows = []
        if first_term is not None:
            rows.append((pid, first_term, n_first, True))
            if tail_term != first_term:
                rows.append((pid, tail_term, tail_n, False))
        yield pd.DataFrame(rows, columns=["pid", "term", "n", "first"])

    meta = part.select("term").mapInPandas(
        boundary, schema="pid int, term string, n long, first boolean") \
        .collect()
    # offset of partition p's first term = rows of that term in pids < p
    by_term: dict[str, list[tuple[int, int]]] = {}
    firsts: dict[int, str] = {}
    for r in meta:
        by_term.setdefault(r["term"], []).append((int(r["pid"]),
                                                  int(r["n"])))
        if r["first"]:
            firsts[int(r["pid"])] = r["term"]
    offsets: dict[int, tuple[str, int]] = {}
    for pid, ft in firsts.items():
        base = sum(n for (q, n) in by_term.get(ft, []) if q < pid)
        if base:
            offsets[pid] = (ft, base)
    bc = sc.broadcast(offsets)
    # fresh StructType: .add() would MUTATE part's live schema object
    from pyspark.sql.types import StructField, StructType
    out_schema = StructType(list(part.schema.fields)
                            + [StructField("pos", LongType())])

    def tag(batches):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        ft, base = bc.value.get(pid, (None, 0))
        prev_term, carry = None, 0
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            t = pdf["term"].to_numpy()
            changes = np.r_[True, t[1:] != t[:-1]]
            group_firsts = np.flatnonzero(changes)
            gid = np.cumsum(changes.astype(np.int64)) - 1
            local = np.arange(n, dtype=np.int64) - group_firsts[gid]
            if prev_term is not None and t[0] == prev_term:
                local[gid == 0] += carry
            elif prev_term is None and ft is not None:
                # the partition's first term continues from earlier
                # partitions; later batches inherit the base via carry
                local[t == ft] += base
            out = pdf.copy()
            out["pos"] = local
            carry = int(local[-1]) + 1
            prev_term = t[-1]
            yield out

    return part.mapInPandas(tag, schema=out_schema)


def access_map(queries: DataFrame) -> DataFrame:
    """A5 — the access map (``getAccessMap``, ``Metadata.java:153-169``;
    ``uniquePairs``, ``Extra.java:27-42``): for every augmented term
    (query unigram or term 2-combination — Q2's "total" form,
    ``agumentedQueryTrace``, ``Metadata.java:236-262``), the number of
    queries whose augmented form contains it. The reference trains its
    budget model on these counts; standalone here (round 3 — previously
    folded into the quality-matrix accesses column).

    ``queries``: (qid, terms array<string>). Returns (aguterm, n_queries)
    with pair keys packed ``t1<SEP>t2`` like the segment store. Pure
    aggregation: explode + self-equi-join on qid (queries are
    bounded-length, the join is per-qid quadratic in |terms| ≤ ~10) +
    one groupBy count — scales to any trace length.
    """
    from .build import PAIR_SEP
    uni = queries.select("qid", F.explode(F.array_distinct("terms"))
                         .alias("term"))
    a = uni.select("qid", F.col("term").alias("t1"))
    b = uni.select("qid", F.col("term").alias("t2"))
    pairs = (a.join(b, "qid").where(F.col("t1") < F.col("t2"))
             .select("qid", F.concat_ws(PAIR_SEP, "t1", "t2")
                     .alias("term")))
    return (uni.select("qid", "term").unionByName(pairs)
            .groupBy("term").agg(F.count("*").cast("long")
                                 .alias("n_queries")))


def quality_matrix(scored: DataFrame, golden: DataFrame) -> pd.DataFrame:
    """2-D histogram: for each (len_bucket, rank_bucket), hits = golden-doc
    postings landing there; accesses = all postings there (Q4/Q5).

    ``golden`` = (qid, doc_id) ground truth with a `term` column per query
    term (the exploded reference model, NestedQueryTrace.java:72-137)."""
    pos = posting_positions(scored)
    df = scored.groupBy("term").agg(F.count("*").alias("list_len"))
    pos = pos.join(df, "term") \
        .withColumn("lb", len_bucket(F.col("list_len"))) \
        .withColumn("rb", rank_bucket(F.col("pos")))
    hits = (pos.join(golden.select("term", "doc_id").distinct(),
                     ["term", "doc_id"])
            .groupBy("lb", "rb").agg(F.count("*").alias("hits")))
    acc = pos.groupBy("lb", "rb").agg(F.count("*").alias("accesses"))
    m = (acc.join(hits, ["lb", "rb"], "left")
         .fillna(0, subset=["hits"])
         .orderBy("lb", "rb").toPandas())
    m["density"] = m["hits"] / m["accesses"].clip(lower=1)
    return m


def greedy_select_prefixes(scored: DataFrame, matrix: pd.DataFrame,
                           budget_postings: int) -> dict[str, int]:
    """Driver-side greedy: allocate prefix depths per list, highest
    (density per posting) first, until the posting budget is exhausted
    (NewGreedySelection.java:26-89 semantics, posting- not byte-budget).

    TEST-ONLY PARITY TWIN: this collects per-term list lengths to the
    driver (O(vocabulary) memory — fine for an item-level oracle, wrong
    at 100 TB). Every gate and production path uses the fully distributed
    :func:`cell_greedy_prefixes` instead; the only caller of this
    function is tests/test_quality.py, which asserts the two agree.

    Returns {term: prefix_len}."""
    lists = scored.groupBy("term").agg(F.count("*").alias("n")).collect()
    dens = {(int(r["lb"]), int(r["rb"])): float(r["density"])
            for _, r in matrix.iterrows()}

    def lb_of(n):
        return int(math.floor(math.log(max(n, LEN_START) / LEN_START)
                              / math.log(LEN_BASE)))

    def rank_edges(n):
        edges, hi = [], 0
        b = 0
        while hi < n:
            nxt = int(math.ceil(RANK_START * RANK_BASE ** (b + 1))) - 1
            edges.append((hi, min(nxt, n)))
            hi = nxt
            b += 1
        return edges

    heap = []
    for r in lists:
        term, n = r["term"], int(r["n"])
        lb = lb_of(n)
        for bi, (lo, hi) in enumerate(rank_edges(n)):
            d = dens.get((lb, bi), 0.0)
            # chunks must be taken in order per list → encode chunk index;
            # negative density for a min-heap
            heap.append((-d, term, bi, lo, hi))
    heapq.heapify(heap)
    taken: dict[str, int] = {}
    next_chunk: dict[str, int] = {}
    spent = 0
    deferred: list = []
    while heap and spent < budget_postings:
        negd, term, bi, lo, hi = heapq.heappop(heap)
        if next_chunk.get(term, 0) != bi:
            deferred.append((negd, term, bi, lo, hi))
            continue
        size = hi - lo
        if spent + size > budget_postings:
            continue
        taken[term] = hi
        next_chunk[term] = bi + 1
        spent += size
        # chunks unblocked by this selection re-enter consideration
        if deferred:
            for item in deferred:
                heapq.heappush(heap, item)
            deferred = []
    return taken


def cell_greedy_prefixes(scored: DataFrame, golden_terms: DataFrame,
                         budget_postings: int) -> DataFrame:
    """Quality-model-driven budget selection, fully distributed AND
    SQL-expressible → (term, keep) prefix depths.

    The reference's greedy scores each candidate chunk by its quality-model
    CELL density and admits chunks under a global budget with a per-list
    in-order constraint (``NewGreedySelection.java:26-89``: chunk x of a
    term scores ``model[y][x][0]``, a (bucket, chunk) cell lookup). This is
    that selection at cell granularity:

    1. matrix cells (lb, rb) ranked by density = hits/accesses desc
       (ties: lb, rb — deterministic);
    2. running Σ accesses over that order; a cell is selected while the
       running total ≤ budget;
    3. a term (length-bucket lb) keeps chunk rb iff ALL its cells (lb, 0..rb)
       are selected (the reference's chunks-in-order constraint) —
       keep = hi edge of the last contiguous selected chunk, clamped to df.

    Everything is integer arithmetic except the density ORDERING — a single
    IEEE int/int division, bit-identical across engines (no libm) — so the
    DuckDB oracle (entrysql.sql_toplayer_topk) replays the selection
    exactly. All windows are tiny (matrix cells) or per-term (≤ ~40 chunk
    rows) — nothing global. ``greedy_select_prefixes`` above is the
    driver-side item-level variant kept for API parity; this is the gate
    path (Q6 → Q7 → X1)."""
    spark = scored.sparkSession
    matrix = quality_matrix_df(scored, golden_terms)
    dens = matrix.withColumn(
        "density", F.col("hits").cast("double") / F.col("accesses").cast("double"))
    wcum = Window.orderBy(F.desc("density"), F.asc("lb"), F.asc("rb")) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sel = (dens.withColumn("cum", F.sum("accesses").over(wcum))
           .where(F.col("cum") <= budget_postings)
           .select("lb", "rb", F.lit(1).alias("sel")))
    lenr = _ranges_df(spark, "lb", geometric_ranges(LEN_BASE, LEN_START))
    rankr = _ranges_df(spark, "rb", geometric_ranges(RANK_BASE, RANK_START))
    tl = (scored.groupBy("term").agg(F.count("*").alias("df"))
          .join(F.broadcast(lenr),
                (F.col("df") >= F.col("lb_lo")) & (F.col("df") < F.col("lb_hi")))
          .select("term", "df", "lb"))
    chunks = (tl.join(F.broadcast(rankr), F.col("rb_lo") < F.col("df"))
              .join(F.broadcast(sel), ["lb", "rb"], "left")
              .select("term", "df", "rb", "rb_hi",
                      F.coalesce("sel", F.lit(0)).alias("s")))
    wok = Window.partitionBy("term").orderBy("rb") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keep = (chunks.withColumn("ok", F.min("s").over(wok))
            .groupBy("term")
            .agg(F.max(F.when(F.col("ok") == 1,
                              F.least(F.col("rb_hi"), F.col("df")))
                       .otherwise(F.lit(0))).alias("keep"))
            .where(F.col("keep") > 0))
    return keep


def extract_top_layers_df(scored: DataFrame, keep: DataFrame) -> DataFrame:
    """Chunk extraction (Q7/SelectChuncks.java:16-62) from a (term, keep)
    DataFrame: each list's impact-ordered prefix of depth ``keep``."""
    pos = posting_positions(scored)
    return (pos.join(F.broadcast(keep), "term")
            .where(F.col("pos") < F.col("keep"))
            .select("term", "doc_id", "score_q"))


def extract_top_layers(scored: DataFrame, prefix_lens: dict[str, int]
                       ) -> DataFrame:
    """Rewrite: keep only each list's selected impact-ordered prefix
    (SelectChuncks.java:16-62 analogue). Output postings shape."""
    spark = scored.sparkSession
    sel = spark.createDataFrame(
        [(t, n) for t, n in prefix_lens.items()], "term string, keep long")
    pos = posting_positions(scored)
    return (pos.join(F.broadcast(sel), "term")
            .where(F.col("pos") < F.col("keep"))
            .select("term", "doc_id", "score_q"))


# ---------------------------------------------------------------------------
# Q8 / X11 — per-QUERY online budget allocation (round 3)
# ---------------------------------------------------------------------------

# X11 — class-based lookup budgets (``algo_toplayer.h:142-143``;
# ``get_lens_for_selectionlookups``, ``algo_toplayer.cpp:1339-1349``): a
# list's available lookup depth is a constant per list-length class. The
# reference's chosen config: 9 classes, 3000 postings each (its commented
# alternatives vary per class — the API below takes arbitrary tables).
CLASS_BOUNDARIES: tuple[int, ...] = (0, 5000, 10000, 50000, 100000,
                                     250000, 500000, 1000000, 10000000,
                                     1 << 40)
CLASS_NUMS: tuple[int, ...] = (3000,) * 9


def class_lens(list_len_col, boundaries: tuple[int, ...] = CLASS_BOUNDARIES,
               nums: tuple[int, ...] = CLASS_NUMS):
    """X11 as a column expression: list length → class → budgeted depth
    (clamped to the list length). Pure integer CASE — the DuckDB oracle
    embeds the identical table (entrysql._class_case)."""
    assert len(nums) == len(boundaries) - 1
    # highest-boundary-first so the first matching WHEN wins
    expr = None
    for lo, n in zip(boundaries[-2::-1], nums[::-1]):
        w = (list_len_col >= F.lit(int(lo)))
        expr = F.when(w, F.lit(int(n))) if expr is None \
            else expr.when(w, F.lit(int(n)))
    return F.least(list_len_col, expr.otherwise(F.lit(int(nums[0]))))


def online_greedy_cutoffs(qlists: DataFrame, matrix: DataFrame,
                          budget: int) -> DataFrame:
    """Q8 — the reference's ONLINE greedy depth selection, per query
    (``onlineGreedyDepthSelectionAlgorithm[Unify]``,
    ``algo_toplayer.h:193-374``, invoked ``algo_toplayer.cpp:176-178``):

    for each of the query's lists, walk its rank-chunk cells in order
    while the trained model's cell density is non-zero and the chunk
    starts inside the list's available depth (the reference's
    ``model[bucket][col] != 0 && depths[i] >= boundary[col]`` walk;
    the last chunk is partial if the depth falls inside it); pool ALL
    cells of the query, sort by model value descending (the Unify
    variant weights pair-list cells ×5 — pass ``weight``), and grant
    each cell its space in that order until ``budget`` is exhausted —
    the first overflowing cell receives exactly the remainder. A
    list's cutoff is the sum of its granted spaces.

    ``qlists``: (qid, term, list_len, depth[, weight]) — one row per
    candidate list per query; ``depth`` is the available top-layer
    depth (e.g. X11 ``class_lens`` or a trained Q6 selection).
    ``matrix``: (lb, rb, accesses, hits) from quality_matrix_df.
    Returns (qid, term, cutoff) with cutoff > 0.

    Scale shape: every window is partitioned by (qid[, term]) — cells
    per query ≤ |terms| × ~40 chunks — and the dimension joins are
    broadcast. Nothing global; scales with the query trace. The only
    float is the density int/int division (and the exact ×5 weight),
    IEEE-identical in the DuckDB oracle (sql_online_greedy_topk)."""
    spark = qlists.sparkSession
    lenr = _ranges_df(spark, "lb", geometric_ranges(LEN_BASE, LEN_START))
    rankr = _ranges_df(spark, "rb", geometric_ranges(RANK_BASE, RANK_START))
    dens = matrix.select(
        "lb", "rb",
        (F.col("hits").cast("double") / F.col("accesses").cast("double"))
        .alias("density"))
    weight = F.col("weight") if "weight" in qlists.columns else F.lit(1)
    cells = (qlists.withColumn("w", weight.cast("double"))
             .join(F.broadcast(lenr),
                   (F.col("list_len") >= F.col("lb_lo")) &
                   (F.col("list_len") < F.col("lb_hi")))
             .join(F.broadcast(rankr), F.col("rb_lo") < F.col("depth"))
             .join(F.broadcast(dens), ["lb", "rb"], "left"))
    walk = Window.partitionBy("qid", "term").orderBy("rb") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells = (cells
             .withColumn("alive", F.min(
                 F.when(F.coalesce("density", F.lit(0.0)) > 0, 1)
                 .otherwise(0)).over(walk))
             .where(F.col("alive") == 1)
             .withColumn("space", F.least("rb_hi", "depth") - F.col("rb_lo"))
             .withColumn("value", F.col("density") * F.col("w")))
    grant = Window.partitionBy("qid") \
        .orderBy(F.desc("value"), F.asc("term"), F.asc("rb")) \
        .rowsBetween(Window.unboundedPreceding, -1)
    cells = cells.withColumn(
        "before", F.coalesce(F.sum("space").over(grant), F.lit(0)))
    granted = F.greatest(
        F.lit(0), F.least(F.col("space"), F.lit(budget) - F.col("before")))
    return (cells.groupBy("qid", "term")
            .agg(F.sum(granted).cast("long").alias("cutoff"))
            .where(F.col("cutoff") > 0))


def online_greedy_topk(scored: DataFrame, queries: DataFrame,
                       golden_terms: DataFrame, budget: int,
                       k: int = 10,
                       boundaries: tuple[int, ...] = CLASS_BOUNDARIES,
                       nums: tuple[int, ...] = CLASS_NUMS) -> DataFrame:
    """Q8+X11 end-to-end: train the quality matrix, set each query list's
    available depth from the X11 class table, allocate the per-query
    budget online-greedily, fetch the granted impact-ordered prefixes
    (Do_SelectionLookups), TAAT-merge and return the top-k
    (qid, rank, doc_id, score_q). Approximate-by-design like
    toplayer_topk — recall vs exact WAND is measured in tests, while
    the DuckDB oracle pins the selection itself."""
    matrix = quality_matrix_df(scored, golden_terms)
    qterms = queries.select("qid", F.explode("terms").alias("term")) \
        .distinct()
    tdf = scored.groupBy("term").agg(F.count("*").alias("list_len"))
    qlists = (qterms.join(tdf, "term")
              .withColumn("depth",
                          class_lens(F.col("list_len"), boundaries, nums))
              .select("qid", "term", "list_len", "depth"))
    cut = online_greedy_cutoffs(qlists, matrix, budget)
    pos = posting_positions(scored)
    look = (pos.join(F.broadcast(cut), "term")
            .where(F.col("pos") < F.col("cutoff"))
            .select("qid", "doc_id", "score_q"))
    agg = look.groupBy("qid", "doc_id").agg(F.sum("score_q").alias("score_q"))
    w = Window.partitionBy("qid").orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (agg.withColumn("rank", (F.row_number().over(w) - 1).cast("long"))
            .where(F.col("rank") < k)
            .select("qid", "rank", "doc_id", "score_q"))


# Q9 quantization scale: 10^6 keeps cf*scale inside int64 up to 10^12
# collection tokens (the north-star corpus scale); floor division is exact
# integer both sides (Spark `div`, DuckDB `//`).
LM_SCALE = 10 ** 6


def lm_probability_maps(uni_postings: DataFrame,
                        pair_postings: DataFrame | None,
                        total_tokens: int,
                        scale: int = LM_SCALE) -> DataFrame:
    """Q9 — language-model probability maps (``getUnigramLanguageModel`` /
    ``getBigramLanguageModel`` + ``buildLanguageMap``,
    ``Metadata.java:20-84``): term → P(term). The reference converts an
    EXTERNAL LM file through its term dictionary; this engine derives the
    MLE maps from the corpus itself (no external data): unigram
    P = cf / total_tokens with cf = Σtf; pair P = df_pair / total pair
    postings (each pair posting is a distinct (pair, doc) co-occurrence —
    build.build_pair_postings_from_tokens' A8 first-occurrence
    semantics).
    Probabilities are emitted as exact integers p_q = (cf*scale) div total
    so the DuckDB oracle replays them bit-for-bit.

    Returns (term, is_pair 0|1, cf, p_q). Shape at scale: two groupBys +
    broadcast scalar totals — no skew (cf aggregation is the same shuffle
    as document frequency)."""
    uni = (uni_postings.groupBy("term")
           .agg(F.sum("tf").cast("long").alias("cf"))
           .select("term", F.lit(0).cast("long").alias("is_pair"), "cf",
                   F.expr(f"cf * {int(scale)} div {int(total_tokens)}")
                   .cast("long").alias("p_q")))
    if pair_postings is None:
        return uni
    ptot = pair_postings.count()
    pair = (pair_postings.groupBy("term")
            .agg(F.count("*").cast("long").alias("cf"))
            .select("term", F.lit(1).cast("long").alias("is_pair"), "cf",
                    F.expr(f"cf * {int(scale)} div {int(max(ptot, 1))}")
                    .cast("long").alias("p_q")))
    return uni.unionByName(pair)


LM_LOG_SCALE = 1_000_000  # quantization for per-term log-probabilities


def lm_doc_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """CCNet-style LM quality signal: per-document negative log-likelihood
    per token under the corpus unigram MLE language model (Wenzek et al.
    2020 filter documents by LM perplexity; Q9's probability maps turned
    into a usable per-doc score).

    Returns (doc_id, n_tokens, nll_q) with
    ``nll_q = floor( Σ_t tf_t · (−lp_q(t)) / n_tokens )`` where
    ``lp_q(t) = floor(1e6 · ln(cf_t / total_tokens))`` — LOW nll_q =
    typical corpus language, HIGH = rare/garbled. All arithmetic after
    the one ``ln`` is exact int64, and the ``ln`` follows the engine's
    BM25 determinism posture (bm25.py module note): computed by CPython
    ``math.log`` (glibc — the same library DuckDB's ``ln`` calls) via an
    Arrow-batched UDF over the tiny per-term table, never per posting.
    Token-less docs score 0.

    Scale shape: one (doc,term) tf shuffle (the index build's own key),
    a vocabulary-sized map joined back on term — identical topology to
    the df join in score_postings; no skew beyond term popularity.
    """
    from pyspark.sql.functions import pandas_udf

    toks = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                       tokens_col(F.col(text_col)).alias("toks"))
    tf = (toks.select("doc_id", F.explode("toks").alias("term"))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    cf = tf.groupBy("term").agg(F.sum("tf").alias("cf"))
    total = cf.agg(F.sum("cf")).collect()[0][0] or 0

    @pandas_udf("long")
    def lp_q(s: pd.Series) -> pd.Series:
        arr = s.to_numpy(np.int64)
        u, inv = np.unique(arr, return_inverse=True)
        vals = np.array(
            [math.floor(LM_LOG_SCALE * math.log(c / total))
             for c in u.tolist()], dtype=np.int64)
        return pd.Series(vals[inv])

    lm = cf.select("term", lp_q(F.col("cf")).alias("lp_q"))
    per_doc = (tf.join(lm, "term")
               .groupBy("doc_id")
               .agg(F.sum(F.col("tf") * (-F.col("lp_q"))).alias("snll"),
                    F.sum("tf").alias("n_tokens")))
    base = toks.select("doc_id", F.size("toks").alias("nt"))
    out = base.join(per_doc, "doc_id", "left")
    nll = F.when(F.coalesce(F.col("n_tokens"), F.lit(0)) > 0,
                 F.expr("snll div n_tokens")).otherwise(0)
    return out.select(
        "doc_id", F.coalesce(F.col("n_tokens"), F.lit(0)).cast("long")
        .alias("n_tokens"), nll.cast("long").alias("nll_q"))


def termbits(qlists: DataFrame) -> DataFrame:
    """X3 — per-query term-bit assignment (``decide_termbits_new``,
    ``algo_toplayer.cpp:341-390``): the query's lists are ordered by list
    length (term as the deterministic tie-break — the reference's
    ``sort(term_orders, cmp_by_value)``) and list i gets bit i; the
    reference stores the 0-valid mask ``~(1<<i)`` and ANDs masks into a
    doc's kbits during the merge. Returns (qid, term, list_len[, ...],
    bit) — the positive bit index; kbits follow as
    ``0xFF & ~bit_or(1<<bit)``."""
    w = Window.partitionBy("qid").orderBy(F.asc("list_len"), F.asc("term"))
    return qlists.withColumn("bit", F.row_number().over(w) - 1)


def selection_lookup_topk(scored: DataFrame, queries: DataFrame,
                          golden_terms: DataFrame, budget: int,
                          k: int = 10,
                          boundaries: tuple[int, ...] = CLASS_BOUNDARIES,
                          nums: tuple[int, ...] = CLASS_NUMS) -> DataFrame:
    """X3 + Do_SelectionLookups — the reference's full flash-fetch query
    shape (``algo_toplayer.cpp:341-390`` termbits; lookups
    ``Do_SelectionLookups``/``get_lens_for_selectionlookups``,
    ``algo_toplayer.cpp:1290-1349``): generate candidates from the Q8
    budgeted prefixes, track per-doc term coverage as reference-convention
    kbits (0xFF with a 0 bit per covered list), then LOOK UP each
    candidate's missing terms in the full lists and add their scores —
    final scores are the exact multi-term sums for every candidate.

    Returns (qid, rank, doc_id, kbits, score_q); kbits is the coverage
    BEFORE lookups (what X3 feeds to
    Get_indexes_of_termlists_to_do_lookup). Scale shape: candidates are
    budget-bounded per query, the lookup join is an equi-join of that
    small set against the scored table on (term, doc_id) — no full-list
    scans, mirroring the reference's random-access lookups."""
    matrix = quality_matrix_df(scored, golden_terms)
    qterms = queries.select("qid", F.explode("terms").alias("term")) \
        .distinct()
    tdf = scored.groupBy("term").agg(F.count("*").alias("list_len"))
    qlists = (qterms.join(tdf, "term")
              .withColumn("depth",
                          class_lens(F.col("list_len"), boundaries, nums))
              .select("qid", "term", "list_len", "depth"))
    bits = termbits(qlists).select("qid", "term", "bit")
    cut = online_greedy_cutoffs(qlists, matrix, budget)
    pos = posting_positions(scored)
    pref = (pos.join(F.broadcast(cut), "term")
            .where(F.col("pos") < F.col("cutoff"))
            .join(F.broadcast(bits), ["qid", "term"])
            .select("qid", "doc_id", "score_q", "bit"))
    # a doc appears at most once per (qid, term) list, so sum(1<<bit) is
    # exactly bit_or — kbits in the reference's 0-valid convention
    cand = (pref.groupBy("qid", "doc_id")
            .agg(F.sum("score_q").alias("partial"),
                 (F.lit(255) - F.sum(F.expr("shiftleft(1, bit)")))
                 .cast("long").alias("kbits")))
    missing = (cand.join(F.broadcast(bits), "qid")
               .where(F.expr("shiftright(kbits, bit) & 1 = 1"))
               .select("qid", "doc_id", "term"))
    fills = (missing.join(scored.select("term", "doc_id", "score_q"),
                          ["term", "doc_id"])
             .groupBy("qid", "doc_id")
             .agg(F.sum("score_q").alias("fill")))
    full = (cand.join(fills, ["qid", "doc_id"], "left")
            .select("qid", "doc_id", "kbits",
                    (F.col("partial") + F.coalesce("fill", F.lit(0)))
                    .cast("long").alias("score_q")))
    w = Window.partitionBy("qid").orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (full.withColumn("rank", (F.row_number().over(w) - 1)
                            .cast("long"))
            .where(F.col("rank") < k)
            .select("qid", "rank", "doc_id", "kbits", "score_q"))


def toplayer_topk(top_layers: DataFrame, queries: DataFrame,
                  k: int = 10) -> DataFrame:
    """Budgeted approximate candidate generation over top layers only —
    the reference's flash-fetch shape (X1/X5/X7): union the selected
    prefixes of the query's terms, group-sum, top-k. Recall < 1 by design;
    compare against the exact WAND path to quantify."""
    qterms = queries.select("qid", F.explode("terms").alias("term")).distinct()
    scored = top_layers.join(F.broadcast(qterms), "term")
    agg = scored.groupBy("qid", "doc_id").agg(F.sum("score_q").alias("score_q"))
    w = Window.partitionBy("qid").orderBy(F.desc("score_q"), F.asc("doc_id"))
    return (agg.withColumn("rank", (F.row_number().over(w) - 1).cast("int"))
            .where(F.col("rank") < k)
            .select("qid", "rank", "doc_id", "score_q"))
