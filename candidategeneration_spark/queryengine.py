"""Flash-fetch query engine: top-k BM25 candidate generation.

Re-expression of the reference's C++ online engine
(``algo_toplayer.cpp:85-290``): its budgeted top-layer loads, radix sort,
vector merge, quantile collapses and selective lookups (X1-X10 in SURVEY.md
§2.10) are an *unsafe approximate* pipeline; we replace it with exact
scoring plus block-max pruning — the safe version of the same idea
(impact-ordered prefixes ≈ block-max metadata; selective lookup nextGEQ ≈
``searchsorted`` over block skip pointers).

Kernels, all with identical output (asserted equal in tests):

- :func:`topk_exhaustive` — decode everything, integer group-sum, top-k.
  The reference every other kernel is tested against.
- :func:`topk_single`     — one list: block-max-ordered batched decode,
  blocks whose max is below the running k-th score τ stay compressed.
- :func:`topk_decompose`  — one dominant list: score the small lists
  exactly, random-access the dominant list for their candidates, cover
  the rest with its :func:`topk_single` prefix.
- :func:`topk_lookup`     — negative-hot lists (df > N/2): random access
  into their candidate blocks only.
- :func:`topk_auto`       — cost-based choice among the above; the only
  kernel the serving loop calls.

Scores are int64 sums of pre-quantized per-term scores → associative →
rank-identical everywhere. Tie-break: (score desc, doc_id asc) — the
reference's final sort is score-only and unstable (``algo_toplayer.cpp:274``)
so we define the deterministic order and the oracle enforces it.

Spark orchestration: one serving loop (:func:`_result_frames`) turns
``(qid, [Segment])`` pairs into result rows, inside a ``mapInPandas``
iterator. Its two feeders:

- :func:`wand_topk` ``mode="join"``, in one of two shapes chosen from
  Catalyst's size estimate of the segment side (no job runs to choose):

  - small (estimate ≤ ``spark.sql.autoBroadcastJoinThreshold``): the
    segments are broadcast and the exploded query terms stream through
    the hash join, so each query's rows stay consecutive in its own
    partition — two jobs (the broadcast, the serving stage), no shuffle;
  - large (otherwise, or a threshold of −1): the tiny exploded query-term
    table is broadcast and hash-joined against the segment table —
    segments never shuffle for the join; only the ≤|terms| matched
    segment rows per query move in one ``repartition(qid)`` exchange,
    sorted by (qid, term) so each query's rows are consecutive.

  A query touches at most |q| segment partitions, satisfying the
  term-partitioned layout goal of SURVEY.md §7.5.
- :func:`wand_topk_prepared`: segments broadcast once
  (:func:`prepare_index`), each query's terms looked up in a per-worker
  decode-memoizing dict.

Both build their filters and projections from SQL strings
(:func:`plans.sql_in`, ``selectExpr``), so planning a batch costs the
same few py4j round trips whatever its number of terms.
"""

from __future__ import annotations

from itertools import groupby
from operator import itemgetter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StructField, StructType,
)

from .indexcodec import Segment
from .plans import size_in_bytes_stat, sql_in

RESULT_SCHEMA = StructType([
    StructField("qid", LongType()),
    StructField("rank", IntegerType()),
    StructField("doc_id", LongType()),
    StructField("score_q", LongType()),
])


def _final_topk(doc_ids: np.ndarray, scores: np.ndarray, k: int):
    """Exact top-k with (score desc, doc_id asc) tie-break.

    Selection before sort: ``np.partition`` finds the k-th largest score in
    O(n), the full exact lexsort then only runs on the ≥k-th band (ties at
    the boundary included, so the result is identical to sorting everything
    — a full lexsort of all candidates was ~20% of short-query kernel time).
    """
    n = doc_ids.shape[0]
    if n == 0:
        return doc_ids, scores
    if n > 4 * k:
        kth = np.partition(scores, n - k)[n - k]
        keep = scores >= kth
        doc_ids, scores = doc_ids[keep], scores[keep]
    order = np.lexsort((doc_ids, -scores))[:k]
    return doc_ids[order], scores[order]


def _group_sum(dids: np.ndarray, scs: np.ndarray):
    """Per-doc score sums → (unique doc_ids sorted asc, int64 sums).

    Sort + ``reduceat`` instead of ``np.unique(return_inverse)`` +
    ``np.add.at``: same result, no inverse-map build and no scatter-add
    (both showed up hot in the short-query kernel profile)."""
    order = np.argsort(dids)
    d = dids[order]
    s = scs[order]
    flags = np.empty(d.shape[0], dtype=bool)
    flags[0] = True
    np.not_equal(d[1:], d[:-1], out=flags[1:])
    starts = np.flatnonzero(flags)
    return d[starts], np.add.reduceat(s, starts)


def topk_exhaustive(segments: list[Segment], k: int):
    """Decode-everything DAAT: integer group-sum over all postings.

    Fully NumPy-vectorized (~50ns/posting) — the baseline the pruning
    kernels must beat by actually skipping work (see :func:`topk_auto`)."""
    if not segments:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    if len(segments) == 1:
        # a single list is already sorted and per-doc unique — no group-sum
        dids, scs = segments[0].decode_ds()
        return _final_topk(dids, scs, k)
    decoded = [s.decode_ds() for s in segments]
    dids = np.concatenate([d[0] for d in decoded])
    scs = np.concatenate([d[1] for d in decoded])
    uniq, sums = _group_sum(dids, scs)
    return _final_topk(uniq, sums, k)


def _lookup_contrib(seg: Segment, cand: np.ndarray) -> np.ndarray:
    """Contribution of ``seg`` for each docID in sorted-unique ``cand``
    (0 where the doc is absent) — random access into the compressed list.

    Two physical paths, same result:

    - full-decode + one vectorized ``searchsorted`` when the list is (or is
      about to be) fully decoded anyway — on the serving path the
      ``_CachingSegment`` wrapper memoizes ``decode_ds`` so every query
      after the first pays only the binary search;
    - selective block decode otherwise: only blocks that contain a
      candidate are decoded (≤ ``len(cand)`` blocks of 128 postings), in
      ONE vectorized pass (:meth:`Segment.decode_blocks_ds` joins the
      selected byte ranges and runs a single VByte decode) — the
      compressed long tail is never touched.
    """
    out = np.zeros(cand.shape[0], dtype=np.int64)
    if seg.n_blocks == 0 or cand.shape[0] == 0:
        return out
    # block index that would contain each candidate (block bi covers
    # (block_last[bi-1], block_last[bi]]) — nextGEQ as one searchsorted
    # over the skip pointers (SURVEY.md §2.3 J6)
    bis = np.searchsorted(seg.block_last, cand, side="left")
    inb = bis < seg.n_blocks
    if not inb.any():
        return out
    uniq_blocks = np.unique(bis[inb])
    if (seg.cache_resident
            or getattr(seg, "_ds", None) is not None
            or uniq_blocks.shape[0] * 2 >= seg.n_blocks):
        dids, scores = seg.decode_ds()
    else:
        dids, scores = seg.decode_blocks_ds(uniq_blocks)
    idx = np.searchsorted(dids, cand)
    ok = idx < dids.shape[0]
    ok[ok] &= dids[idx[ok]] == cand[ok]
    out[ok] = scores[idx[ok]]
    return out


def topk_single(seg: Segment, k: int):
    """Exact top-k of ONE posting list via metadata-ordered BATCHED block
    decode — the single-list counterpart of :func:`topk_decompose`.

    Block-at-a-time decoding pays ~110 µs of per-call NumPy overhead per
    block — ruinous when k is large (a top-1000 prefix decodes ~10% of a
    uniform-score list's blocks). Here the block-max metadata drives the
    pruning with a few vectorized decodes:

    Galloping rounds: decode blocks in descending-``block_max`` order in
    doubling batches (one vectorized decode per round); after each round
    recompute τ = the k-th best score decoded so far and drop every
    undecoded block with ``block_max`` < τ (each of its postings scores
    ≤ its block max < τ, strictly below the k-th best — ties at τ stay
    excluded, so exactness holds). The doubling bounds total decoded
    blocks at ~2x the prune-optimal set; on a flat score distribution
    the true top-k is spread one-posting-per-block, which is exactly the
    case where a single fixed-size probe batch yields a uselessly weak τ
    (measured: it decoded the whole list).

    Exact for any k and any score signs; one full vectorized decode when
    k is a meaningful fraction of the list."""
    if seg.n_blocks == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    if (4 * k >= int(seg.df)
            or seg.cache_resident
            or getattr(seg, "_ds", None) is not None):
        # Serving posture (same gate as _lookup_contrib): a resident
        # segment's full decode is memoized across the query batch, so
        # partitioning the memo beats galloping decode_blocks_ds calls
        # that would bypass the _CachingSegment memo entirely.
        d, s = seg.decode_ds()
        return _final_topk(d, s, k)
    bm = np.asarray(seg.block_max)
    order = np.argsort(-bm, kind="stable")
    nb = order.shape[0]
    taken = 0
    batch = max(1, (k + 127) // 128)
    ds, ss = [], []
    total = 0
    while taken < nb:
        take = min(batch, nb - taken)
        d2, s2 = seg.decode_blocks_ds(np.sort(order[taken:taken + take]))
        ds.append(d2)
        ss.append(s2)
        total += s2.shape[0]
        taken += take
        if taken >= nb:
            break
        if total >= k:
            s_all = ss[0] if len(ss) == 1 else np.concatenate(ss)
            if len(ss) > 1:
                ss = [s_all]
                ds = [np.concatenate(ds)]
            tau = np.partition(s_all, total - k)[total - k]
            elig = bm[order[taken:]] >= tau
            if not elig.any():
                break
            nelig = int(elig.sum())
            order = np.concatenate([order[:taken], order[taken:][elig]])
            nb = taken + nelig
            batch = min(batch * 2, nelig)
        else:
            batch *= 2
    d = ds[0] if len(ds) == 1 else np.concatenate(ds)
    s = ss[0] if len(ss) == 1 else np.concatenate(ss)
    return _final_topk(d, s, k)


def topk_decompose(segments: list[Segment], k: int):
    """Exact top-k for the one-dominant-list query shape — the web-scale
    identifier+keyword query: one list carries ~all the postings, the
    rest are collectively tiny.

    The exact answer decomposes around the dominant list B:

    1. ``C`` = union of the other lists' docs, scored EXACTLY: group-sum
       of their full decodes plus B's contribution fetched by random
       access (:func:`_lookup_contrib` — ≤ 1 compressed block decoded per
       candidate, in one vectorized pass).
    2. Any doc ∉ C scores exactly its B entry alone, so the best k of
       them appear in B's own top-``(k + |C|)`` prefix (the ``+|C|``
       absorbs prefix entries that are also in C and must not be double
       counted). The prefix is computed with :func:`topk_single`'s
       galloping batched decode — B's postings are never fully streamed.
    3. Exact top-k = :func:`_final_topk` over C ∪ (prefix ∖ C).

    Exact for EVERY input (any score signs, any shape — unlike
    :func:`topk_lookup` there is no bound check and no ``None`` path):
    a doc d outside both sets has ≥ k+|C| B-docs ahead of it in
    (score desc, doc_id asc) order, of which ≥ k are outside C, and each
    of those has total score = its B score ≥ d's total — with the
    tie-break preserved, so the result is bit-identical to the
    exhaustive kernel (fuzz-asserted). Work is proportional to the SMALL
    lists' combined length; measured 6.9x over exhaustive on
    rare=1k × hot=1M."""
    if not segments:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    dfs = [int(s.df) for s in segments]
    bi = int(np.argmax(dfs))
    big, smalls = segments[bi], segments[:bi] + segments[bi + 1:]
    decoded = [s.decode_ds() for s in smalls if s.n_blocks > 0]
    if not decoded:
        cand = np.empty(0, np.int64)
        scores = np.empty(0, np.int64)
    elif len(decoded) == 1:
        cand, scores = decoded[0]  # already sorted + per-doc unique
        scores = scores + _lookup_contrib(big, cand)
    else:
        cand, scores = _group_sum(np.concatenate([d[0] for d in decoded]),
                                  np.concatenate([d[1] for d in decoded]))
        scores = scores + _lookup_contrib(big, cand)
    m = k + int(cand.shape[0])
    bd, bs = topk_single(big, m)
    if bd.shape[0]:
        idx = np.searchsorted(cand, bd)
        ok = idx < cand.shape[0]
        ok[ok] = cand[idx[ok]] == bd[ok]
        keep = ~ok
        cand = np.concatenate([cand, bd[keep]])
        scores = np.concatenate([scores, bs[keep]])
    return _final_topk(cand, scores, k)


def topk_lookup(segments: list[Segment], k: int):
    """Exact top-k for the negative-hot-list query shape, or ``None``.

    Unsmoothed IDF (``utilsClass.java:115-130``) makes every contribution of
    a df > N/2 term NEGATIVE — in source code that is precisely the hottest
    vocabulary (``def``, ``class``, ``return``). Such a list can never lift
    a document: a doc appearing ONLY in all-negative lists scores at most
    ``max(neg list maxes)`` (a sum of negatives is ≤ each of them). So the
    exact top-k is computable WITHOUT streaming the hot list:

    1. candidates = union of the positive-capable lists' docs (group-sum);
    2. add each all-negative list's contribution by RANDOM ACCESS — decode
       only the blocks containing a candidate (:func:`_lookup_contrib`);
    3. if the k-th candidate score STRICTLY beats the neg-only bound, the
       result is exact (ties must lose on doc_id to docs we never scored,
       hence strict); otherwise return ``None`` and the caller falls back
       to the exhaustive kernel.

    This is the selective-lookup idea of the reference's flash-fetch
    (``algo_toplayer.cpp:85-290`` X5/J6) made exact, and the reason the
    serving path stays latency-flat when a query mixes a rare identifier
    with a keyword whose list is ~the whole corpus: work is proportional to
    the RARE list's length, not the hot one's.
    """
    pos, neg = [], []
    for s in segments:
        if s.n_blocks == 0:
            continue
        (pos if int(s.block_max.max()) > 0 else neg).append(s)
    if not pos or not neg:
        return None
    decoded = [s.decode_ds() for s in pos]
    if len(pos) == 1:
        cand, base = decoded[0]  # already sorted + per-doc unique
    else:
        cand, base = _group_sum(np.concatenate([d[0] for d in decoded]),
                                np.concatenate([d[1] for d in decoded]))
    if cand.shape[0] < k:
        return None  # top-k may need docs from the negative lists alone
    scores = base.copy()
    for s in neg:
        scores += _lookup_contrib(s, cand)
    dids, scs = _final_topk(cand, scores, k)
    neg_bound = max(int(s.block_max.max()) for s in neg)
    if int(scs[-1]) <= neg_bound:
        return None  # a never-scored neg-only doc could reach the tail
    return dids, scs


# Dispatch constants, re-measured a fourth time (round-5 close) after the
# batched metadata-ordered kernels (topk_single / topk_decompose) landed:
# they drive block-max pruning with O(log blocks) vectorized decode calls.
# Measured win regions (min-of-5, same synth shapes as the differential
# tests; exhaustive streams at ~90 ns/posting):
#   - single list: vs exhaustive the topk_single crossover is ~25k
#     postings (9-46x win on skewed scores; the flat-score worst case is
#     bounded at ~1.7x exhaustive by the galloping 2x decode bound).
#   - multi list: topk_decompose (decode the small lists exactly, random-
#     access the dominant list for their candidates, cover everything
#     else with the dominant list's own topk_single prefix) beats
#     exhaustive whenever the non-dominant mass times the ~128-
#     posting/candidate cold lookup cost is under streaming the whole
#     thing (rare=250 x hot=1M: 6.2 vs 97.7 ms; rare=5k: 63.6 vs 85.8;
#     rare=20k loses 143.7 vs 87 — the x2-margin cost gate below refuses
#     it there), with no positivity precondition.
# At 100 TB the corner widens further in decompose's favor: hot-list
# length grows with the corpus (exhaustive cost is linear in it) while
# the non-max mass of an identifier+keyword query stays rare-list-bound —
# the cost gate tracks that automatically. The negative-hot shape
# (df > N/2 keyword lists, all bounds <= 0) is still tried on the exact
# selective-lookup kernel FIRST: when it answers, it touches only
# candidate blocks of EVERY hot list, where decompose fully decodes all
# but the largest.
DECOMP_MIN_TOTAL = 100_000      # below this exhaustive is ~1 ms anyway
LOOKUP_BLOCK = 128              # cold random access: one block/candidate
# single-list crossover vs exhaustive (~1 ms at ~22-25k postings with the
# round-5 uniform-width decode)
SINGLE_TOPK_MIN = 25_000


def _lookup_cost(seg, cand_mass: int) -> int:
    """Estimated postings-decode cost of random-accessing ``cand_mass``
    candidates in ``seg`` — mirrors :func:`_lookup_contrib`'s actual
    behavior per cache posture (same model the lookup gate uses)."""
    if getattr(seg, "_ds", None) is not None:
        return int(seg.df) >> 6            # searchsorted into the memo only
    if seg.cache_resident:
        # serving: the one-time full decode amortizes across the batch
        return int(seg.df) >> 4
    # cold worst case: one <=128-posting block decoded per candidate
    return min(cand_mass * LOOKUP_BLOCK, int(seg.df))


def topk_auto(segments: list[Segment], k: int):
    """Physical-strategy dispatch; every kernel returns identical results
    (asserted in tests), so this is pure cost-based plan choice — the
    engine-side analogue of Catalyst picking broadcast vs shuffle join."""
    if not segments:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    dfs = [int(s.df) for s in segments]
    total = sum(dfs)
    if len(segments) == 1:
        if total >= SINGLE_TOPK_MIN:
            return topk_single(segments[0], k)
        return topk_exhaustive(segments, k)
    # negative-hot shape: some list's contributions are ALL <= 0 (df > N/2
    # under unsmoothed IDF — keywords in source code). The exhaustive
    # stream over the hot list is pure bandwidth; when the positive lists
    # are small, the lookup kernel computes the same exact top-k touching
    # only candidate blocks — of EVERY negative list, so it is tried
    # before decompose (which fully decodes all but the largest).
    if total >= DECOMP_MIN_TOTAL:
        pos_total = blocks_cost = 0
        has_neg = False
        for s in segments:
            if s.n_blocks == 0:
                continue
            if int(s.block_max.max()) > 0:
                pos_total += int(s.df)
            else:
                has_neg = True
        if has_neg and pos_total >= k:
            for s in segments:
                if s.n_blocks == 0 or int(s.block_max.max()) > 0:
                    continue
                blocks_cost += _lookup_cost(s, pos_total)
            if (pos_total + blocks_cost) * 2 < total:
                res = topk_lookup(segments, k)
                if res is not None:
                    return res
        # dominant-list decompose: exact for every shape (no positivity
        # precondition, no tie refusal) — decode the non-dominant mass,
        # random-access the dominant list, cover the rest with its
        # batched single-list prefix. Wins whenever the small mass plus
        # its lookups is well under streaming `total`; the x2 margin
        # keeps the marginal region (small_mass ~ total/130 .. total/260
        # cold) on the never-worse exhaustive side.
        bi = int(np.argmax(dfs))
        small_mass = total - dfs[bi]
        if (small_mass + _lookup_cost(segments[bi], small_mass)) * 2 < total:
            return topk_decompose(segments, k)
    return topk_exhaustive(segments, k)


class _CachingSegment:
    """Segment wrapper memoizing the query-path decodes — queries sharing a
    term in the same worker decode each block once (the reference keeps
    loaded top-layer arrays resident across queries,
    algo_toplayer.cpp:393-474). Hot metadata (df, block arrays) is copied to
    real attributes: ``__getattr__`` indirection on every kernel metadata
    probe was measurable in serving p50."""

    __slots__ = ("seg", "_ds", "df", "block_last", "block_max", "block_n")

    cache_resident = True  # decode memoization amortizes across queries

    def __init__(self, seg: Segment):
        self.seg = seg
        self._ds = None
        self.df = seg.df
        self.block_last = seg.block_last
        self.block_max = seg.block_max
        self.block_n = seg.block_n

    def __getattr__(self, name):
        return getattr(self.seg, name)

    @property
    def n_blocks(self) -> int:
        return int(self.block_last.shape[0])

    def decode_ds(self):
        if self._ds is None:
            self._ds = self.seg.decode_ds()
        return self._ds


# per-worker cache of broadcast segment dicts, keyed by broadcast id:
# python workers are reused across tasks, so hot lists decode once per
# worker, not once per task. Only module-level code may touch it — a
# task's closure is pickled by value together with a private copy of the
# globals it reads, which would make the cache per-task. The key is the
# id, not the value object: a task that does not use the broadcast makes
# the worker drop its copy, so the next batch sees a new value object.
_BC_SEGMENTS: dict[int, dict[str, _CachingSegment]] = {}
_BC_HITS = 0  # tasks served from _BC_SEGMENTS in this worker


def _broadcast_segments(bc, bid: int) -> dict[str, _CachingSegment]:
    """The decode-memoizing segments of broadcast ``bc`` (JVM id ``bid``;
    a worker-side Broadcast does not know its id) in this worker."""
    global _BC_HITS
    segs = _BC_SEGMENTS.get(bid)
    if segs is not None:
        _BC_HITS += 1
        return segs
    segs = {t: _CachingSegment(Segment(**d)) for t, d in bc.value}
    _BC_SEGMENTS.clear()  # one live batch per worker is enough
    _BC_SEGMENTS[bid] = segs
    return segs


# Segment columns in ``Segment.__init__`` order: the serving loop builds
# each Segment positionally from them.
_SEG_COLS = ("df", "did_blob", "score_blob", "tf_blob", "block_last",
             "block_max", "block_n", "did_off", "score_off", "tf_off")
# result rows per output frame: bounds a partition's buffered results
_FRAME_ROWS = 100_000


def _result_frames(pairs, k: int):
    """The serving loop: ``(qid, [Segment])`` pairs → RESULT_SCHEMA frames.

    Result assembly in flat numpy accumulators — a per-query pd.DataFrame
    + one giant concat was ~40% of serving overhead at 10k-query batches
    (DataFrame construction costs ~100µs each, the kernel ~1ms)."""
    qids, dids_a, scs_a, ns = [], [], [], []
    rows = 0
    for qid, segs in pairs:
        dids, scs = topk_auto(segs, k)
        n = dids.shape[0]
        if n:
            qids.append(qid)
            dids_a.append(dids)
            scs_a.append(scs)
            ns.append(n)
            rows += n
        if rows >= _FRAME_ROWS:
            yield _frame(qids, dids_a, scs_a, ns)
            qids, dids_a, scs_a, ns = [], [], [], []
            rows = 0
    if ns:
        yield _frame(qids, dids_a, scs_a, ns)


def _frame(qids, dids_a, scs_a, ns) -> pd.DataFrame:
    return pd.DataFrame({
        "qid": np.repeat(np.asarray(qids, dtype=np.int64), ns),
        "rank": np.concatenate([np.arange(n, dtype=np.int32) for n in ns]),
        "doc_id": np.concatenate(dids_a),
        "score_q": np.concatenate(scs_a)})


def _check_k(k: int) -> None:
    # checked on the driver: the kernels' np.partition fails on k < 1
    # only inside a Python task
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")


def wand_topk(segments: DataFrame, queries: DataFrame, k: int = 10,
              mode: str = "join") -> DataFrame:
    """queries (qid, terms array<string>) × segments → (qid, rank, doc_id,
    score_q). Queries whose terms all miss the index produce no rows.

    Two physical strategies feeding the same serving loop (same results,
    asserted in tests):

    - ``mode="join"``: hash-join the exploded query terms with the
      segment table — right when the term universe is huge and queries
      are few or disjoint (ad-hoc analytics over a 10^12-file index).
      Which side is broadcast follows Catalyst's size estimate of
      ``segments`` (:func:`plans.size_in_bytes_stat`):

      - at most ``spark.sql.autoBroadcastJoinThreshold``: broadcast the
        segments and stream the queries; a query's rows come out
        consecutive in its partition, so the batch runs in two jobs with
        no shuffle;
      - above it, or when the threshold is −1: broadcast the query terms,
        then co-partition the matched rows by qid and sort them by
        (qid, term). Segments never shuffle for the join, but each query
        gets its own copy of its terms' blobs in the qid exchange.
    - ``mode="broadcast"``: collect only the segments matching the batch's
      term set, broadcast once, fan queries out with mapInPandas. No
      per-query blob duplication, per-worker decode caching — right for
      query serving where batches share a bounded working set (hot lists
      ship once per executor instead of once per query).
    """
    _check_k(k)
    from .config import ensure_on_executors
    ensure_on_executors(segments.sparkSession)
    if mode == "broadcast":
        terms = sorted({t for r in queries.select("terms").collect()
                        for t in (r["terms"] or [])})
        return wand_topk_prepared(prepare_index(segments, terms), queries, k)
    # per-query term dedup BEFORE the explode (a repeated query term must
    # not double-count its list): array_distinct is a map-side expression,
    # where the old (qid, term).distinct() paid a whole extra shuffle stage
    # per batch. Precondition: one row per qid. A duplicated qid can come
    # back as more than one top-k group (the small shape does not
    # repartition by qid).
    qterms = queries.selectExpr(
        "CAST(qid AS BIGINT) AS qid",
        "explode(array_distinct(terms)) AS term")
    threshold = segments.sparkSession._jsparkSession.sessionState() \
        .conf().autoBroadcastJoinThreshold()
    if 0 <= size_in_bytes_stat(segments) <= threshold:
        matched = qterms.join(F.broadcast(segments), "term")
    else:
        matched = segments.join(F.broadcast(qterms), "term") \
            .repartition("qid").sortWithinPartitions("qid", "term")
    matched = matched.selectExpr("qid", *_SEG_COLS)

    def run(batches):
        # a query's rows can straddle an Arrow batch edge
        # (maxRecordsPerBatch): group the flat row stream, never a batch
        rows = (row for pdf in batches for row in zip(
            pdf["qid"], map(Segment, *(pdf[c] for c in _SEG_COLS))))
        pairs = ((qid, [seg for _, seg in grp])
                 for qid, grp in groupby(rows, key=itemgetter(0)))
        return _result_frames(pairs, k)

    return matched.mapInPandas(run, schema=RESULT_SCHEMA)


class PreparedIndex:
    """A query-serving handle: the working set of segments is collected and
    broadcast ONCE, then any number of query batches run against it — the
    steady-state serving shape (the reference's C++ engine likewise loads
    its top-layer arrays once per query set, algo_toplayer.cpp:393-474)."""

    def __init__(self, spark: SparkSession, bc):
        self.spark = spark
        self.bc = bc


MAX_PREPARED_SEGMENTS = 2_000_000


def prepare_index(segments: DataFrame,
                  terms: list[str] | None = None,
                  max_segments: int = MAX_PREPARED_SEGMENTS) -> PreparedIndex:
    """Collect + broadcast the segments for ``terms`` (None = all — only
    for small indexes; guarded by ``max_segments``: a 10^12-file dictionary
    collected to the driver is an OOM, use ``terms`` or the join path)."""
    spark = segments.sparkSession
    seg = segments if terms is None else \
        segments.where(sql_in("term", sorted(set(terms))))
    if terms is None:
        n = seg.count()
        if n > max_segments:
            raise ValueError(
                f"prepare_index(terms=None) would collect {n} segments to "
                f"the driver (> {max_segments}); pass the query term set "
                "or use wand_topk(mode='join')")
    rows = seg.collect()
    payload = [(r["term"], {f: r[f] for f in _SEG_COLS}) for r in rows]
    return PreparedIndex(spark, spark.sparkContext.broadcast(payload))


def wand_topk_prepared(prep: PreparedIndex, queries: DataFrame,
                       k: int = 10) -> DataFrame:
    """Serve a query batch against a PreparedIndex (no driver-side work
    besides plan submission)."""
    _check_k(k)
    bc = prep.bc
    bid = bc._jbroadcast.id()

    def run(batches):
        segs = _broadcast_segments(bc, bid)
        pairs = ((qid, [segs[t] for t in dict.fromkeys(qterms) if t in segs])
                 for pdf in batches
                 for qid, qterms in zip(pdf["qid"], pdf["terms"]))
        return _result_frames(pairs, k)

    return queries.selectExpr("CAST(qid AS BIGINT) AS qid", "terms") \
                  .mapInPandas(run, schema=RESULT_SCHEMA)
