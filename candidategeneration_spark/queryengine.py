"""Flash-fetch query engine: top-k BM25 candidate generation.

Re-expression of the reference's C++ online engine
(``algo_toplayer.cpp:85-290``): its budgeted top-layer loads, radix sort,
vector merge, quantile collapses and selective lookups (X1-X10 in SURVEY.md
§2.10) are an *unsafe approximate* pipeline; we replace it with exact
document-at-a-time scoring plus Block-Max WAND pruning — the safe version of
the same idea (impact-ordered prefixes ≈ block-max metadata; selective
lookup nextGEQ ≈ ``searchsorted`` over block skip pointers).

Two kernels with identical output, asserted equal in tests:

- :func:`topk_exhaustive` — decode everything, integer group-sum, top-k.
- :func:`topk_bmwand`     — Block-Max WAND: lists stay compressed; blocks
  whose max-score sum can't beat the running threshold are skipped without
  decoding. This is the 100 TB path: work is proportional to the blocks that
  *might* contain a top-k doc, not to list length.

Scores are int64 sums of pre-quantized per-term scores → associative →
rank-identical everywhere. Tie-break: (score desc, doc_id asc) — the
reference's final sort is score-only and unstable (``algo_toplayer.cpp:274``)
so we define the deterministic order and the oracle enforces it.

Spark orchestration (:func:`wand_topk`): the tiny exploded query-term table
is broadcast and hash-joined against the segment table — segments never
shuffle for the join; only the ≤|terms| matched segment rows per query move
in the final ``groupBy(qid)`` exchange. A query touches at most |q| segment
partitions, satisfying the term-partitioned layout goal of SURVEY.md §7.5.
"""

from __future__ import annotations

import heapq

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType, LongType, StructField, StructType,
)

from .indexcodec import Segment, segment_from_row

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

    Fully NumPy-vectorized (~50ns/posting) — the baseline the WAND path
    must beat by actually skipping work (see :func:`topk_auto`)."""
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


class _Cursor:
    """Lazy block-decoding cursor over one term's compressed list.

    BMW contract (round-2): SKIPPING a block must cost only metadata —
    round 1 decoded every block it landed on, even those pruned on the very
    next iteration, so 'skipping' a 1M-posting list still paid ~full decode
    (profiled: 85% of WAND wall time in decode_block). Now an undecoded
    position is represented by a LOWER BOUND on the next docID (``lb``):
    every remaining posting is >= lb by construction, which is exactly the
    property the WAND pivot/prune logic needs from cur_did — pruning and
    block jumps stay sound on bounds, and the block is decoded only when a
    window is actually evaluated (:meth:`decode_current`)."""

    __slots__ = ("seg", "bi", "pos", "dids", "scores", "exhausted",
                 "_max_score", "lb")

    def __init__(self, seg: Segment):
        self.seg = seg
        self.bi = 0
        self.pos = 0
        self.dids = None       # None = current block not decoded
        self.scores = None
        self.lb = 0            # lower bound on the next posting's docID
        self.exhausted = seg.n_blocks == 0
        # cached: the pivot search reads this every iteration — an O(blocks)
        # rescan here dominated long-list WAND runs (measured 15x slowdown)
        self._max_score = int(seg.block_max.max()) if not self.exhausted else 0

    @property
    def cur_did(self) -> int:
        """Exact next docID when decoded; else the sound lower bound."""
        if self.dids is not None:
            return int(self.dids[self.pos])
        return self.lb

    @property
    def max_score(self) -> int:
        """Global list max (WAND upper bound); cached at cursor creation."""
        return self._max_score

    def decode_current(self) -> None:
        """Materialize the current block (window evaluation only)."""
        if self.dids is None:
            d, s = self.seg.decode_block_ds(self.bi)
            self.dids, self.scores = d, s
            # covering-block invariant: block_last[bi] >= lb, so a posting
            # >= lb exists in this block and pos is in range
            self.pos = int(np.searchsorted(d, self.lb, side="left"))

    def block_max_for(self, did: int) -> int:
        """Max score of the block that would contain ``did`` (0 if past end).

        Pure metadata lookup — no block decode (the whole point of BMW)."""
        if did <= int(self.seg.block_last[self.bi]):
            return int(self.seg.block_max[self.bi])
        bi = self.seg.first_block_geq(did)
        if bi >= self.seg.n_blocks:
            return 0
        return int(self.seg.block_max[bi])

    def block_last_for(self, did: int) -> int:
        """Last docID of the block that would contain ``did``."""
        if did <= int(self.seg.block_last[self.bi]):
            return int(self.seg.block_last[self.bi])
        bi = self.seg.first_block_geq(did)
        if bi >= self.seg.n_blocks:
            return (1 << 62)
        return int(self.seg.block_last[bi])

    def next_geq(self, did: int):
        """Advance to the first posting >= did. Metadata-only unless the
        target falls inside an already-decoded block; never moves backward
        (no-op when the bound/position already satisfies ``did``)."""
        if self.exhausted or did <= self.cur_did:
            return
        if did > int(self.seg.block_last[self.bi]):
            nbi = self.seg.first_block_geq(did)
            if nbi >= self.seg.n_blocks:
                self.exhausted = True
                return
            self.bi = nbi
            self.dids = None
            self.scores = None
            self.lb = did
            return
        if self.dids is None:
            self.lb = did      # stays within the undecoded current block
            return
        # decoded block: did <= block_last so a posting >= did exists here
        self.pos = int(np.searchsorted(self.dids, did, side="left"))


def _multi_block_skip(c: "_Cursor", boundary: int, others_bm: list[int],
                      threshold: int, stop_cap: int) -> int:
    """Vectorized multi-block skip along the binding list (round-5).

    The plain BMW prune advances ONE covering block per Python loop
    iteration; on a skewed query (1M-posting hot list + 1k rare list) the
    hot list's ~8k block boundaries each cost a full pivot/sort/bound
    iteration (~10µs), so 'metadata-only' skipping still paid ~80ms of
    Python. This helper scans the binding list's block metadata in ONE
    NumPy pass instead.

    Soundness: on the docID range (boundary, stop_cap] every OTHER pivot
    list stays inside its current covering block (stop_cap = min of their
    covering-block ends and the next list's cur_did - 1), so its block-max
    contribution is the CONSTANT ``others_bm``; only the binding list ``c``
    crosses blocks there. For a doc in binding-block ``bi`` the safe bound
    is ``_safe_bound(others_bm + [block_max[bi]])``; for a doc the binding
    list skips entirely it is ``_safe_bound(others_bm)``, which is <=
    the already-failed covering bound by monotonicity. Returns the first
    docID in (boundary, stop_cap + 1] not provably below ``threshold``:
    the start of the first binding block whose bound reaches it, else
    ``stop_cap + 1``.
    """
    bl, bm = c.seg.block_last, c.seg.block_max
    nb = bl.shape[0]
    # first block past the failed covering block; its start is bl[bi0-1]+1
    bi0 = int(np.searchsorted(bl, boundary, side="left")) + 1
    # last block whose range intersects (boundary, stop_cap]: block bi
    # covers (bl[bi-1], bl[bi]], intersecting iff bl[bi-1] < stop_cap
    hi = min(int(np.searchsorted(bl, stop_cap, side="left")) + 1, nb)
    if bi0 >= hi:
        return stop_cap + 1
    x = bm[bi0:hi]
    pos_o = 0
    mx_o = None
    for v in others_bm:
        if v > 0:
            pos_o += v
        if mx_o is None or v > mx_o:
            mx_o = v
    # vectorized _safe_bound(others_bm + [x]) with others held constant
    if pos_o > 0:
        bounds = pos_o + np.maximum(x, 0)
    elif mx_o is None:
        bounds = x
    else:
        bounds = np.where(x > 0, x, np.maximum(x, mx_o))
    hit = np.nonzero(bounds >= threshold)[0]
    if hit.shape[0] == 0:
        return stop_cap + 1
    bi_star = bi0 + int(hit[0])
    return int(bl[bi_star - 1]) + 1


def _safe_bound(vals: list[int]) -> int:
    """Max possible sum over any NON-EMPTY subset of ``vals``.

    Classic WAND assumes non-negative term upper bounds; the reference BM25
    has unsmoothed IDF, so terms with df > N/2 carry NEGATIVE quantized
    scores and plain prefix sums would under-estimate (a doc in a strict
    subset of lists can outscore the full sum). The safe bound is the sum of
    the positive maxes, or the single largest max when all are negative.
    Monotone non-decreasing as lists are added → the pivot rule stays sound.
    """
    pos = 0
    best = -(1 << 62)
    has_pos = False
    for v in vals:
        if v > 0:
            pos += v
            has_pos = True
        if v > best:
            best = v
    return pos if has_pos else best


def topk_bmwand(segments: list[Segment], k: int):
    """Block-Max WAND (Ding & Suel 2011 semantics), exact top-k, with
    BLOCK-AT-A-TIME vectorized evaluation (round-2).

    Pruning is strict (< threshold), never on equality, so ties are always
    fully evaluated and the (score desc, doc_id asc) order is exact.
    Negative-score-safe (see :func:`_safe_bound`).

    Round 1 stepped doc-by-doc in Python whenever pruning failed — ~50×
    the vectorized per-posting cost, so WAND only won under extreme skew.
    Now a failed prune evaluates the whole covering-block WINDOW
    [pivot_did, W] (W = min end of the lists' current blocks) in one NumPy
    group-sum: every Python-loop iteration either SKIPS a block range
    (metadata only) or SCORES up to a block's worth of postings vectorized
    — per-posting Python overhead is gone from both paths, keeping serving
    p99 flat when lists are 100× longer.
    """
    cursors = [_Cursor(s) for s in segments if s.n_blocks > 0]
    if not cursors:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    heap: list[tuple[int, int]] = []  # (score, -doc_id) min-heap of top-k
    threshold = -(1 << 62)
    # SAFE threshold priming (the exact form of the reference's
    # sampled-quantile threshold, InvertedIndex.java:500-512 / O7): a list
    # with >= k blocks contains >= k DISTINCT docs scoring >= its k-th
    # largest block_max, so for a SINGLE-list query the final top-k
    # threshold is >= that value — pure metadata, sound lower bound, and
    # pruning below it is valid even before the heap fills (>= k better
    # docs provably exist). Restricted to single-list queries: with more
    # lists a doc's total can drop BELOW its one-list score (unsmoothed
    # IDF → negative contributions), which would break the bound.
    prime = -(1 << 62)
    if len(cursors) == 1:
        bm = cursors[0].seg.block_max
        if bm.shape[0] >= k:
            prime = int(np.partition(bm, bm.shape[0] - k)[bm.shape[0] - k])

    while True:
        live = [c for c in cursors if not c.exhausted]
        if not live:
            break
        live.sort(key=lambda c: c.cur_did)
        # pivot: first list where the cumulative safe upper bound could
        # still reach the threshold. Pruning is strict (>=) so tied scores
        # are always evaluated (doc_id tie-break must stay exact).
        # effective threshold: the heap's k-th score once full, else the
        # prime (sound lower bound on the final threshold; -inf without
        # one) — pruning against either is exact
        eff_threshold = threshold if threshold > prime else prime
        maxes: list[int] = []
        pivot = -1
        for i, c in enumerate(live):
            maxes.append(c.max_score)
            if len(heap) < k and prime == -(1 << 62):
                pivot = i
                break
            if _safe_bound(maxes) >= eff_threshold:
                pivot = i
                break
        if pivot < 0:
            break  # even all lists together can't reach the threshold
        pivot_did = live[pivot].cur_did
        # extend pivot across lists tied on pivot_did: they contribute to
        # the doc's score and must be in the bound before any prune
        while pivot + 1 < len(live) and live[pivot + 1].cur_did == pivot_did:
            pivot += 1
        # block-max refinement: bound with the max of the block that would
        # contain pivot_did in each list (metadata only, no decode)
        bm_sum = _safe_bound(
            [c.block_max_for(pivot_did) for c in live[: pivot + 1]])
        if bm_sum < eff_threshold:
            # No doc in [pivot_did, boundary] can make top-k: every list's
            # covering block ends at >= boundary, so scores there are bounded
            # by bm_sum. Jump past the smallest block boundary — the
            # block-max skip of the north star.
            pivot_set = live[: pivot + 1]
            ends = [c.block_last_for(pivot_did) for c in pivot_set]
            j = min(range(len(ends)), key=ends.__getitem__)
            boundary = ends[j]
            target = boundary + 1
            if pivot + 1 < len(live):
                target = min(target, live[pivot + 1].cur_did)
            target = max(target, pivot_did + 1)
            # multi-block fast path: while every OTHER pivot list stays in
            # its current covering block (and no list past the pivot starts),
            # scan the binding list's block metadata vectorized instead of
            # re-entering the loop once per block (see _multi_block_skip)
            stop_cap = min(
                (e for i2, e in enumerate(ends) if i2 != j),
                default=(1 << 62))
            if pivot + 1 < len(live):
                stop_cap = min(stop_cap, live[pivot + 1].cur_did - 1)
            if stop_cap > boundary:
                others_bm = [c.block_max_for(pivot_did)
                             for i2, c in enumerate(pivot_set) if i2 != j]
                target = max(target, _multi_block_skip(
                    pivot_set[j], boundary, others_bm,
                    eff_threshold, stop_cap))
            for c in pivot_set:
                c.next_geq(target)
            continue
        # EVALUATE window: align every list onto >= pivot_did (prefix lists
        # skip their sub-pivot docs — the WAND invariant says those can't
        # reach the threshold), then group-sum all postings in
        # [pivot_did, W] where W = min end of the aligned current blocks —
        # each list's slice is within one block, decoded HERE and only here
        # (a list whose lower bound already exceeds W has nothing in the
        # window and stays compressed).
        for c in live[:pivot]:
            c.next_geq(pivot_did)
        alive = [c for c in live if not c.exhausted]
        if not alive:
            continue
        W = min(int(c.seg.block_last[c.bi]) for c in alive)
        cand_d, cand_s = [], []
        for c in alive:
            if c.cur_did > W:
                continue
            c.decode_current()
            hi = int(np.searchsorted(c.dids, W, side="right"))
            if hi > c.pos:
                cand_d.append(c.dids[c.pos:hi])
                cand_s.append(c.scores[c.pos:hi])
        if cand_d:
            dids = np.concatenate(cand_d)
            scs = np.concatenate(cand_s)
            uniq, sums = _group_sum(dids, scs)
            # push best-first; once an item can't beat the heap min, none
            # of the remaining (sorted) candidates can either
            for i in np.lexsort((uniq, -sums)):
                item = (int(sums[i]), -int(uniq[i]))
                if len(heap) < k:
                    heapq.heappush(heap, item)
                    if len(heap) == k:
                        threshold = heap[0][0]
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
                    threshold = heap[0][0]
                else:
                    break
        for c in alive:
            c.next_geq(W + 1)
    if not heap:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    items = sorted(heap, key=lambda t: (-t[0], -t[1]))
    dids = np.array([-d for _, d in items], dtype=np.int64)
    scs = np.array([s for s, _ in items], dtype=np.int64)
    return dids, scs


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
    # (block_last[bi-1], block_last[bi]])
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

    Block-at-a-time WAND already skips un-competitive blocks, but pays
    ~110 µs of per-call NumPy overhead per block it does decode — ruinous
    when k is large (a top-1000 prefix decodes ~10% of a uniform-score
    list's blocks one by one). Here the block-max metadata drives the
    same pruning with two vectorized decodes:

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
    lists' combined length; measured 6.3x over multi-list WAND and 6.9x
    over exhaustive on rare=1k × hot=1M, 4-6x over WAND in every cell
    (WAND pays ~110 µs per pivot in per-block decode overhead; this path
    batches the very same block decodes)."""
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
# batched metadata-ordered kernels (topk_single / topk_decompose) landed.
# They displace block-at-a-time WAND from BOTH auto-dispatch slots — WAND
# pays ~110 us of per-call NumPy overhead per block it decodes plus
# ~100-190 us per pivot iteration, while the batched kernels drive the
# SAME block-max pruning with O(log blocks) vectorized decode calls.
# Measured win regions (min-of-5, this host, same synth shapes as the
# differential tests; exhaustive streams at ~90 ns/posting):
#   - single list: topk_single beats WAND in EVERY (n, k) cell — 1M/k=10:
#     1.14 vs 1.24 ms; 1M/k=1000: 10.5 vs 110 ms; flat-score 1M: 49 vs
#     348 ms. vs exhaustive the crossover stays ~25k postings (9-46x win
#     on skewed scores; the flat-score worst case is bounded at ~1.7x
#     exhaustive by the galloping 2x decode bound).
#   - multi list: topk_decompose (decode the small lists exactly, random-
#     access the dominant list for their candidates, cover everything
#     else with the dominant list's own topk_single prefix) beats WAND in
#     every measured cell (4-6x uniformly: rare=250 x hot=1M: 6.2 vs
#     28.1 ms; rare=1k: 13.9 vs 88.3; mid=25k 3-list: 132 vs 695) and
#     beats exhaustive whenever the non-dominant mass times the ~128-
#     posting/candidate cold lookup cost is under streaming the whole
#     thing (rare=250: 6.2 vs 97.7 ms; rare=5k: 63.6 vs 85.8; rare=20k
#     loses 143.7 vs 87 — the x2-margin cost gate below refuses it
#     there). That is a ~15x wider win corner than WAND's old 2000x
#     dominance requirement, with no positivity precondition.
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


def _kernel(use_wand) -> "callable":
    if use_wand == "auto":
        return topk_auto
    return topk_bmwand if use_wand else topk_exhaustive


class _CachingSegment:
    """Segment wrapper memoizing the query-path decodes — queries sharing a
    term in the same worker decode each block once (the reference keeps
    loaded top-layer arrays resident across queries,
    algo_toplayer.cpp:393-474). Hot metadata (df, block arrays) is copied to
    real attributes: ``__getattr__`` indirection on every cursor metadata
    probe was measurable in serving p50."""

    __slots__ = ("seg", "_blocks", "_ds",
                 "df", "block_last", "block_max", "block_n")

    cache_resident = True  # decode memoization amortizes across queries

    def __init__(self, seg: Segment):
        self.seg = seg
        self._blocks: dict[int, tuple] = {}
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

    def decode_block_ds(self, i: int):
        b = self._blocks.get(i)
        if b is None:
            b = self.seg.decode_block_ds(i)
            self._blocks[i] = b
        return b

    def decode_ds(self):
        if self._ds is None:
            self._ds = self.seg.decode_ds()
        return self._ds

    def first_block_geq(self, did: int) -> int:
        return self.seg.first_block_geq(did)


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


def _query_group(pdf: pd.DataFrame, k: int, use_wand) -> pd.DataFrame:
    qid = int(pdf["qid"].iloc[0])
    segs = [segment_from_row(row._asdict())
            for row in pdf.itertuples(index=False)]
    fn = _kernel(use_wand)
    dids, scs = fn(segs, k)
    n = dids.shape[0]
    return pd.DataFrame({
        "qid": np.full(n, qid, dtype=np.int64),
        "rank": np.arange(n, dtype=np.int32),
        "doc_id": dids,
        "score_q": scs,
    })


def wand_topk(segments: DataFrame, queries: DataFrame, k: int = 10,
              use_wand="auto", mode: str = "join") -> DataFrame:
    """queries (qid, terms array<string>) × segments → (qid, rank, doc_id,
    score_q). Queries whose terms all miss the index produce no rows.

    Two physical strategies (same results, asserted in tests):

    - ``mode="join"``: broadcast the exploded query terms, hash-join against
      the segment table, groupBy(qid). Segments never shuffle for the join,
      but each query gets its own copy of its terms' blobs in the final
      exchange — right when the term universe is huge and queries are few
      or disjoint (ad-hoc analytics over a 10^12-file index).
    - ``mode="broadcast"``: collect only the segments matching the batch's
      term set, broadcast once, fan queries out with mapInPandas. No
      per-query blob duplication, per-worker decode caching — right for
      query serving where batches share a bounded working set (hot lists
      ship once per executor instead of once per query).
    """
    from .config import ensure_on_executors
    ensure_on_executors(segments.sparkSession)
    if mode == "broadcast":
        return _wand_topk_broadcast(segments, queries, k, use_wand)
    # per-query term dedup BEFORE the explode (a repeated query term must
    # not double-count its list): array_distinct is a map-side expression,
    # where the old (qid, term).distinct() paid a whole extra shuffle stage
    # per batch. Contract: one row per qid (duplicated qids would merge in
    # the groupBy below under either formulation).
    qterms = queries.select(
        F.col("qid").cast("long").alias("qid"),
        F.explode(F.array_distinct("terms")).alias("term"),
    )
    matched = segments.join(F.broadcast(qterms), "term")
    return matched.groupBy("qid").applyInPandas(
        lambda pdf: _query_group(pdf, k, use_wand), schema=RESULT_SCHEMA)


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
    from pyspark.sql import SparkSession  # noqa: F401
    spark = segments.sparkSession
    seg = segments if terms is None else \
        segments.where(F.col("term").isin(sorted(set(terms))))
    if terms is None:
        n = seg.count()
        if n > max_segments:
            raise ValueError(
                f"prepare_index(terms=None) would collect {n} segments to "
                f"the driver (> {max_segments}); pass the query term set "
                "or use wand_topk(mode='join')")
    rows = seg.collect()
    payload = [(r["term"], {f: r[f] for f in
                            ("df", "did_blob", "score_blob", "tf_blob",
                             "block_last", "block_max", "block_n",
                             "did_off", "score_off", "tf_off")})
               for r in rows]
    return PreparedIndex(spark, spark.sparkContext.broadcast(payload))


def wand_topk_prepared(prep: PreparedIndex, queries: DataFrame, k: int = 10,
                       use_wand="auto") -> DataFrame:
    """Serve a query batch against a PreparedIndex (no driver-side work
    besides plan submission)."""
    bc = prep.bc
    bid = bc._jbroadcast.id()

    def run(batches):
        segs = _broadcast_segments(bc, bid)
        fn = _kernel(use_wand)
        # result assembly in flat numpy accumulators — a per-query
        # pd.DataFrame + one giant concat was ~40% of serving overhead at
        # 10k-query batches (DataFrame construction costs ~100µs each,
        # the kernel ~1ms)
        for pdf in batches:
            qids_a, dids_a, scs_a, ns = [], [], [], []
            for qid, qterms in zip(pdf["qid"], pdf["terms"]):
                qsegs = [segs[t] for t in dict.fromkeys(qterms) if t in segs]
                dids, scs = fn(qsegs, k)
                n = dids.shape[0]
                if n:
                    qids_a.append(np.full(n, qid, dtype=np.int64))
                    dids_a.append(dids)
                    scs_a.append(scs)
                    ns.append(n)
            if ns:
                ranks = np.concatenate(
                    [np.arange(n, dtype=np.int32) for n in ns])
                yield pd.DataFrame({
                    "qid": np.concatenate(qids_a),
                    "rank": ranks,
                    "doc_id": np.concatenate(dids_a),
                    "score_q": np.concatenate(scs_a)})
            else:
                yield pd.DataFrame({"qid": [], "rank": [], "doc_id": [],
                                    "score_q": []})

    return queries.select(F.col("qid").cast("long").alias("qid"), "terms") \
                  .mapInPandas(run, schema=RESULT_SCHEMA)


def _wand_topk_broadcast(segments: DataFrame, queries: DataFrame,
                         k: int, use_wand) -> DataFrame:
    terms = sorted({t for r in queries.select("terms").collect()
                    for t in (r["terms"] or [])})
    prep = prepare_index(segments, terms)
    return wand_topk_prepared(prep, queries, k, use_wand)
