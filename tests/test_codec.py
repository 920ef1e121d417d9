"""Codec unit + property tests (SURVEY.md §5 rebuild strategy, item 1)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from candidategeneration_spark import indexcodec as ic


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_vbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(ic.vbyte_decode(ic.vbyte_encode(arr)), arr)


@pytest.mark.parametrize("n", [0, 1, 2, 127, 128, 129, 1000, 10_000])
def test_delta_roundtrip(n):
    rng = np.random.default_rng(42)
    vals = np.sort(rng.choice(2**31 - 1, size=n, replace=False)).astype(np.int64)
    gaps = ic.delta_encode(vals)
    assert np.array_equal(ic.delta_decode(gaps), vals)


@pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 257, 5000])
def test_segment_roundtrip(n):
    rng = np.random.default_rng(7)
    dids = np.sort(rng.choice(10 * n + 10, size=n, replace=False)).astype(np.int64)
    scores = rng.integers(0, 10**8, size=n, dtype=np.int64)
    tfs = rng.integers(1, 50, size=n, dtype=np.int64)
    seg = ic.encode_postings(dids, scores, tfs)
    d, s, t = seg.decode_all()
    assert np.array_equal(d, dids)
    assert np.array_equal(s, scores)
    assert np.array_equal(t, tfs)
    assert seg.df == n
    assert seg.n_blocks == (n + ic.BLOCK_SIZE - 1) // ic.BLOCK_SIZE


def test_block_invariants():
    """Analogues of the reference's scan validators: per-list docIDs strictly
    increasing (testMassiveBinaryMerge, ExternalSort.java:294-316) and block
    max >= every member score (finda, WWWMain.java:277-305)."""
    rng = np.random.default_rng(3)
    n = 1000
    dids = np.sort(rng.choice(50_000, size=n, replace=False)).astype(np.int64)
    scores = rng.integers(0, 10**8, size=n, dtype=np.int64)
    seg = ic.encode_postings(dids, scores, np.ones(n, dtype=np.int64))
    for i in range(seg.n_blocks):
        d, s, _ = seg.decode_block(i)
        assert np.all(np.diff(d) > 0)
        assert s.max() <= seg.block_max[i]
        assert d[-1] == seg.block_last[i]
    assert np.all(np.diff(seg.block_last) > 0)


def test_negative_scores_rejected_by_encoder_contract():
    # negative quantized scores (df > N/2) are legal: vbyte stores uint64 views
    # of int64 — roundtrip must preserve sign through the int64 view.
    dids = np.array([1, 5, 9], dtype=np.int64)
    scores = np.array([-12345, 0, 7], dtype=np.int64)
    seg = ic.encode_postings(dids, scores, np.ones(3, dtype=np.int64))
    _, s, _ = seg.decode_all()
    assert np.array_equal(s, scores)


def test_random_block_access_matches_full_decode():
    rng = np.random.default_rng(11)
    n = 777
    dids = np.sort(rng.choice(100_000, size=n, replace=False)).astype(np.int64)
    scores = rng.integers(0, 10**7, size=n, dtype=np.int64)
    seg = ic.encode_postings(dids, scores, np.ones(n, dtype=np.int64))
    full_d, full_s, _ = seg.decode_all()
    # decode blocks in reverse order — independence of block decode
    got = [seg.decode_block(i)[0] for i in range(seg.n_blocks - 1, -1, -1)]
    assert np.array_equal(np.concatenate(got[::-1]), full_d)


def test_zigzag_roundtrip_negative_scores():
    import numpy as np
    from candidategeneration_spark.indexcodec import (
        zigzag_decode, zigzag_encode, vbyte_encode, vbyte_decode)
    v = np.array([0, -1, 1, -2, 2, -(10**12), 10**12, -7654321], np.int64)
    assert (zigzag_decode(zigzag_encode(v)) == v).all()
    # negative small scores must be cheap now: |v|<2^13 → ≤2 bytes
    small = np.arange(-8000, 8000, dtype=np.int64)
    enc = vbyte_encode(zigzag_encode(small))
    assert len(enc) <= 2 * small.size
    assert (zigzag_decode(vbyte_decode(enc)) == small).all()


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=400))
@settings(max_examples=200, deadline=None)
def test_pfor_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(ic.pfor_decode(ic.pfor_encode(arr)), arr)


@pytest.mark.parametrize("dist", ["zeros", "dense_gaps", "outliers", "big"])
def test_pfor_distributions(dist):
    rng = np.random.default_rng(3)
    if dist == "zeros":
        arr = np.zeros(1000, dtype=np.uint64)
    elif dist == "dense_gaps":
        arr = rng.integers(1, 8, 1000).astype(np.uint64)
    elif dist == "outliers":
        arr = rng.integers(1, 16, 1000).astype(np.uint64)
        arr[rng.choice(1000, 20, replace=False)] = rng.integers(
            2**30, 2**40, 20).astype(np.uint64)
    else:
        arr = rng.integers(0, 2**63, 1000).astype(np.uint64)
    assert np.array_equal(ic.pfor_decode(ic.pfor_encode(arr)), arr)


def test_pfor_beats_vbyte_on_tight_mode_with_outliers():
    """The codec's raison d'être: sub-byte-width gap distributions with
    rare outliers — VByte pays >=1 byte/value, PFor pays b bits + patches."""
    rng = np.random.default_rng(5)
    gaps = rng.integers(1, 8, 10_000).astype(np.uint64)   # 3-bit mode
    gaps[rng.choice(10_000, 50, replace=False)] = 1 << 20  # rare outliers
    pf = len(ic.pfor_encode(gaps))
    vb = len(ic.vbyte_encode(gaps))
    assert pf < vb * 0.6, (pf, vb)


# ---------------------------------------------------------------------------
# C3 — opposite VByte (the reference's forward-index layout, round 3)
# ---------------------------------------------------------------------------

def _reference_opp_decode(raw: bytes) -> list:
    """Scalar transcription of decodeRawDoc (utilsClass.java:61-79):
    n = n*128 + low7(b) on continuation bytes (>=128), emit on b < 128."""
    out, n = [], 0
    for b in raw:
        if b >= 128:
            n = n * 128 + (b & 0x7F)
        else:
            out.append(n * 128 + b)
            n = 0
    return out


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
@settings(max_examples=200, deadline=None)
def test_opp_vbyte_roundtrip(vals):
    v = np.array(vals, dtype=np.uint64)
    enc = ic.opp_vbyte_encode(v)
    assert np.array_equal(ic.opp_vbyte_decode(enc), v)


@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=100))
@settings(max_examples=150, deadline=None)
def test_opp_vbyte_encode_matches_reference_decoder(vals):
    """Bytes we emit must decode correctly under the REFERENCE's scalar
    algorithm — byte-level format compatibility, not just self-roundtrip."""
    enc = ic.opp_vbyte_encode(np.array(vals, dtype=np.uint64))
    assert _reference_opp_decode(enc) == vals


def test_opp_vbyte_is_not_leb128():
    """The two layouts must differ for any multi-byte value (same length,
    mirrored byte order + flag convention)."""
    v = np.array([300], dtype=np.uint64)  # 300 = 0b100101100
    opp = ic.opp_vbyte_encode(v)
    leb = ic.vbyte_encode(v)
    assert opp != leb
    assert opp == bytes([0x82, 0x2C])   # msb group first, flag on first
    assert leb == bytes([0xAC, 0x02])   # lsb group first, flag on first


def test_vbyte_uniform_width_fast_path():
    """Round-5 uniform-width decode: a block whose values share one LEB128
    byte length (the shape of x1e7-quantized BM25 score streams) decodes by
    reshape; verify exact equality against the encoder across widths and
    against near-miss shapes that must fall back to the general path."""
    for width_bits in (7, 14, 21, 28, 35, 42, 56, 63):
        lo = 1 << (width_bits - 7) if width_bits > 7 else 0
        hi = (1 << width_bits) - 1
        rng = np.random.default_rng(width_bits)
        v = rng.integers(lo, hi, 257, dtype=np.uint64)
        v |= np.uint64(lo)  # pin every value into the width band
        assert np.array_equal(ic.vbyte_decode(ic.vbyte_encode(v)), v)
    # near-miss: one value narrower / one wider than the rest
    base = np.full(128, 10_000_000, dtype=np.uint64)
    for outlier in (np.uint64(1), np.uint64(1) << np.uint64(40)):
        v = base.copy()
        v[67] = outlier
        assert np.array_equal(ic.vbyte_decode(ic.vbyte_encode(v)), v)
    # total size divisible by the first width but misaligned groups
    v = np.array([300, 5, 300, 300, 5, 300], dtype=np.uint64)  # 2+1 bytes
    assert np.array_equal(ic.vbyte_decode(ic.vbyte_encode(v)), v)


def test_vbyte_large_buffer_width_composition_path():
    """The >=4KiB general decode takes the per-width composition path;
    exact equality with the encoder on mixed widths spanning 1-10 bytes."""
    rng = np.random.default_rng(17)
    exps = rng.integers(0, 63, 20_000)
    v = (np.uint64(1) << exps.astype(np.uint64)) | \
        rng.integers(0, 1 << 20, 20_000).astype(np.uint64)
    v[rng.choice(20_000, 500, replace=False)] = np.uint64((1 << 64) - 1)
    v[rng.choice(20_000, 500, replace=False)] = np.uint64(0)
    enc = ic.vbyte_encode(v)
    assert len(enc) >= ic._WIDTH_DECODE_MIN_BYTES  # sanity: the big path
    assert np.array_equal(ic.vbyte_decode(enc), v)


from helpers_synth import synth_seg as _synth_seg  # noqa: E402


def test_lookup_kernel_differential():
    """topk_lookup (round-5 negative-hot selective lookup): whenever it
    answers, it must equal the exhaustive kernel exactly — and topk_auto
    (which may now dispatch to it) must ALWAYS equal exhaustive."""
    from candidategeneration_spark.queryengine import (
        topk_auto, topk_exhaustive, topk_lookup)

    answered = 0
    for trial in range(150):
        r = np.random.default_rng(10_000 + trial)
        nlists = int(r.integers(2, 5))
        universe = int(r.integers(50, 20_000))
        segs = []
        for li in range(nlists):
            n = int(r.integers(1, min(universe, int(r.integers(2, 5000)))))
            # mix all-negative lists (unsmoothed-IDF hot terms) with
            # positive ones, including near-zero maxes for boundary ties
            lo, hi = [(-1000, -1), (-50, 0), (1, 1000), (-100, 100)][
                int(r.integers(0, 4))]
            segs.append(_synth_seg(r, n, universe, lo, hi))
        for k in (1, 3, 10):
            ex = topk_exhaustive(segs, k)
            lk = topk_lookup(segs, k)
            if lk is not None:
                answered += 1
                assert np.array_equal(lk[0], ex[0]), (trial, k)
                assert np.array_equal(lk[1], ex[1]), (trial, k)
            au = topk_auto(segs, k)
            assert np.array_equal(au[0], ex[0]), (trial, k)
            assert np.array_equal(au[1], ex[1]), (trial, k)
    assert answered > 50  # the shape mix must actually exercise the kernel


def test_lookup_kernel_neg_hot_dispatch_and_block_economy():
    """The flagship shape — rare positive identifier + all-negative hot
    keyword list: topk_auto must dispatch the lookup kernel (not stream
    the hot list) and decode only candidate blocks."""
    from candidategeneration_spark.queryengine import (
        _CachingSegment, topk_auto, topk_exhaustive, topk_lookup)

    r = np.random.default_rng(77)
    hot = _synth_seg(r, 200_000, 400_000, -1_000_000, -1)
    rare = _synth_seg(r, 200, 400_000, 1, 1_000_000)
    ex = topk_exhaustive([rare, hot], 10)
    lk = topk_lookup([rare, hot], 10)
    assert lk is not None
    assert np.array_equal(lk[0], ex[0]) and np.array_equal(lk[1], ex[1])

    # serving wrapper: dispatches lookup, memoizes ONE full decode (the
    # same decode the exhaustive kernel would memoize) and answers
    # identically; repeat queries then pay only the binary search
    whot = _CachingSegment(hot)
    au = topk_auto([rare, whot], 10)
    assert np.array_equal(au[0], ex[0]) and np.array_equal(au[1], ex[1])
    assert whot._ds is not None            # amortized full decode
    au2 = topk_auto([rare, whot], 10)
    assert np.array_equal(au2[0], ex[0])

    # cold block economy (plain segments / non-resident caches): only
    # blocks containing a candidate are decoded — ≤ one per candidate,
    # all in a single vectorized decode_blocks_ds call
    class _ColdCache:
        cache_resident = False

        def __init__(self, seg):
            self.seg = seg
            self.decoded = set()
            self.calls = 0

        def __getattr__(self, name):
            return getattr(self.seg, name)

        def decode_blocks_ds(self, blocks):
            self.calls += 1
            self.decoded.update(int(b) for b in blocks)
            return self.seg.decode_blocks_ds(blocks)

    probe = _ColdCache(hot)
    lk2 = topk_lookup([rare, probe], 10)
    assert lk2 is not None
    assert np.array_equal(lk2[0], ex[0]) and np.array_equal(lk2[1], ex[1])
    assert len(probe.decoded) <= 200       # ≤ one block per candidate
    assert probe.calls == 1                # one vectorized pass, no loop


def test_lookup_kernel_tie_fallback_is_exact():
    """A neg-only doc TYING the k-th candidate score must win on doc_id —
    the lookup kernel must refuse (return None) and topk_auto must fall
    back to the exhaustive answer."""
    from candidategeneration_spark.queryengine import (
        topk_auto, topk_exhaustive, topk_lookup)

    k = 3
    # positive list: docs 100..102 score +2
    pos = ic.encode_postings(np.array([100, 101, 102], np.int64),
                             np.array([2, 2, 2], np.int64),
                             np.ones(3, np.int64))
    # negative list: doc 1 scores -3 (neg-only, smaller doc_id), docs
    # 100..102 score -5 → candidate totals -3 == neg bound → tie → None
    neg = ic.encode_postings(np.array([1, 100, 101, 102], np.int64),
                             np.array([-3, -5, -5, -5], np.int64),
                             np.ones(4, np.int64))
    assert topk_lookup([pos, neg], k) is None
    ex = topk_exhaustive([pos, neg], k)
    assert ex[0][0] == 1                   # the neg-only doc wins the tie
    au = topk_auto([pos, neg], k)
    assert np.array_equal(au[0], ex[0]) and np.array_equal(au[1], ex[1])
    # fewer candidates than k must also refuse
    assert topk_lookup([pos, neg], 4) is None


def test_decode_blocks_ds_property():
    """Vectorized multi-block decode == per-block loop, for random
    segments and random sorted-unique block subsets (incl. singletons,
    the full set, and block 0 / last-block boundaries)."""
    for trial in range(40):
        r = np.random.default_rng(20_000 + trial)
        n = int(r.integers(1, 3000))
        seg = _synth_seg(r, n, max(n + 1, 100_000), -10_000, 10_000)
        nb = seg.n_blocks
        subsets = [np.arange(nb),                       # full set
                   np.array([0]), np.array([nb - 1])]   # boundaries
        for _ in range(3):
            m = int(r.integers(1, nb + 1))
            subsets.append(np.sort(r.choice(nb, m, replace=False)))
        for blocks in subsets:
            d, s = seg.decode_blocks_ds(blocks)
            ref_d, ref_s = [], []
            for b in blocks:
                bd, bs = seg.decode_block_ds(int(b))
                ref_d.append(bd)
                ref_s.append(bs)
            assert np.array_equal(d, np.concatenate(ref_d)), (trial, blocks)
            assert np.array_equal(s, np.concatenate(ref_s)), (trial, blocks)
    # empty subset
    r = np.random.default_rng(0)
    seg = _synth_seg(r, 10, 100, 1, 5)
    d, s = seg.decode_blocks_ds(np.empty(0, np.int64))
    assert d.shape == (0,) and s.shape == (0,)


def test_single_and_decompose_kernels_differential():
    """The round-5-close batched kernels must equal the exhaustive kernel
    exactly on every input: topk_single (galloping metadata-ordered
    single-list top-k) across score signs, flat ties and k up to the
    list length; topk_decompose (dominant-list decomposition) across
    1-5 lists of every sign mix — including the shapes its dispatch gate
    would refuse, since exactness must not depend on the cost model."""
    from candidategeneration_spark.queryengine import (
        topk_decompose, topk_exhaustive, topk_single)

    for trial in range(60):
        r = np.random.default_rng(31_000 + trial)
        universe = int(r.integers(50, 40_000))
        n = int(r.integers(1, min(universe, int(r.integers(2, 20_000)))))
        lo = int(r.choice([-1000, -10, 0, 1]))
        hi = max(int(r.choice([2, 5, 100, 100_000])), lo + 2)
        seg = _synth_seg(r, n, universe, lo, hi)
        for k in (1, 3, 10, 100, 1000):
            a = topk_single(seg, k)
            b = topk_exhaustive([seg], k)
            assert np.array_equal(a[0], b[0]), (trial, k)
            assert np.array_equal(a[1], b[1]), (trial, k)

    for trial in range(90):
        r = np.random.default_rng(32_000 + trial)
        nlists = int(r.integers(1, 6))
        universe = int(r.integers(50, 30_000))
        segs = []
        for _ in range(nlists):
            n = int(r.integers(1, min(universe, int(r.integers(2, 8000)))))
            lo, hi = [(-1000, -1), (-50, 0), (1, 1000), (-100, 100),
                      (1, 3)][int(r.integers(0, 5))]
            segs.append(_synth_seg(r, n, universe, lo, hi))
        for k in (1, 3, 10, 50):
            a = topk_decompose(segs, k)
            b = topk_exhaustive(segs, k)
            assert np.array_equal(a[0], b[0]), (trial, k)
            assert np.array_equal(a[1], b[1]), (trial, k)


def test_topk_auto_dispatch_decisions():
    """Pins the round-5-close cost model. Single lists >= SINGLE_TOPK_MIN
    go to the batched topk_single; multi-list shapes go to topk_decompose
    whenever the non-dominant mass plus its ~128-posting/candidate cold
    lookups is under half the total stream; the negative-hot
    selective-lookup kernel keeps FIRST claim on its shape (it
    random-accesses every negative list where decompose fully decodes
    all but the largest).
    Decision-level test (monkeypatched kernel recorders) — timing lives
    in /tmp benches; exactness of whatever is picked is covered by the
    differential tests above."""
    import candidategeneration_spark.queryengine as qe

    calls = []
    reals = (qe.topk_single, qe.topk_decompose, qe.topk_lookup,
             qe.topk_exhaustive)

    def rec(name, f):
        def g(*a):
            calls.append(name)
            return f(*a)
        return g

    r = np.random.default_rng(99)
    hot = _synth_seg(r, 200_000, 800_000, 1, 1_000_000)
    neg_hot = _synth_seg(r, 200_000, 800_000, -1_000_000, -1)
    shapes = [
        ([_synth_seg(r, 30_000, 120_000, 1, 1_000_000)], "single"),
        ([_synth_seg(r, 20_000, 80_000, 1, 1_000_000)], "exh"),
        # (40 + 40*128)*2 = 10,320 < 200,040 -> decompose
        ([_synth_seg(r, 40, 800_000, 1, 1_000_000), hot], "decomp"),
        # (200 + 200*128)*2 = 51,600 < 200,200 -> decompose
        ([_synth_seg(r, 200, 800_000, 1, 1_000_000), hot], "decomp"),
        # small mass 2000: lookups cap at df -> (2000+200,000)*2 exceeds
        # the 202,000 stream -> exhaustive
        ([_synth_seg(r, 2000, 800_000, 1, 1_000_000), hot], "exh"),
        # non-max mass 240 across three lists -> decompose
        ([_synth_seg(r, 40, 800_000, 1, 1_000_000),
          _synth_seg(r, 200, 800_000, 1, 1_000_000), hot], "decomp"),
        # rare positive + all-negative hot -> the lookup kernel first
        ([_synth_seg(r, 200, 800_000, 1, 1_000_000), neg_hot], "lookup"),
    ]
    qe.topk_single = rec("single", reals[0])
    qe.topk_decompose = rec("decomp", reals[1])
    qe.topk_lookup = rec("lookup", reals[2])
    qe.topk_exhaustive = rec("exh", reals[3])
    try:
        for segs, expect in shapes:
            calls.clear()
            res = qe.topk_auto(segs, 10)
            assert calls and calls[0] == expect, (calls, expect)
            ex = reals[3](segs, 10)
            assert np.array_equal(res[0], ex[0])
            assert np.array_equal(res[1], ex[1])
    finally:
        (qe.topk_single, qe.topk_decompose, qe.topk_lookup,
         qe.topk_exhaustive) = reals


def test_topk_single_warm_posture_uses_memo():
    """Serving posture: topk_single on a _CachingSegment must (a) stay
    exact and (b) answer from the decode_ds memo — never through
    decode_blocks_ds, which __getattr__-delegates PAST the memo and
    re-decodes compressed blocks per query (the round-5 review finding)."""
    from candidategeneration_spark.queryengine import (
        _CachingSegment, topk_exhaustive, topk_single)

    r = np.random.default_rng(424242)
    raw = _synth_seg(r, 30_000, 200_000, -50, 1_000_000)
    warm = _CachingSegment(raw)
    calls = []
    orig = type(raw).decode_blocks_ds

    def spy(self, blocks):
        calls.append(len(blocks))
        return orig(self, blocks)

    type(raw).decode_blocks_ds = spy
    try:
        for k in (1, 10, 128, 129, 5000):
            a = topk_single(warm, k)
            b = topk_exhaustive([raw], k)
            assert np.array_equal(a[0], b[0]), k
            assert np.array_equal(a[1], b[1]), k
        assert calls == [], calls        # memo path only, zero block decodes
        assert warm._ds is not None      # the full decode was memoized once
        # cold raw segment still gallops (the batch-path strategy intact)
        topk_single(raw, 10)
        assert calls, "cold path should decode via blocks"
    finally:
        type(raw).decode_blocks_ds = orig
