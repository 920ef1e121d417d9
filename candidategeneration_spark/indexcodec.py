"""Posting-list codec: delta + variable-byte compression and block-max blocks.

NumPy (plus pyarrow for the batch encoder's columnar output) — no Spark
imports. These kernels run inside Arrow-batched UDFs (``mapInArrow``,
``applyInPandas``) on executors; keeping them Spark-free makes them
unit-testable and property-testable in isolation.

Capability parity (see SURVEY.md §2.8): the reference compresses posting
lists with classic VByte (``src/PredictiveIndex/VariableByteCode.java:18-57``)
and a delta (d-gap) variant (``VariableByteCode.java:68-113``), and its query
engine skips inside lists via an external block-structured index (nextGEQ,
``algo_toplayer.cpp:860-976``). We implement the same *capabilities* with our
own byte conventions:

- varint: little-endian 7-bit groups, high bit set = continuation (LEB128
  convention, NOT the reference's terminator-on-last-byte bit layout).
- d-gap: strictly-increasing docIDs stored as ``first, gap, gap, ...``.
- blocks: fixed ``BLOCK_SIZE`` postings per block; per block we keep the last
  docID (skip pointer — the nextGEQ analogue) and the max quantized BM25
  contribution (block-max metadata for top-k pruning — the "predictive skip
  structure" of the north star).

Scores are stored pre-quantized (``int64``) exactly like the reference stores
a quantized BM25 int in every posting (``InvertedIndex.java:305-308``), so
query-time multi-term scores are integer sums — associative and therefore
rank-identical regardless of execution order.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

BLOCK_SIZE = 128

_U64 = np.uint64
_SEVEN = _U64(7)
_MASK7 = _U64(0x7F)


def vbyte_encode_with_offsets(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a 1-D array of non-negative ints. Vectorized.

    Returns (encoded bytes, int64 offsets[n+1]) where value i occupies
    ``bytes[offsets[i]:offsets[i+1]]`` — lets callers slice out byte ranges
    of contiguous sub-runs (the batched multi-term encoder)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.shape[0]
    if n == 0:
        return b"", np.zeros(1, dtype=np.int64)
    nbytes = np.ones(n, dtype=np.int64)
    for i in range(1, 10):
        nbytes += (v >= (_U64(1) << _U64(7 * i))).astype(np.int64)
    offsets = np.empty(n + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    maxb = int(nbytes.max())
    starts = offsets[:-1]
    for j in range(maxb):
        mask = nbytes > j
        idx = starts[mask] + j
        payload = ((v[mask] >> _U64(7 * j)) & _MASK7).astype(np.uint8)
        cont = ((nbytes[mask] > j + 1).astype(np.uint8)) << 7
        out[idx] = payload | cont
    return out.tobytes(), offsets


def vbyte_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a 1-D array of non-negative ints. Vectorized."""
    return vbyte_encode_with_offsets(values)[0]


def vbyte_decode(buf: bytes | memoryview | np.ndarray) -> np.ndarray:
    """Decode a LEB128 byte stream to a uint64 array. Vectorized."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    if not (b & 0x80).any():
        # all single-byte values (< 128): the bytes ARE the values — the
        # common case for d-gaps of dense lists and tf streams
        return b.astype(np.uint64)
    # uniform-width fast path (round-5): quantized BM25 scores inside one
    # 128-posting block share a magnitude band, so every value encodes to
    # the SAME byte length L (typically 4). Detect by the first
    # terminator, verify with two strided mask checks, decode by reshape —
    # the general grouped-reduceat path costs ~3x more per small block,
    # and block decode is the serving kernel's hot path.
    first_end = int(np.argmax((b & 0x80) == 0))
    width = first_end + 1
    if b.shape[0] % width == 0:
        m = b.reshape(-1, width)
        if not (m[:, -1] & 0x80).any() and (width == 1
                                            or (m[:, :-1] & 0x80).all()):
            vals = (m[:, 0].astype(np.uint64) & _MASK7)
            for j in range(1, width):
                vals |= (m[:, j].astype(np.uint64) & _MASK7) << _U64(7 * j)
            return vals
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.empty(ends.shape[0], dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    if b.shape[0] >= _WIDTH_DECODE_MIN_BYTES:
        # large-buffer general path (round-5): compose values per byte
        # position — at most 10 passes, each touching only the values
        # still wide enough. ~1.8x the grouped-reduceat path on full-list
        # decodes (the exhaustive kernel's shape); on small per-block
        # buffers the extra call count loses, so reduceat keeps those.
        vals = b[starts].astype(np.uint64) & _MASK7
        w = ends - starts  # byte width - 1 per value
        alive = None
        for j in range(1, int(w.max()) + 1):
            alive = np.flatnonzero(w >= j) if alive is None \
                else alive[w[alive] >= j]
            vals[alive] |= (b[starts[alive] + j].astype(np.uint64)
                            & _MASK7) << _U64(7 * j)
        return vals
    group = np.zeros(b.shape[0], dtype=np.int64)
    group[starts] = 1
    np.cumsum(group, out=group)
    group -= 1
    pos_in_group = np.arange(b.shape[0], dtype=np.int64) - starts[group]
    contrib = (b.astype(np.uint64) & _MASK7) << (
        (_SEVEN * pos_in_group.astype(np.uint64))
    )
    return np.add.reduceat(contrib, starts)


# crossover measured on this host: per-width composition wins from ~4 KiB
_WIDTH_DECODE_MIN_BYTES = 4096


def opp_vbyte_encode(values: np.ndarray) -> bytes:
    """C3 — "opposite" VByte, the reference's forward-index byte layout
    (``decodeRawDoc``, ``utilsClass.java:61-79``): 7-bit groups stored
    MOST-significant first, continuation bit (0x80) on every byte EXCEPT
    the terminating least-significant one — the mirror image of LEB128
    (whose groups are little-endian with the flag marking continuation).
    Kept as an available codec for byte-level compatibility with forward
    indexes in the reference's format; segments default to LEB128.
    Vectorized like vbyte_encode_with_offsets."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.shape[0]
    if n == 0:
        return b""
    nbytes = np.ones(n, dtype=np.int64)
    for i in range(1, 10):
        nbytes += (v >= (_U64(1) << _U64(7 * i))).astype(np.int64)
    offsets = np.empty(n + 1, dtype=np.int64)
    offsets[0] = 0
    np.cumsum(nbytes, out=offsets[1:])
    out = np.zeros(offsets[-1], dtype=np.uint8)
    maxb = int(nbytes.max())
    starts = offsets[:-1]
    for j in range(maxb):
        mask = nbytes > j
        # byte j carries the (k-1-j)-th 7-bit group, big-endian
        shift = ((nbytes[mask] - 1 - j).astype(np.uint64)) * _SEVEN
        payload = ((v[mask] >> shift) & _MASK7).astype(np.uint8)
        cont = ((nbytes[mask] > j + 1).astype(np.uint8)) << 7
        out[starts[mask] + j] = payload | cont
    return out.tobytes()


def opp_vbyte_decode(buf: bytes | memoryview | np.ndarray) -> np.ndarray:
    """Decode the reference's opposite-VByte stream (terminator = high bit
    CLEAR on the last byte; groups big-endian). Vectorized twin of
    ``decodeRawDoc`` (``utilsClass.java:61-79``): the scalar loop
    ``n = n*128 + (b & 0x7f)`` / emit on ``b < 128`` becomes a reduceat
    over per-byte contributions shifted by distance-from-terminator."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    if not (b & 0x80).any():
        return b.astype(np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    starts = np.empty(ends.shape[0], dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    group = np.zeros(b.shape[0], dtype=np.int64)
    group[starts] = 1
    np.cumsum(group, out=group)
    group -= 1
    dist_from_end = (ends[group] - np.arange(b.shape[0], dtype=np.int64))
    contrib = (b.astype(np.uint64) & _MASK7) << (
        _SEVEN * dist_from_end.astype(np.uint64))
    return np.add.reduceat(contrib, starts)


def zigzag_encode(vals: np.ndarray) -> np.ndarray:
    """int64 → uint64 zigzag (0,-1,1,-2 → 0,1,2,3): negative quantized BM25
    scores (unsmoothed IDF, df > N/2 — the LONGEST lists) would otherwise
    VByte-encode as 10 bytes each via two's-complement."""
    a = np.ascontiguousarray(vals, dtype=np.int64)
    return ((a << 1) ^ (a >> 63)).view(np.uint64)


def zigzag_decode(vals: np.ndarray) -> np.ndarray:
    u = np.ascontiguousarray(vals, dtype=np.uint64)
    return ((u >> _U64(1)).view(np.int64)) ^ -((u & _U64(1)).view(np.int64))


def delta_encode(sorted_vals: np.ndarray) -> np.ndarray:
    """Strictly-increasing int64 array → [first, gaps...] (uint64)."""
    a = np.ascontiguousarray(sorted_vals, dtype=np.int64)
    if a.shape[0] == 0:
        return np.empty(0, dtype=np.uint64)
    out = np.empty(a.shape[0], dtype=np.uint64)
    out[0] = a[0]
    np.subtract(a[1:], a[:-1], out=out[1:], casting="unsafe")
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    """Inverse of :func:`delta_encode`; returns int64."""
    if gaps.shape[0] == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(gaps.astype(np.int64))


# --------------------------------------------------------------------------
# PForDelta (C4): bit-packed "frame of reference" with patched exceptions.
# The reference depends on a PForDelta implementation for its compressed
# lists (pom.xml:241-245); segments here default to delta+VByte (the north
# star's mandated codec) and this is the optional alternative for
# gap-distributions with a tight mode + rare outliers, where a fixed b-bit
# frame beats per-value byte alignment. Format (little-endian):
#   header  b:u8  n:u32  n_exc:u32  pos_len:u32
#   packed  ceil(n*b/8) bytes — each value's low b bits, LSB-first
#   pos     vbyte(delta(exception positions))      [pos_len bytes]
#   high    vbyte(value >> b per exception)        [to end]
# b is chosen per call by exact cost minimization over 0..32; values that
# don't fit b bits keep their low bits in the frame and patch the high
# bits from the exception stream (Zukowski et al. 2006 semantics).
# --------------------------------------------------------------------------

_PFOR_HEADER = 13  # 1 + 4 + 4 + 4


def _pack_bits(vals: np.ndarray, b: int) -> bytes:
    """Pack each value's low b bits into a contiguous LSB-first bitstream."""
    if b == 0 or vals.shape[0] == 0:
        return b""
    n = vals.shape[0]
    out = np.zeros((n * b + 7) // 8, dtype=np.uint8)
    bitpos = np.arange(n, dtype=np.int64) * b
    for bit in range(b):
        p = bitpos + bit
        np.bitwise_or.at(
            out, p >> 3,
            ((vals >> _U64(bit)) & _U64(1)).astype(np.uint8)
            << (p & 7).astype(np.uint8))
    return out.tobytes()


def _unpack_bits(buf, n: int, b: int) -> np.ndarray:
    if b == 0 or n == 0:
        return np.zeros(n, dtype=np.uint64)
    arr = np.frombuffer(buf, dtype=np.uint8)
    bitpos = np.arange(n, dtype=np.int64) * b
    out = np.zeros(n, dtype=np.uint64)
    for bit in range(b):
        p = bitpos + bit
        out |= ((arr[p >> 3] >> (p & 7).astype(np.uint8))
                & 1).astype(np.uint64) << _U64(bit)
    return out


def pfor_encode(values: np.ndarray) -> bytes:
    """PForDelta-encode a 1-D array of non-negative (uint64) ints."""
    import struct
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = v.shape[0]
    if n == 0:
        return struct.pack("<BIII", 0, 0, 0, 0)
    best_b, best_cost = 0, None
    for b in range(0, 33):
        n_exc = int((v >= (_U64(1) << _U64(b))).sum())
        cost = (n * b + 7) // 8 + 3 * n_exc  # ≈2B pos + ≥1B high each
        if best_cost is None or cost < best_cost:
            best_b, best_cost = b, cost
    b = best_b
    exc = v >= (_U64(1) << _U64(b))
    low = v & ((_U64(1) << _U64(b)) - _U64(1)) if b else np.zeros_like(v)
    packed = _pack_bits(low, b)
    pos = np.flatnonzero(exc)
    pos_bytes = vbyte_encode(delta_encode(pos))
    high_bytes = vbyte_encode(v[exc] >> _U64(b))
    return (struct.pack("<BIII", b, n, int(pos.shape[0]), len(pos_bytes))
            + packed + pos_bytes + high_bytes)


def pfor_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`pfor_encode` → uint64 array."""
    import struct
    b, n, n_exc, pos_len = struct.unpack_from("<BIII", buf, 0)
    off = _PFOR_HEADER
    plen = (n * b + 7) // 8
    out = _unpack_bits(buf[off:off + plen], n, b)
    off += plen
    if n_exc:
        pos = delta_decode(vbyte_decode(buf[off:off + pos_len]))
        high = vbyte_decode(buf[off + pos_len:])
        out[pos] |= high << _U64(b)
    return out


class Segment:
    """In-memory decoded view of one term's compressed posting list.

    Columns inside the segment are the columnar micro-structure the
    reference builds at query time from raw ``did[]``/``score[]`` files
    (``algo_toplayer.cpp:393-474``), plus block-skip metadata.
    """

    __slots__ = (
        "df",
        "did_blob",
        "score_blob",
        "tf_blob",
        "block_last",
        "block_max",
        "block_n",
        "did_off",
        "score_off",
        "tf_off",
    )

    # True on decode-memoizing wrappers (queryengine._CachingSegment):
    # tells the lookup kernel a full decode amortizes across queries
    cache_resident = False

    def __init__(self, df, did_blob, score_blob, tf_blob, block_last,
                 block_max, block_n, did_off, score_off, tf_off):
        self.df = int(df)
        self.did_blob = did_blob
        self.score_blob = score_blob
        self.tf_blob = tf_blob
        self.block_last = np.asarray(block_last, dtype=np.int64)
        self.block_max = np.asarray(block_max, dtype=np.int64)
        self.block_n = np.asarray(block_n, dtype=np.int64)
        self.did_off = np.asarray(did_off, dtype=np.int64)
        self.score_off = np.asarray(score_off, dtype=np.int64)
        self.tf_off = np.asarray(tf_off, dtype=np.int64)

    @property
    def n_blocks(self) -> int:
        return int(self.block_last.shape[0])

    def decode_block_ds(self, i: int):
        """Decode block ``i`` → (doc_ids int64, scores int64), skipping the
        tf stream — the BM25 query path never reads tfs (scores are
        pre-quantized), so decoding them was a third of kernel decode cost."""
        d0, d1 = self.did_off[i], self.did_off[i + 1]
        s0, s1 = self.score_off[i], self.score_off[i + 1]
        gaps = vbyte_decode(self.did_blob[d0:d1])
        dids = np.cumsum(gaps.astype(np.int64))
        if i > 0:
            # gaps within a block are relative to the previous block's last
            # docID so every block decodes independently (random access).
            dids += self.block_last[i - 1]
        scores = zigzag_decode(vbyte_decode(self.score_blob[s0:s1]))
        return dids, scores

    def decode_blocks_ds(self, blocks: np.ndarray):
        """Decode a SORTED-UNIQUE subset of blocks in one vectorized pass
        → (doc_ids, scores), globally sorted.

        Because block-head gaps re-anchor on the previous block's LAST
        docID (see :meth:`decode_block_ds`), every block decodes
        independently — so the selected blocks' byte ranges can be joined
        into ONE buffer and fed to a single ``vbyte_decode``, replacing the
        per-block Python loop whose NumPy-call overhead (~50µs/block)
        dwarfs the 128-element decodes themselves. DocIDs are rebuilt with
        one global cumsum, per-block re-based by subtracting the running
        total at each block start and adding the block's anchor. Blocks
        are disjoint increasing docID ranges, so the concatenated output
        is globally sorted — callers binary-search it directly.
        """
        blocks = np.asarray(blocks, dtype=np.int64)
        if blocks.shape[0] == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z.copy()
        do, so = self.did_off, self.score_off
        dbuf = b"".join([self.did_blob[do[b]:do[b + 1]] for b in blocks])
        sbuf = b"".join([self.score_blob[so[b]:so[b + 1]] for b in blocks])
        gaps = vbyte_decode(dbuf).astype(np.int64)
        scores = zigzag_decode(vbyte_decode(sbuf))
        ns = self.block_n[blocks]
        starts = np.zeros(blocks.shape[0], dtype=np.int64)
        np.cumsum(ns[:-1], out=starts[1:])
        cs = np.cumsum(gaps)
        rebase = np.zeros(blocks.shape[0], dtype=np.int64)
        rebase[1:] = cs[starts[1:] - 1]
        anchors = np.where(blocks > 0,
                           self.block_last[np.maximum(blocks - 1, 0)], 0)
        dids = cs + np.repeat(anchors - rebase, ns)
        return dids, scores

    def decode_block(self, i: int):
        """Decode block ``i`` → (doc_ids int64, scores int64, tfs int64)."""
        dids, scores = self.decode_block_ds(i)
        t0, t1 = self.tf_off[i], self.tf_off[i + 1]
        tfs = vbyte_decode(self.tf_blob[t0:t1]).astype(np.int64)
        return dids, scores, tfs

    def decode_ds(self):
        """Decode the full list → (doc_ids, scores); tf stream untouched.

        The exhaustive query kernel's hot path — same single-cumsum trick as
        :meth:`decode_all` minus the unused tf decode."""
        if self.n_blocks == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z.copy()
        dids = np.cumsum(vbyte_decode(self.did_blob).astype(np.int64))
        scores = zigzag_decode(vbyte_decode(self.score_blob))
        return dids, scores

    def decode_all(self):
        """Decode the full list → (doc_ids, scores, tfs).

        One vectorized decode per stream: block-head gaps re-anchor on the
        previous block's LAST docID, so the cumulative sum over the entire
        gap stream reconstructs every docID exactly — no per-block loop
        (per-block NumPy call overhead dominates for short blocks; this is
        the exhaustive kernel's hot path)."""
        if self.n_blocks == 0:
            z = np.empty(0, dtype=np.int64)
            return z, z.copy(), z.copy()
        dids, scores = self.decode_ds()
        tfs = vbyte_decode(self.tf_blob).astype(np.int64)
        return dids, scores, tfs


def encode_postings(doc_ids: np.ndarray, scores: np.ndarray,
                    tfs: np.ndarray, block_size: int = BLOCK_SIZE) -> Segment:
    """Build a compressed block-max segment from one term's postings.

    ``doc_ids`` must be strictly increasing (callers sort + dedup upstream).
    """
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    scores = np.ascontiguousarray(scores, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    n = doc_ids.shape[0]
    if n and not np.all(doc_ids[1:] > doc_ids[:-1]):
        raise ValueError("doc_ids must be strictly increasing")
    n_blocks = (n + block_size - 1) // block_size
    did_parts, score_parts, tf_parts = [], [], []
    block_last = np.empty(n_blocks, dtype=np.int64)
    block_max = np.empty(n_blocks, dtype=np.int64)
    block_n = np.empty(n_blocks, dtype=np.int64)
    did_off = np.zeros(n_blocks + 1, dtype=np.int64)
    score_off = np.zeros(n_blocks + 1, dtype=np.int64)
    tf_off = np.zeros(n_blocks + 1, dtype=np.int64)
    prev_last = 0
    for i in range(n_blocks):
        lo, hi = i * block_size, min((i + 1) * block_size, n)
        dids = doc_ids[lo:hi]
        base = dids if i == 0 else dids - prev_last
        # re-anchor each block on the previous block's last docID
        gaps = delta_encode(base) if i == 0 else np.concatenate(
            [base[:1].astype(np.uint64), np.diff(dids).astype(np.uint64)]
        )
        db = vbyte_encode(gaps)
        sb = vbyte_encode(zigzag_encode(scores[lo:hi]))
        tb = vbyte_encode(tfs[lo:hi])
        did_parts.append(db)
        score_parts.append(sb)
        tf_parts.append(tb)
        block_last[i] = dids[-1]
        block_max[i] = scores[lo:hi].max()
        block_n[i] = hi - lo
        did_off[i + 1] = did_off[i] + len(db)
        score_off[i + 1] = score_off[i] + len(sb)
        tf_off[i + 1] = tf_off[i] + len(tb)
        prev_last = int(dids[-1])
    return Segment(
        df=n,
        did_blob=b"".join(did_parts),
        score_blob=b"".join(score_parts),
        tf_blob=b"".join(tf_parts),
        block_last=block_last,
        block_max=block_max,
        block_n=block_n,
        did_off=did_off,
        score_off=score_off,
        tf_off=tf_off,
    )


def list_array(counts: np.ndarray, values: pa.Array) -> pa.ListArray:
    """Arrow list column whose row i holds the next ``counts[i]`` values."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), values)


def encode_groups(dids: np.ndarray, scores: np.ndarray, tfs: np.ndarray,
                  starts: np.ndarray) -> dict[str, pa.Array]:
    """Columnar encoder for MANY terms at once: rows in (term, doc_id)
    order, term groups contiguous from ``starts`` (ascending, starts[0] =
    0, the last group runs to the end). Returns the segment columns after
    ``term`` as Arrow arrays, one row per group, each row byte-identical
    to :func:`encode_postings` + :func:`segment_to_row` of that group.

    Block heads re-anchor on the previous block's last docID, so a list's
    d-gap stream is the plain within-group diff for every block, and the
    three streams of every list are contiguous slices of ONE batch-wide
    VByte buffer each. The blob columns are Arrow binary arrays over those
    buffers (offsets at group starts); block metadata comes from repeat /
    reduceat over the flattened block table — no Python per term."""
    dids = np.ascontiguousarray(dids, dtype=np.int64)
    scores = np.ascontiguousarray(scores, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    n, n_groups = dids.shape[0], starts.shape[0]
    ends = np.append(starts[1:], n)
    sizes = ends - starts
    inner = np.ones(n, dtype=bool)
    inner[starts] = False
    if (inner[1:] & (dids[1:] <= dids[:-1])).any():
        raise ValueError("doc_ids must be strictly increasing within a term")
    # int64 wraparound is intended: gaps between far-apart (e.g. hashed,
    # negative) docIDs are stored mod 2^64 and the decoder's int64 cumsum
    # wraps back, exactly as in encode_postings
    gaps = np.empty(n, dtype=np.int64)
    gaps[1:] = dids[1:] - dids[:-1]
    gaps[starts] = dids[starts]
    enc_d, off_d = vbyte_encode_with_offsets(gaps.view(np.uint64))
    enc_s, off_s = vbyte_encode_with_offsets(zigzag_encode(scores))
    enc_t, off_t = vbyte_encode_with_offsets(tfs.view(np.uint64))
    # flattened block table: group g owns blocks [first[g], first[g]+nb[g])
    nb = (sizes + BLOCK_SIZE - 1) // BLOCK_SIZE
    grp = np.repeat(np.arange(n_groups), nb)
    first = np.cumsum(nb) - nb
    bstart = starts[grp] + (np.arange(grp.shape[0]) - first[grp]) * BLOCK_SIZE
    bend = np.minimum(bstart + BLOCK_SIZE, ends[grp])
    # *_off lists hold each block's start and then the group's end, as
    # byte positions relative to the group's first byte
    n_off = nb + 1
    is_end = np.zeros(int(n_off.sum()), dtype=bool)
    is_end[np.cumsum(n_off) - 1] = True
    pts = np.empty(is_end.shape[0], dtype=np.int64)
    pts[~is_end] = bstart
    pts[is_end] = ends
    pgrp = np.repeat(np.arange(n_groups), n_off)
    blob_at = np.append(starts, n)

    def blob(enc: bytes, off: np.ndarray) -> pa.Array:
        if off[-1] > np.iinfo(np.int32).max:
            raise ValueError(
                "encode batch exceeds 2 GiB of VByte bytes in one stream "
                "(the 32-bit offsets of an Arrow binary column); one "
                "segment row cannot hold a posting list that large")
        return pa.BinaryArray.from_buffers(
            pa.binary(), n_groups,
            [None, pa.py_buffer(off[blob_at].astype(np.int32)),
             pa.py_buffer(enc)])

    def lists(counts: np.ndarray, values: np.ndarray) -> pa.Array:
        return list_array(counts, pa.array(values))

    return {
        "df": pa.array(sizes),
        "n_blocks": pa.array(nb.astype(np.int32)),
        "did_blob": blob(enc_d, off_d),
        "score_blob": blob(enc_s, off_s),
        "tf_blob": blob(enc_t, off_t),
        "block_last": lists(nb, dids[bend - 1]),
        "block_max": lists(nb, np.maximum.reduceat(scores, bstart)
                           if n else scores),
        "block_n": lists(nb, bend - bstart),
        "did_off": lists(n_off, off_d[pts] - off_d[starts][pgrp]),
        "score_off": lists(n_off, off_s[pts] - off_s[starts][pgrp]),
        "tf_off": lists(n_off, off_t[pts] - off_t[starts][pgrp]),
    }


def segment_to_row(seg: Segment) -> dict:
    """Flatten a Segment into plain-Python values for a Spark row."""
    return {
        "df": seg.df,
        "n_blocks": seg.n_blocks,
        "did_blob": seg.did_blob,
        "score_blob": seg.score_blob,
        "tf_blob": seg.tf_blob,
        "block_last": seg.block_last.tolist(),
        "block_max": seg.block_max.tolist(),
        "block_n": seg.block_n.tolist(),
        "did_off": seg.did_off.tolist(),
        "score_off": seg.score_off.tolist(),
        "tf_off": seg.tf_off.tolist(),
    }


def segment_from_row(row) -> Segment:
    """Rebuild a Segment from a Spark row / dict-like with the same fields."""
    get = row.__getitem__
    return Segment(
        df=get("df"),
        did_blob=bytes(get("did_blob")),
        score_blob=bytes(get("score_blob")),
        tf_blob=bytes(get("tf_blob")),
        block_last=get("block_last"),
        block_max=get("block_max"),
        block_n=get("block_n"),
        did_off=get("did_off"),
        score_off=get("score_off"),
        tf_off=get("tf_off"),
    )
