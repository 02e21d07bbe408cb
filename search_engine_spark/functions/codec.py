"""Delta + varint postings codec, fully vectorized (numpy — no per-value
or per-doc Python loops; the only Python iteration is per 128-doc block
and per term blob slice).

The reference encodes postings as *absolute* signed varints
(index/core/indexer.go:176-222). The north rule upgrades this to
delta+varint (doc-id gaps, per-field position gaps) with a block-max
sidecar for WAND pruning — a deliberate, documented divergence
(SURVEY §2.5 E1).

Blob layout for one term (all unsigned LEB128 varints), blocked
struct-of-arrays so any block decodes independently and vectorized:

    header: n_docs
    per block of BLOCK_SIZE docs (nb = docs in this block):
        gaps[nb]        doc_id deltas; the block's FIRST gap is the
                        absolute doc_id (blocks are self-contained)
        npos[nb]        positions per doc (= tf, title+body combined)
        te[nb]          title_end per doc (indexer.go:132-134)
        pdeltas[sum(npos)]  position gaps; per doc: title-field gaps
                        then body-field gaps, first of each field
                        absolute (per-field 0-based rune offsets)

Sidecar (parquet array columns, NOT in the blob — WAND prunes blocks
without touching blob bytes):

    block_last:    long[]  last doc_id per block
    block_max_tf:  int[]   max tf per block
    block_offsets: long[]  byte offset of each block within the blob

One writer and its exact inverse. ``encode_postings`` is the only blob
writer: it takes doc-level postings in any order, each with its doc's
pdeltas as a packed byte span (``pack_position_deltas``, map-side), and
splices those bytes untouched between the varint-encoded integer
streams. ``unpack_postings`` turns a blob back into exactly that input,
reading each doc's span off the varint end bits, so a merge of salts or
generations re-writes blobs without rebuilding a position. Queries
decode positions with ``decode_term_postings`` / ``slice_blocks``.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128

_U64 = np.uint64
_MASK7 = _U64(0x7F)
_CONT = np.uint8(0x80)


def varint_encode(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode a non-negative int array.

    Returns (bytes uint8 array, per-value byte length int64 array).
    """
    v = values.astype(np.uint64, copy=False)
    if v.size == 0:
        return np.empty(0, np.uint8), np.empty(0, np.int64)
    nbytes = np.ones(v.size, np.int64)
    for k in range(1, 10):
        more = v >= (_U64(1) << _U64(7 * k))
        if not more.any():
            break
        nbytes += more.astype(np.int64)
    ends = np.cumsum(nbytes)
    out = np.zeros(int(ends[-1]), np.uint8)
    starts = ends - nbytes
    for k in range(10):
        sel = nbytes > k
        if not sel.any():
            break
        idx = starts[sel] + k
        chunk = ((v[sel] >> _U64(7 * k)) & _MASK7).astype(np.uint8)
        cont = (nbytes[sel] > k + 1).astype(np.uint8) * _CONT
        out[idx] = chunk | cont
    return out, nbytes


def varint_decode(data: np.ndarray) -> np.ndarray:
    """Decode LEB128 bytes (uint8 array) back to uint64 values."""
    b = np.asarray(data, np.uint8)
    if b.size == 0:
        return np.empty(0, np.uint64)
    is_end = (b & _CONT) == 0
    n_out = int(is_end.sum())
    val_idx = np.zeros(b.size, np.int64)
    np.cumsum(is_end[:-1], out=val_idx[1:])
    start_of_val = np.zeros(n_out, np.int64)
    ends_at = np.flatnonzero(is_end)
    start_of_val[1:] = ends_at[:-1] + 1
    pos_in_val = np.arange(b.size, dtype=np.int64) - start_of_val[val_idx]
    out = np.zeros(n_out, np.uint64)
    np.add.at(
        out,
        val_idx,
        (b & np.uint8(0x7F)).astype(np.uint64) << (pos_in_val.astype(np.uint64) * _U64(7)),
    )
    return out


def _segmented_cumsum(deltas: np.ndarray, reset_starts: np.ndarray) -> np.ndarray:
    """Invert delta encoding where ``deltas[reset_starts]`` are absolute:
    cumulative sum that restarts at each reset index. Vectorized."""
    if deltas.size == 0:
        return deltas.astype(np.int64)
    cs = np.cumsum(deltas, dtype=np.int64)
    seg_of = np.searchsorted(reset_starts, np.arange(deltas.size), side="right") - 1
    offsets = cs[reset_starts] - deltas[reset_starts]
    return cs - offsets[seg_of]


class EncodedBucket:
    """Per-term encoded postings for one bucket of terms."""

    __slots__ = ("term_ids", "dfs", "ctfs", "blobs", "block_last", "block_max_tf", "block_offsets")

    def __init__(self, term_ids, dfs, ctfs, blobs, block_last, block_max_tf, block_offsets):
        self.term_ids = term_ids
        self.dfs = dfs
        self.ctfs = ctfs
        self.blobs = blobs
        self.block_last = block_last
        self.block_max_tf = block_max_tf
        self.block_offsets = block_offsets


def encode_postings(
    term_ids: np.ndarray,
    doc_ids: np.ndarray,
    title_ends: np.ndarray,
    npos: np.ndarray,
    pd_starts: np.ndarray,
    pd_lens: np.ndarray,
    pd_bytes: np.ndarray,
) -> EncodedBucket:
    """The blob writer: encode ALL terms of a bucket in one vectorized pass.

    Rows are doc-level postings in any order; ``pd_bytes[pd_starts[i] :
    pd_starts[i] + pd_lens[i]]`` is row i's packed pdelta section. Rows
    are sorted by (term_id, doc_id), only the integer streams (header,
    gaps, npos, title_end) are varint-encoded — one pass for every term —
    and each doc's position bytes are spliced in untouched. Per-term blobs
    are byte slices of the shared buffer.
    """
    N = doc_ids.size
    if N == 0:
        e = np.empty(0, np.int64)
        return EncodedBucket(e, e, e, [], [], [], [])
    order = np.lexsort((doc_ids, term_ids))
    term_ids, doc_ids, title_ends, npos, pd_starts, pd_lens = (
        np.asarray(a, np.int64)[order]
        for a in (term_ids, doc_ids, title_ends, npos, pd_starts, pd_lens)
    )

    # --- term and block boundaries (a block is every BLOCK_SIZE docs) -----
    is_term_start = np.ones(N, bool)
    is_term_start[1:] = term_ids[1:] != term_ids[:-1]
    term_starts = np.flatnonzero(is_term_start)
    term_doc_counts = np.diff(np.append(term_starts, N))
    term_of_doc = np.cumsum(is_term_start) - 1
    is_block_start = (np.arange(N) - term_starts[term_of_doc]) % BLOCK_SIZE == 0
    block_start_docs = np.flatnonzero(is_block_start)
    B = block_start_docs.size
    block_of_doc = np.cumsum(is_block_start) - 1
    nb = np.diff(np.append(block_start_docs, N))
    term_of_block = term_of_doc[block_start_docs]
    first_block_of_term = block_of_doc[term_starts]

    # --- integer stream: [n_docs] before a term's first block, then per
    # block gaps/npos/te --------------------------------------------------
    block_vlen = 3 * nb
    has_hdr = np.zeros(B, np.int64)
    has_hdr[first_block_of_term] = 1
    block_vstarts = np.cumsum(block_vlen + has_hdr) - block_vlen
    stream = np.empty(int(block_vstarts[-1] + block_vlen[-1]), np.int64)
    stream[block_vstarts[first_block_of_term] - 1] = term_doc_counts
    gaps = np.diff(doc_ids, prepend=0)
    gaps[block_start_docs] = doc_ids[block_start_docs]
    at = block_vstarts[block_of_doc] + np.arange(N) - block_start_docs[block_of_doc]
    stream[at] = gaps
    stream[at + nb[block_of_doc]] = npos
    stream[at + 2 * nb[block_of_doc]] = title_ends
    ibuf, ilen = varint_encode(stream)
    vbyte = np.zeros(stream.size + 1, np.int64)
    np.cumsum(ilen, out=vbyte[1:])

    # --- splice: each block's integers (with its term's header if first),
    # then its docs' position bytes ---------------------------------------
    doc_pd_before = np.cumsum(pd_lens) - pd_lens  # position bytes of earlier docs
    pd_before = doc_pd_before[block_start_docs]  # ... of earlier blocks
    ib0 = vbyte[block_vstarts - has_hdr]
    ib1 = vbyte[block_vstarts + block_vlen]
    out = np.empty(ibuf.size + int(pd_lens.sum()), np.uint8)
    _scatter_spans(out, ib0 + pd_before, ibuf, ib0, ib1 - ib0)
    _scatter_spans(out, ib1[block_of_doc] + doc_pd_before, pd_bytes, pd_starts, pd_lens)
    term_b0 = (ib0 + pd_before)[first_block_of_term]
    term_b1 = np.append(term_b0[1:], out.size)
    block_out_off = vbyte[block_vstarts] + pd_before - term_b0[term_of_block]

    block_last = doc_ids[np.append(block_start_docs[1:] - 1, N - 1)]
    block_max = np.maximum.reduceat(npos, block_start_docs).astype(np.int32)
    raw = out.tobytes()
    blobs, bl_last, bl_max, bl_off = [], [], [], []
    term_block_bounds = np.append(first_block_of_term, B)
    for t in range(term_starts.size):
        b0, b1 = term_block_bounds[t], term_block_bounds[t + 1]
        blobs.append(raw[int(term_b0[t]) : int(term_b1[t])])
        bl_last.append(block_last[b0:b1])
        bl_max.append(block_max[b0:b1])
        bl_off.append(block_out_off[b0:b1])
    ctfs = np.add.reduceat(npos, term_starts)
    return EncodedBucket(
        term_ids[term_starts], term_doc_counts, ctfs, blobs, bl_last, bl_max, bl_off
    )


def _blocks(body: np.ndarray, n_docs: int):
    """Walk the value stream of >=1 consecutive blocks (no term header):
    the one place the block layout is parsed.

    Returns (doc_ids, title_ends, npos, pd_spans), where ``pd_spans``
    holds each block's [lo, hi) range of position deltas in ``body``.
    Loops only over blocks; all inner work is vectorized.
    """
    g_parts, np_parts, te_parts, pd_spans = [], [], [], []
    s = 0
    for first in range(0, n_docs, BLOCK_SIZE):
        nb_ = min(BLOCK_SIZE, n_docs - first)
        npos = body[s + nb_ : s + 2 * nb_]
        g_parts.append(np.cumsum(body[s : s + nb_]))  # block-local: first gap absolute
        np_parts.append(npos)
        te_parts.append(body[s + 2 * nb_ : s + 3 * nb_])
        pd_lo = s + 3 * nb_
        s = pd_lo + int(npos.sum())
        pd_spans.append((pd_lo, s))
    if not g_parts:
        z = np.empty(0, np.int64)
        return z, z, z, []
    return np.concatenate(g_parts), np.concatenate(te_parts), np.concatenate(np_parts), pd_spans


def _decode_values(body: np.ndarray, n_docs: int):
    """Decode the value stream of >=1 consecutive blocks (no term header).

    Returns (doc_ids, title_ends, npos, positions_flat).
    """
    doc_ids, te, npos, pd_spans = _blocks(body, n_docs)
    pdeltas = np.concatenate([body[lo:hi] for lo, hi in pd_spans] or [body[:0]])
    if not pdeltas.size:
        return doc_ids, te, npos, np.empty(0, np.int64)
    pos_starts = np.zeros(npos.size, np.int64)
    np.cumsum(npos[:-1], out=pos_starts[1:])
    body_starts = pos_starts + te
    resets = np.unique(np.concatenate([pos_starts, body_starts[te < npos]]))
    # trailing zero-position docs start at pdeltas.size; an empty doc
    # elsewhere starts where the next doc does, itself a reset
    resets = resets[resets < pdeltas.size]
    return doc_ids, te, npos, _segmented_cumsum(pdeltas, resets)


def decode_term_postings(blob: bytes):
    """Full decode -> (doc_ids, title_ends, pos_counts, positions_flat)."""
    vals = varint_decode(np.frombuffer(blob, np.uint8)).astype(np.int64)
    if vals.size == 0:
        z = np.empty(0, np.int64)
        return z, z, z, z
    n = int(vals[0])
    return _decode_values(vals[1:], n)


def unpack_postings(blob: bytes):
    """Exact inverse of ``encode_postings`` for one term's blob.

    Returns (doc_ids, title_ends, npos, pd_starts, pd_lens, raw): ``raw``
    is the blob's bytes and ``raw[pd_starts[i] : pd_starts[i] + pd_lens[i]]``
    doc i's packed pdelta section, found from the varint end bits — no
    position is rebuilt.
    """
    raw = np.frombuffer(blob, np.uint8)
    vals = varint_decode(raw).astype(np.int64)
    if vals.size == 0:
        z = np.empty(0, np.int64)
        return z, z, z, z, z, raw
    doc_ids, te, npos, pd_spans = _blocks(vals[1:], int(vals[0]))
    # a block's deltas are contiguous: doc i's start is its block's start
    # (+1 for the header) plus the positions of earlier docs in the block
    pos_before = np.cumsum(npos) - npos
    block_lo = np.array([lo for lo, _ in pd_spans]) + 1 - pos_before[::BLOCK_SIZE]
    pd_at = block_lo[np.arange(npos.size) // BLOCK_SIZE] + pos_before
    vbyte = np.zeros(vals.size + 1, np.int64)  # byte offset of each value
    vbyte[1:] = np.flatnonzero((raw & _CONT) == 0) + 1
    starts = vbyte[pd_at]
    return doc_ids, te, npos, starts, vbyte[pd_at + npos] - starts, raw


def slice_blocks(blob: bytes, block_offsets: np.ndarray, n_docs: int, lo_block: int, hi_block: int):
    """Decode only blocks [lo_block, hi_block) — for WAND block skipping.

    Block b spans bytes [block_offsets[b], block_offsets[b+1]) (last block
    to end of blob). Each block's first gap is absolute, so any slice
    decodes standalone.
    """
    n_blocks = len(block_offsets)
    lo_block = max(0, lo_block)
    hi_block = min(n_blocks, hi_block)
    if lo_block >= hi_block:
        z = np.empty(0, np.int64)
        return z, z, z, z
    start = int(block_offsets[lo_block])
    end = int(block_offsets[hi_block]) if hi_block < n_blocks else len(blob)
    body = varint_decode(np.frombuffer(blob[start:end], np.uint8)).astype(np.int64)
    n_in_slice = min(n_docs - lo_block * BLOCK_SIZE, (hi_block - lo_block) * BLOCK_SIZE)
    return _decode_values(body, n_in_slice)


def pack_position_deltas(
    pos: np.ndarray, starts: np.ndarray, title_ends: np.ndarray, npos: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Map-side packing: per-doc position-delta varint byte strings.

    ``pos`` is the flat concatenation of per-(doc,term) position lists
    (title field first, each field ascending); ``starts`` the per-doc
    start offsets. Returns (bytes uint8, per-doc byte lengths) where each
    doc's slice is EXACTLY the pdelta section the block layout expects —
    so ``encode_postings`` assembles blobs by byte splicing and the
    shuffle moves ~1-2 bytes per position instead of an int32.
    """
    if pos.size == 0:
        return np.empty(0, np.uint8), np.zeros(starts.size, np.int64)
    pos = pos.astype(np.int64, copy=False)
    starts = starts.astype(np.int64, copy=False)
    # each field's first position is absolute, the rest are gaps
    deltas = np.diff(pos, prepend=0)
    resets = np.concatenate([starts, (starts + title_ends)[title_ends < npos]])
    # a TRAILING zero-position doc has starts == pos.size (out of bounds);
    # mid-array empties point at the next doc's start, which is already a
    # reset, so dropping OOB entries is exact
    resets = resets[resets < pos.size]
    deltas[resets] = pos[resets]
    buf, nbytes = varint_encode(deltas)
    # reduceat only over docs that HAVE positions: their starts are
    # strictly increasing and in-bounds (a trailing empty doc's start ==
    # pos.size, which reduceat rejects); empty docs keep length 0, and a
    # non-empty doc's group extends over any empty docs that follow it —
    # they contribute no positions, so the sum is exact.
    doc_blen = np.zeros(starts.size, np.int64)
    nz = npos > 0
    if nz.any():
        doc_blen[nz] = np.add.reduceat(nbytes, starts[nz])
    return buf, doc_blen


def _scatter_spans(
    out: np.ndarray,
    out_starts: np.ndarray,
    src: np.ndarray,
    src_starts: np.ndarray,
    lens: np.ndarray,
) -> None:
    """out[out_starts[i] : +lens[i]] = src[src_starts[i] : +lens[i]] for
    all i, fully vectorized (repeat/arange ragged index trick)."""
    total = int(lens.sum())
    if total == 0:
        return
    nz = lens > 0
    os_, ss_, ln_ = out_starts[nz], src_starts[nz], lens[nz]
    excl = np.zeros(ln_.size, np.int64)
    np.cumsum(ln_[:-1], out=excl[1:])
    ar = np.arange(total, dtype=np.int64)
    within = ar - np.repeat(excl, ln_)
    out[np.repeat(os_, ln_) + within] = src[np.repeat(ss_, ln_) + within]
