"""Postings codec: sorted integer columns plus delta+varint position
bytes, fully vectorized (numpy — no per-value or per-doc Python loops).

The reference stores each term's posting list as one opaque value
beside its df (index/core/indexer.go:176-222, absolute signed varints).
Here a term's segment row stores its postings as columns, so a query
plan reads doc ids and tf as Parquet arrays without decoding anything,
and only positions stay varint-encoded (a deliberate, documented
divergence, SURVEY §2.5 E1):

    doc_ids:   long[]  ascending
    tf:        int[]   positions per doc (title+body combined)
    title_end: int[]   title positions per doc (indexer.go:132-134)
    blob:      binary  each doc's position deltas, in doc order, as
                       unsigned LEB128 varints: title-field gaps then
                       body-field gaps, the first of each field absolute
                       (per-field 0-based rune offsets)

Sidecar (arrays over 128-doc blocks; WAND prunes blocks from them):

    block_last:    long[]  last doc_id per block
    block_max_tf:  int[]   max tf per block
    block_offsets: long[]  byte offset of each block's first doc in blob

Every byte of the blob belongs to a position, so doc i's bytes are the
span between the end of its first ``sum(tf[:i])`` varints and the end
of its first ``sum(tf[:i+1])``; ``position_spans`` finds them from the
varint end bits alone. One writer, ``encode_postings``, sorts postings
and splices each doc's position bytes (packed map-side by
``pack_position_deltas``) untouched; a merge of salts or generations is
the same writer over the concatenated rows and their spans, so nothing
is varint-decoded. Only positions are ever decoded
(``decode_positions``), and only for the docs a query scores.
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
    """The segment rows of one bucket's terms, as flat arrays: row k's
    postings are ``[doc_off[k], doc_off[k+1])`` of ``doc_ids``, ``tf`` and
    ``title_end``, its blob ``blob[blob_off[k]:blob_off[k+1]]`` and its
    blocks ``[block_off[k], block_off[k+1])`` of the block arrays."""

    __slots__ = (
        "term_ids", "dfs", "ctfs", "doc_ids", "tf", "title_end", "doc_off",
        "blob", "blob_off", "block_last", "block_max_tf", "block_offsets", "block_off",
    )

    def __init__(self, **cols):
        for k, v in cols.items():
            setattr(self, k, v)

    def row(self, k: int) -> dict:
        """Row ``k`` as a dict of its columns (arrays sliced, blob bytes)."""
        d0, d1 = self.doc_off[k], self.doc_off[k + 1]
        b0, b1 = self.block_off[k], self.block_off[k + 1]
        return {
            "term_id": int(self.term_ids[k]),
            "df": int(self.dfs[k]),
            "ctf": int(self.ctfs[k]),
            "doc_ids": self.doc_ids[d0:d1],
            "tf": self.tf[d0:d1],
            "title_end": self.title_end[d0:d1],
            "blob": self.blob[self.blob_off[k] : self.blob_off[k + 1]].tobytes(),
            "block_last": self.block_last[b0:b1],
            "block_max_tf": self.block_max_tf[b0:b1],
            "block_offsets": self.block_offsets[b0:b1],
        }


def encode_postings(
    term_ids: np.ndarray,
    doc_ids: np.ndarray,
    title_ends: np.ndarray,
    npos: np.ndarray,
    pd_starts: np.ndarray,
    pd_lens: np.ndarray,
    pd_bytes: np.ndarray,
) -> EncodedBucket:
    """The one writer: the segment rows of ALL terms of a bucket in one
    vectorized pass.

    Rows are doc-level postings in any order; ``pd_bytes[pd_starts[i] :
    pd_starts[i] + pd_lens[i]]`` is row i's packed position bytes. Rows
    are sorted by (term_id, doc_id), and each doc's position bytes are
    spliced untouched in that order. Nothing is varint-encoded here.
    """
    N = doc_ids.size
    order = np.lexsort((doc_ids, term_ids))
    term_ids, doc_ids, title_ends, npos, pd_starts, pd_lens = (
        np.asarray(a, np.int64)[order]
        for a in (term_ids, doc_ids, title_ends, npos, pd_starts, pd_lens)
    )
    is_term_start = np.ones(N, bool)
    is_term_start[1:] = term_ids[1:] != term_ids[:-1]
    term_starts = np.flatnonzero(is_term_start)
    term_of_doc = np.cumsum(is_term_start) - 1
    is_block_start = (np.arange(N) - term_starts[term_of_doc]) % BLOCK_SIZE == 0
    block_starts = np.flatnonzero(is_block_start)

    out_starts = np.cumsum(pd_lens) - pd_lens
    blob = np.empty(int(pd_lens.sum()), np.uint8)
    _scatter_spans(blob, out_starts, pd_bytes, pd_starts, pd_lens)
    term_b0 = out_starts[term_starts]
    return EncodedBucket(
        term_ids=term_ids[term_starts],
        dfs=np.diff(np.append(term_starts, N)),
        ctfs=np.add.reduceat(npos, term_starts) if N else npos[:0],
        doc_ids=doc_ids,
        tf=npos.astype(np.int32),
        title_end=title_ends.astype(np.int32),
        doc_off=np.append(term_starts, N),
        blob=blob,
        blob_off=np.append(term_b0, blob.size),
        block_last=doc_ids[np.append(block_starts[1:] - 1, N - 1)] if N else doc_ids,
        block_max_tf=(
            np.maximum.reduceat(npos, block_starts) if N else npos[:0]
        ).astype(np.int32),
        block_offsets=out_starts[block_starts] - term_b0[term_of_doc[block_starts]],
        block_off=np.append(np.flatnonzero(is_term_start[block_starts]), block_starts.size),
    )


def position_spans(raw: np.ndarray, tf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, lens): each doc's byte span in ``raw``, the position bytes
    of docs with these ``tf`` in order, from the varint end bits alone —
    no value is decoded."""
    tf = np.asarray(tf, np.int64)
    vbyte = np.zeros(int(tf.sum()) + 1, np.int64)  # byte offset of each value
    vbyte[1:] = np.flatnonzero((raw & _CONT) == 0) + 1
    first = np.cumsum(tf) - tf
    starts = vbyte[first]
    return starts, vbyte[first + tf] - starts


def decode_positions(
    blob: bytes, tf: np.ndarray, title_end: np.ndarray, idx: np.ndarray | None = None
) -> np.ndarray:
    """Positions of docs ``idx`` (default: all) of one segment row, flat,
    doc by doc, title field first. Only those docs' bytes are decoded."""
    raw = np.frombuffer(blob, np.uint8)
    tf = np.asarray(tf, np.int64)
    te = np.asarray(title_end, np.int64)
    if idx is not None:
        starts, lens = position_spans(raw, tf)
        idx = np.asarray(idx, np.int64)
        sel = np.empty(int(lens[idx].sum()), np.uint8)
        _scatter_spans(sel, np.cumsum(lens[idx]) - lens[idx], raw, starts[idx], lens[idx])
        raw, tf, te = sel, tf[idx], te[idx]
    pdeltas = varint_decode(raw).astype(np.int64)
    pos_starts = np.cumsum(tf) - tf
    resets = np.unique(np.concatenate([pos_starts, (pos_starts + te)[te < tf]]))
    # trailing zero-position docs start at pdeltas.size; an empty doc
    # elsewhere starts where the next doc does, itself a reset
    return _segmented_cumsum(pdeltas, resets[resets < pdeltas.size])


def pack_position_deltas(
    pos: np.ndarray, starts: np.ndarray, title_ends: np.ndarray, npos: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Map-side packing: per-doc position-delta varint byte strings.

    ``pos`` is the flat concatenation of per-(doc,term) position lists
    (title field first, each field ascending); ``starts`` the per-doc
    start offsets. Returns (bytes uint8, per-doc byte lengths) where each
    doc's slice is EXACTLY that doc's bytes in the blob — so
    ``encode_postings`` assembles blobs by byte splicing and the shuffle
    moves ~1-2 bytes per position instead of an int32.
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
