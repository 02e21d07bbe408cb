"""Character-bigram tokenizer, vectorized.

Reproduces the reference tokenizer semantics (yuanyb/search-engine,
``index/core/token.go:17-45``):

- Only CJK U+4E00..U+9FA5, ``A-Z``, ``a-z``, ``0-9`` are indexable; every
  other code point breaks a run. Tokens are case-sensitive (no folding).
- n-gram with n=2 (``index/core/engine.go:27``): a token is emitted for
  every *adjacent pair* of indexable code points; its position is the rune
  (code point) offset of the pair's first char within its field. Runs
  shorter than 2 emit nothing.

The hot path is numpy over code point arrays (``str.encode('utf-32-le')``
→ ``uint32`` view), never per-row Python. Terms travel through shuffles as
packed int64 ``term_id`` (cp0 << 21 | cp1) — joins/aggregations on longs
are cheaper than on strings at 100 TB scale; the string form is
materialized only in the lexicon / user-facing outputs.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd

# 2^21 > 0x10FFFF (max code point), so the pack is collision-free.
_SHIFT = 21
_MASK = (1 << _SHIFT) - 1


def is_indexed_char(cp: int) -> bool:
    """True if the code point is indexable (token.go:17-27 inverted)."""
    return (
        0x4E00 <= cp <= 0x9FA5
        or 0x41 <= cp <= 0x5A
        or 0x61 <= cp <= 0x7A
        or 0x30 <= cp <= 0x39
    )


def term_to_id(term: str) -> int:
    """Pack a 2-char term into an int64 id."""
    return (ord(term[0]) << _SHIFT) | ord(term[1])


def id_to_term(term_id: int) -> str:
    """Unpack an int64 term id back to the 2-char term string."""
    return chr((term_id >> _SHIFT) & _MASK) + chr(term_id & _MASK)


def bigram_split(text: str) -> list[tuple[str, int]]:
    """Pure-Python bigram split: [(term, rune_offset), ...].

    Used driver-side for query tokenization and by the test oracle. Matches
    token.go:30-45 exactly (for n=2 the window rule degenerates to "every
    adjacent indexable pair").
    """
    out: list[tuple[str, int]] = []
    prev_ok = False
    prev_ch = ""
    for i, ch in enumerate(text):
        ok = is_indexed_char(ord(ch))
        if ok and prev_ok:
            out.append((prev_ch + ch, i - 1))
        prev_ok, prev_ch = ok, ch
    return out


def _codepoints(texts: Iterable[str]) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate texts into one uint32 code point array + doc offsets."""
    texts = list(texts)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    offsets = np.zeros(len(texts) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    cp = np.frombuffer("".join(texts).encode("utf-32-le"), dtype="<u4")
    return cp, offsets


def _indexable_mask(cp: np.ndarray) -> np.ndarray:
    return (
        ((cp >= 0x4E00) & (cp <= 0x9FA5))
        | ((cp >= 0x41) & (cp <= 0x5A))
        | ((cp >= 0x61) & (cp <= 0x7A))
        | ((cp >= 0x30) & (cp <= 0x39))
    )


def tokenize_batch(texts: Iterable[str]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized bigram tokenize of a batch of strings.

    Returns ``(row_idx int64, term_id int64, pos int32)`` — one entry per
    emitted token, in document order then position order.
    """
    cp, offsets = _codepoints(texts)
    n_docs = len(offsets) - 1
    if cp.size < 2:
        return (
            np.empty(0, np.int64),
            np.empty(0, np.int64),
            np.empty(0, np.int32),
        )
    legal = _indexable_mask(cp)
    valid = legal[:-1] & legal[1:]
    # Kill pairs that straddle a document boundary.
    boundary = offsets[1:-1] - 1
    boundary = boundary[(boundary >= 0) & (boundary < valid.size)]
    valid[boundary] = False

    idx = np.flatnonzero(valid)
    lens = np.diff(offsets)
    doc_of_char = np.repeat(np.arange(n_docs, dtype=np.int64), lens)
    row_idx = doc_of_char[idx]
    pos = (idx - offsets[row_idx]).astype(np.int32)
    term_id = (cp[idx].astype(np.int64) << _SHIFT) | cp[idx + 1].astype(np.int64)
    return row_idx, term_id, pos


def ids_to_terms(term_ids: np.ndarray) -> pd.Series:
    """Vectorized-ish unpack of term ids to strings (lexicon-size only)."""
    hi = (term_ids >> _SHIFT) & _MASK
    lo = term_ids & _MASK
    return pd.Series([chr(a) + chr(b) for a, b in zip(hi.tolist(), lo.tolist())])


_ROW_SHIFT = 42  # term_id < 2^42 (two 21-bit code points)
_TERM_MASK = (1 << _ROW_SHIFT) - 1


def postings_batches_arrow_packed(batches, text_cols=("title", "body"), id_col="doc_id"):
    """mapInArrow kernel: (doc_id, title, body) -> packed postings rows
    (doc_id, term_id, title_end, npos, pos_blob) with NO downstream shuffle.

    The reference builds a per-doc inverted map in each index worker
    (textToInvertedIndex, indexer.go:85-94); the Spark analog is this
    map-side grouping: each doc's tokens are sorted and run-length
    grouped in numpy. Each posting's positions are delta+varint packed
    HERE (the exact per-doc pdelta section of the segment blob layout),
    so the index-build shuffle moves ~1-2 bytes per position, and the
    reduce-side encode splices bytes instead of re-encoding
    (codec.encode_postings).
    """
    import pyarrow as pa

    from . import codec

    out_schema = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("term_id", pa.int64()),
            ("title_end", pa.int32()),
            ("npos", pa.int32()),
            ("pos_blob", pa.binary()),
        ]
    )
    for batch in batches:
        doc_ids = batch.column(id_col).to_numpy()
        keys_parts, pos_parts, flag_parts = [], [], []
        for field in text_cols:
            texts = batch.column(field).to_pandas().fillna("").astype(str)
            row_idx, term_id, pos = tokenize_batch(texts)
            keys_parts.append((row_idx << _ROW_SHIFT) | term_id)
            pos_parts.append(pos)
            flag_parts.append(
                np.full(len(term_id), 1 if field == "title" else 0, np.int64)
            )
        keys = np.concatenate(keys_parts)
        if keys.size == 0:
            yield pa.RecordBatch.from_pylist([], schema=out_schema)
            continue
        pos = np.concatenate(pos_parts).astype(np.int64)
        flags = np.concatenate(flag_parts)
        order = np.argsort(keys, kind="stable")  # title entries stay first
        keys, pos, flags = keys[order], pos[order], flags[order]
        starts = np.flatnonzero(np.diff(keys, prepend=keys[0] - 1))
        group_doc = doc_ids[(keys[starts] >> _ROW_SHIFT)]
        group_term = keys[starts] & _TERM_MASK
        title_end = np.add.reduceat(flags, starts)
        counts = np.diff(np.append(starts, keys.size))
        buf, blen = codec.pack_position_deltas(pos, starts, title_end, counts)
        off32 = np.zeros(starts.size + 1, np.int32)
        np.cumsum(blen, out=off32[1:])
        pos_blob = pa.BinaryArray.from_buffers(
            pa.binary(),
            starts.size,
            [None, pa.py_buffer(off32.tobytes()), pa.py_buffer(buf.tobytes())],
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(group_doc, pa.int64()),
                pa.array(group_term, pa.int64()),
                pa.array(title_end.astype(np.int32), pa.int32()),
                pa.array(counts.astype(np.int32), pa.int32()),
                pos_blob,
            ],
            schema=out_schema,
        )


def tokenize_query(text: str) -> list[tuple[int, list[int]]]:
    """Query-side tokenize (indexer.go:97-107): distinct term_ids with their
    query position lists, insertion-ordered. Returns [(term_id, [pos...])].
    """
    items: dict[int, list[int]] = {}
    for term, pos in bigram_split(text):
        items.setdefault(term_to_id(term), []).append(pos)
    return list(items.items())
