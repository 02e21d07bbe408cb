"""Codec unit tests: varint + delta roundtrip, block metadata, block
slicing. Mirrors the reference's roundtrip property test
(index/core/indexer_test.go:24-44) on the columnar rows with delta+varint
positions. The engine's one writer (``codec.encode_postings``), its
span finder (``codec.position_spans``) and the position decode
(``codec.decode_positions``) are checked against the plain-Python
writer in ``tests/codec_reference.py``. No Spark needed, except for the
two real-build tests."""

import numpy as np
import pytest

from search_engine_spark.functions import codec
from search_engine_spark.operators.segments import merge_term_rows
from tests.codec_reference import COLUMNS, reference_encode


def _write(term_ids, doc_ids, title_ends, positions, seed=None):
    """The engine's path from absolute positions: each doc's pdeltas
    packed as the tokenizer packs them, then the one writer, fed the rows
    in a shuffled order when ``seed`` is given."""
    npos = np.array([len(p) for p in positions], np.int64)
    flat = np.concatenate([np.asarray(p, np.int64) for p in positions] + [np.empty(0, np.int64)])
    starts = np.cumsum(npos) - npos
    te = np.asarray(title_ends, np.int64)
    buf, blen = codec.pack_position_deltas(flat, starts, te, npos)
    order = np.arange(npos.size)
    if seed is not None:
        order = np.random.default_rng(seed).permutation(npos.size)
    return codec.encode_postings(
        np.asarray(term_ids, np.int64)[order],
        np.asarray(doc_ids, np.int64)[order],
        te[order],
        npos[order],
        (np.cumsum(blen) - blen)[order],
        blen[order],
        buf,
    )


def _as_lists(row) -> dict:
    """A segment row (an ``EncodedBucket.row`` dict or a Spark Row) with
    every array as a list and the blob as bytes."""
    return {
        c: bytes(row[c]) if c == "blob"
        else int(row[c]) if c in ("df", "ctf")
        else [int(x) for x in row[c]]
        for c in COLUMNS
    }


def _assert_row(row, ref):
    """A segment row equals a ``reference_encode`` result in every column:
    the arrays, blob, sidecar, df and ctf."""
    assert _as_lists(row) == ref


def _merge(term_id, parts):
    """``merge_term_rows`` over reference-encoded rows, concatenated in
    the given order as a fetch or a merge kernel concatenates them."""
    return merge_term_rows(
        term_id,
        *(
            np.concatenate([np.asarray(p[c], np.int64) for p in parts])
            for c in ("doc_ids", "tf", "title_end")
        ),
        np.frombuffer(b"".join(p["blob"] for p in parts), np.uint8),
    )


def test_varint_roundtrip_edges():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**21 - 1, 2**35, 2**62], np.uint64)
    buf, nbytes = codec.varint_encode(vals)
    assert nbytes.tolist() == [1, 1, 1, 2, 2, 2, 3, 3, 6, 9]
    assert (codec.varint_decode(buf) == vals).all()


def test_reference_fixture_roundtrip():
    # indexer_test.go:24-44: postings docIds {5,6,7} positions
    # [1,2,3],[4,6,8],[6,7,8] — titleEnd 0.
    ref = reference_encode([5, 6, 7], [0, 0, 0], [[1, 2, 3], [4, 6, 8], [6, 7, 8]])
    pos = codec.decode_positions(ref["blob"], ref["tf"], ref["title_end"])
    assert ref["doc_ids"] == [5, 6, 7] and ref["tf"] == [3, 3, 3]
    assert pos.tolist() == [1, 2, 3, 4, 6, 8, 6, 7, 8]
    assert ref["block_last"] == [7] and ref["block_max_tf"] == [3]


def test_title_body_field_split():
    # title positions [0, 7] then body positions [0, 3] (not globally
    # sorted — sorted within each field, indexer.go:129-134)
    ref = reference_encode([42], [2], [[0, 7, 0, 3]])
    pos = codec.decode_positions(ref["blob"], ref["tf"], ref["title_end"])
    assert pos.tolist() == [0, 7, 0, 3]


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bucket_roundtrip_random(seed):
    rng = np.random.default_rng(seed)
    term_ids, doc_ids, tes, pcs, flat = [], [], [], [], []
    for t in range(int(rng.integers(1, 6))):
        docs = np.sort(rng.choice(10**7, int(rng.integers(1, 500)), replace=False))
        for dd in docs:
            n = int(rng.integers(1, 9))
            te = int(rng.integers(0, n + 1))
            tp = np.sort(rng.choice(300, te, replace=False))
            bp = np.sort(rng.choice(3000, n - te, replace=False))
            term_ids.append(t * 31 + 5)
            doc_ids.append(dd)
            tes.append(te)
            pcs.append(n)
            flat.extend(tp.tolist() + bp.tolist())
    ti = np.array(term_ids)
    di = np.array(doc_ids)
    pcarr = np.array(pcs)
    ps = np.zeros(len(pcs), np.int64)
    np.cumsum(pcarr[:-1], out=ps[1:])
    flat = np.array(flat)
    per_doc = [flat[ps[i] : ps[i] + pcarr[i]] for i in range(len(pcs))]
    eb = _write(ti, di, tes, per_doc, seed=seed)
    for k, term in enumerate(eb.term_ids):
        m = ti == term
        row = eb.row(k)
        assert (row["doc_ids"] == di[m]).all()
        assert (row["tf"] == pcarr[m]).all()
        exp_pos = np.concatenate(
            [flat[ps[i] : ps[i] + pcarr[i]] for i in np.flatnonzero(m)]
        )
        pos = codec.decode_positions(row["blob"], row["tf"], row["title_end"])
        assert (pos == exp_pos).all()
        # block metadata + independent block decode from its byte offset
        offs = row["block_offsets"]
        nb = len(offs)
        assert nb == (m.sum() + codec.BLOCK_SIZE - 1) // codec.BLOCK_SIZE
        for b in range(nb):
            lo, hi = b * codec.BLOCK_SIZE, (b + 1) * codec.BLOCK_SIZE
            end = offs[b + 1] if b + 1 < nb else len(row["blob"])
            pos_b = codec.decode_positions(
                row["blob"][offs[b] : end], row["tf"][lo:hi], row["title_end"][lo:hi]
            )
            assert pos_b.tolist() == [x for i in np.flatnonzero(m)[lo:hi] for x in per_doc[i]]
            assert row["block_max_tf"][b] == pcarr[m][lo:hi].max()
            assert row["block_last"][b] == di[m][lo:hi][-1]


def test_compression_beats_absolute():
    # positions are field-relative gaps: three body positions near 10^6
    # cost 3 + 1 + 1 bytes, where absolute varints would cost 3 each; the
    # doc ids are not in the blob at all
    docs = np.arange(10**6, 10**6 + 1000)
    row = _write(np.zeros(1000), docs, [0] * 1000, [[10**6, 10**6 + 1, 10**6 + 2]] * 1000).row(0)
    assert len(row["blob"]) == 1000 * (3 + 1 + 1)
    assert row["doc_ids"].tolist() == docs.tolist()


def test_packed_build_segments_byte_identical(spark, sf_dir):
    """Every row of the packed build (map-side pos_blob, spliced in the
    encode kernel) equals the plain-Python reference writer applied to
    that term's postings in the pure-Python oracle, in every column (the
    arrays, blob, sidecar, df and ctf) — per salt for the hot (salted)
    terms, both where the hot set needs a df count and where every term
    is hot."""
    from search_engine_spark.functions.tokenizer import term_to_id
    from search_engine_spark.functions.xxhash import xxhash64_long
    from search_engine_spark.operators.postings import (
        build_documents_from_testdata,
        build_postings_packed,
    )
    from search_engine_spark.operators.segments import build_segments
    from tests.test_search_e2e import oracle_of

    n_salts = 2
    docs = build_documents_from_testdata(spark, sf_dir).cache()
    n_docs = docs.count()
    oracle = oracle_of(docs)

    # 50 takes the df-count path; 0 salts every term without a count
    for threshold in (50, 0):

        def salt_of(term: str, doc_id: int) -> int:
            hot = len(oracle.postings[term]) > threshold
            return xxhash64_long(doc_id) % n_salts if hot else 0

        rows = build_segments(
            build_postings_packed(docs),
            n_buckets=8,
            n_salts=n_salts,
            salt_threshold=threshold,
            n_docs=n_docs,
        ).collect()
        groups: dict[tuple[int, int], list] = {}
        for term, pl in oracle.postings.items():
            for d in sorted(pl):
                groups.setdefault((term_to_id(term), salt_of(term, d)), []).append(pl[d])
        expected = {
            key: reference_encode(*zip(*[(p.doc_id, p.title_end, p.positions) for p in plist]))
            for key, plist in groups.items()
        }
        assert {(r.term_id, r.salt) for r in rows} == set(expected)
        for r in rows:
            assert _as_lists(r) == expected[(r.term_id, r.salt)], (r.term_id, r.salt)
    docs.unpersist()


@pytest.mark.parametrize("threshold", [50, 0])
def test_unpack_write_roundtrip_real_build(spark, sf_dir, threshold):
    """Every segment row of a salted build of the sf0.001 fixture: split
    its blob into per-doc spans from the varint end bits, write them
    again with the one writer, and get back the row in every column."""
    from search_engine_spark.operators.postings import (
        build_documents_from_testdata,
        build_postings_packed,
    )
    from search_engine_spark.operators.segments import build_segments

    docs = build_documents_from_testdata(spark, sf_dir)
    rows = build_segments(
        build_postings_packed(docs),
        n_buckets=8,
        n_salts=4,
        salt_threshold=threshold,
        n_docs=docs.count(),
    ).collect()
    assert len({r.salt for r in rows}) == 4
    for r in rows:
        raw = np.frombuffer(bytes(r.blob), np.uint8)
        tf = np.array(r.tf, np.int64)
        starts, lens = codec.position_spans(raw, tf)
        d = np.array(r.doc_ids, np.int64)
        eb = codec.encode_postings(
            np.full(d.size, r.term_id), d, np.array(r.title_end), tf, starts, lens, raw
        )
        assert _as_lists(eb.row(0)) == _as_lists(r)


def test_encode_bucket_packed_matches_reference():
    """The one writer, fed a bucket's rows in any order, gives every term
    the plain-Python reference writer's row."""
    rng = np.random.default_rng(7)
    for _trial in range(10):
        rows = []
        for t in range(int(rng.integers(1, 6))):
            docs = np.sort(rng.choice(5_000, int(rng.integers(1, 200)), replace=False))
            for d in docs:
                npos = int(rng.integers(1, 8))
                te = int(rng.integers(0, npos + 1))
                tpos = np.sort(rng.choice(500, te, replace=False))
                bpos = np.sort(rng.choice(500, npos - te, replace=False))
                rows.append((t * 7 + 1, d, te, np.concatenate([tpos, bpos])))
        eb = _write(*zip(*rows), seed=_trial)
        terms = sorted({r[0] for r in rows})
        assert list(eb.term_ids) == terms
        for i, term in enumerate(terms):
            mine = [r for r in rows if r[0] == term]
            _assert_row(eb.row(i), reference_encode(*zip(*[r[1:] for r in mine])))


def test_pack_position_deltas_trailing_empty_docs():
    """Zero-position docs must pack to length 0 anywhere in the array —
    including at the TAIL (previously an out-of-bounds reduceat index)."""
    # docs: [3 pos][0 pos][2 pos][0 pos][0 pos]  (trailing empties)
    counts = np.array([3, 0, 2, 0, 0], np.int64)
    te = np.array([1, 0, 0, 0, 0], np.int64)
    flat = np.array([4, 9, 15, 100, 103], np.int64)
    starts = np.zeros(counts.size, np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    buf, blen = codec.pack_position_deltas(flat, starts, te, counts)
    assert list(blen[counts == 0]) == [0, 0, 0]
    # non-empty docs' slices decode back to their original positions
    off = np.zeros(counts.size + 1, np.int64)
    np.cumsum(blen, out=off[1:])
    d0 = codec.varint_decode(buf[off[0] : off[1]]).astype(np.int64)
    # doc0: title field [4] (absolute), body field [9 (absolute reset), 15-9]
    assert list(d0) == [4, 9, 6]
    d2 = codec.varint_decode(buf[off[2] : off[3]]).astype(np.int64)
    assert list(d2) == [100, 3]


def _postings(n_docs, kind="mixed", seed=0):
    """One term's postings (doc_ids, title_ends, positions) of ``n_docs``
    docs: ``mixed`` title+body fields, ``title`` title-only docs, ``body``
    body-only docs."""
    rng = np.random.default_rng(seed + n_docs)
    doc_ids = np.sort(rng.choice(50 * n_docs + 10, n_docs, replace=False)).tolist()
    tes, positions = [], []
    for _ in range(n_docs):
        n = int(rng.integers(1, 6))
        te = {"mixed": int(rng.integers(0, n + 1)), "title": n, "body": 0}[kind]
        tes.append(te)
        positions.append(
            sorted(rng.choice(40, te, replace=False).tolist())
            + sorted(rng.choice(2000, n - te, replace=False).tolist())
        )
    return doc_ids, tes, positions


def _zero_at_block_end():
    """130 docs; the last doc of the first 128-doc block has no position."""
    positions = [[i % 7, 9 + i % 5] for i in range(130)]
    positions[127] = []
    return list(range(5, 5 + 3 * 130, 3)), [1] * 127 + [0] + [1, 1], positions


EDGE_CASES = {
    # zero-position docs in the middle and at the tail
    "zero_positions": ([3, 5, 9, 10, 11], [1, 0, 0, 0, 0], [[2, 7], [], [4], [], []]),
    "all_zero_positions": ([4, 8, 15], [0, 0, 0], [[], [], []]),
    "zero_positions_at_block_end": _zero_at_block_end(),
    "title_only": _postings(40, "title"),
    "body_only": _postings(40, "body"),
    **{f"df_{n}": _postings(n) for n in (127, 128, 129, 257)},
}


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_unpack_edge_cases(case):
    """The end bits and tf give each doc exactly its packed pdelta bytes,
    and writing those spans again gives the same row."""
    from tests.codec_reference import leb128, position_deltas

    doc_ids, tes, positions = EDGE_CASES[case]
    ref = reference_encode(doc_ids, tes, positions)
    raw = np.frombuffer(ref["blob"], np.uint8)
    starts, lens = codec.position_spans(raw, ref["tf"])
    for i, (pl, t) in enumerate(zip(positions, tes)):
        span = raw[starts[i] : starts[i] + lens[i]].tobytes()
        assert span == b"".join(leb128(x) for x in position_deltas(pl, t))
    d = np.array(doc_ids, np.int64)
    eb = codec.encode_postings(
        np.zeros(d.size), d, np.array(tes), np.array(ref["tf"]), starts, lens, raw
    )
    _assert_row(eb.row(0), ref)


def _split(case, how):
    """Reference-encoded parts of an edge case: ``one_doc`` puts the first
    doc in a part of its own; ``interleaved`` deals docs round-robin over
    three parts, so their doc ranges interleave."""
    doc_ids, tes, positions = EDGE_CASES[case]
    n = len(doc_ids)
    if how == "one_doc":
        groups = [[0], list(range(1, n))]
    else:
        groups = [list(range(k, n, 3)) for k in range(3)]
    return [
        reference_encode(*([col[i] for i in g] for col in (doc_ids, tes, positions)))
        for g in groups
        if g
    ]


@pytest.mark.parametrize("how", ["one_doc", "interleaved"])
@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_merge_edge_cases(case, how):
    """A read-merge of a term's parts equals the reference encode of all
    its postings, in every column."""
    parts = _split(case, how)
    ref = reference_encode(*EDGE_CASES[case])
    _assert_row(_merge(11, parts).row(0), ref)
    _assert_row(_merge(11, parts[::-1]).row(0), ref)


def test_merge_never_decodes_a_position(monkeypatch):
    """With varint decoding and position rebuilding made to raise, every
    merge still returns the same rows: a merge splices position bytes
    found from the end bits, it never decodes a varint."""
    cases = [(case, how) for case in sorted(EDGE_CASES) for how in ("one_doc", "interleaved")]
    before = [_as_lists(_merge(11, _split(c, h)).row(0)) for c, h in cases]

    def no_decode(*_args):
        raise AssertionError("a merge decoded a varint")

    monkeypatch.setattr(codec, "varint_decode", no_decode)
    monkeypatch.setattr(codec, "_segmented_cumsum", no_decode)
    part = _split("df_127", "one_doc")[1]
    with pytest.raises(AssertionError):
        codec.decode_positions(part["blob"], part["tf"], part["title_end"])
    assert [_as_lists(_merge(11, _split(c, h)).row(0)) for c, h in cases] == before


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_decode_edge_cases(case):
    """The full position decode, the decode of every block range from its
    byte offsets and the decode of every single doc give back the
    reference encode's input, zero-position docs included wherever they
    sit: mid-blob, last in the blob, in an all-empty term, last in a
    128-doc block."""
    doc_ids, tes, positions = EDGE_CASES[case]
    ref = reference_encode(doc_ids, tes, positions)
    blob, tf, te, offs = ref["blob"], np.array(ref["tf"]), np.array(tes), ref["block_offsets"]

    def flat(lo, hi):
        return [p for pl in positions[lo:hi] for p in pl]

    assert codec.decode_positions(blob, tf, te).tolist() == flat(0, len(doc_ids))
    bs = codec.BLOCK_SIZE
    for lo_b in range(len(offs)):
        for hi_b in range(lo_b + 1, len(offs) + 1):
            end = offs[hi_b] if hi_b < len(offs) else len(blob)
            got = codec.decode_positions(
                blob[offs[lo_b] : end], tf[lo_b * bs : hi_b * bs], te[lo_b * bs : hi_b * bs]
            )
            assert got.tolist() == flat(lo_b * bs, hi_b * bs)
    for i in range(len(doc_ids)):
        assert codec.decode_positions(blob, tf, te, np.array([i])).tolist() == flat(i, i + 1)
