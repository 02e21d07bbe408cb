"""Codec unit tests: varint + delta roundtrip, block metadata, block
slicing. Mirrors the reference's roundtrip property test
(index/core/indexer_test.go:24-44) on the upgraded delta+varint format.
The engine's one writer (``codec.encode_postings``) and its inverse
(``codec.unpack_postings``) are checked against the plain-Python writer
in ``tests/codec_reference.py``. No Spark needed, except for the two
real-build tests."""

import numpy as np
import pytest

from search_engine_spark.functions import codec
from search_engine_spark.operators.segments import merge_term_rows
from tests.codec_reference import reference_encode


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


def _assert_row(eb, k, ref):
    """Row ``k`` of an engine encode equals a ``reference_encode`` result
    in every field: blob, sidecar, df and ctf."""
    blob, last, maxtf, offs, df, ctf = ref
    assert bytes(eb.blobs[k]) == blob
    assert eb.block_last[k].tolist() == last
    assert eb.block_max_tf[k].tolist() == maxtf
    assert eb.block_offsets[k].tolist() == offs
    assert (int(eb.dfs[k]), int(eb.ctfs[k])) == (df, ctf)


def test_varint_roundtrip_edges():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**21 - 1, 2**35, 2**62], np.uint64)
    buf, nbytes = codec.varint_encode(vals)
    assert nbytes.tolist() == [1, 1, 1, 2, 2, 2, 3, 3, 6, 9]
    assert (codec.varint_decode(buf) == vals).all()


def test_reference_fixture_roundtrip():
    # indexer_test.go:24-44: postings docIds {5,6,7} positions
    # [1,2,3],[4,6,8],[6,7,8] — titleEnd 0.
    blob, last, maxtf, offs, *_ = reference_encode(
        [5, 6, 7], [0, 0, 0], [[1, 2, 3], [4, 6, 8], [6, 7, 8]]
    )
    d, te, pc, pos = codec.decode_term_postings(blob)
    assert d.tolist() == [5, 6, 7]
    assert te.tolist() == [0, 0, 0]
    assert pc.tolist() == [3, 3, 3]
    assert pos.tolist() == [1, 2, 3, 4, 6, 8, 6, 7, 8]
    assert last == [7] and maxtf == [3]


def test_title_body_field_split():
    # title positions [0, 7] then body positions [0, 3] (not globally
    # sorted — sorted within each field, indexer.go:129-134)
    blob, *_ = reference_encode([42], [2], [[0, 7, 0, 3]])
    d, te, pc, pos = codec.decode_term_postings(blob)
    assert d.tolist() == [42] and te.tolist() == [2]
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
        d, te, pc, pos = codec.decode_term_postings(eb.blobs[k])
        assert (d == di[m]).all()
        assert (pc == pcarr[m]).all()
        exp_pos = np.concatenate(
            [flat[ps[i] : ps[i] + pcarr[i]] for i in np.flatnonzero(m)]
        )
        assert (pos == exp_pos).all()
        # block metadata + independent block decode
        nb = len(eb.block_offsets[k])
        assert nb == (m.sum() + codec.BLOCK_SIZE - 1) // codec.BLOCK_SIZE
        for b in range(nb):
            d2, _, pc2, _ = codec.slice_blocks(
                eb.blobs[k], eb.block_offsets[k], int(m.sum()), b, b + 1
            )
            lo, hi = b * codec.BLOCK_SIZE, (b + 1) * codec.BLOCK_SIZE
            assert (d2 == di[m][lo:hi]).all()
            assert eb.block_max_tf[k][b] == pcarr[m][lo:hi].max()
            assert eb.block_last[k][b] == di[m][lo:hi][-1]


def test_compression_beats_absolute():
    # dense doc ids -> gaps of 1 -> one byte each regardless of magnitude
    docs = np.arange(10**6, 10**6 + 1000)
    blob = _write(np.zeros(1000), docs, [0] * 1000, [[5]] * 1000).blobs[0]
    # absolute varint of 1e6-range ids needs 3 bytes; gaps need 1
    assert len(blob) < 1000 * (1 + 1 + 1 + 1) + 50


def test_packed_build_segments_byte_identical(spark, sf_dir):
    """Every blob of the packed build (map-side pos_blob, spliced in the
    encode kernel) is byte-identical to the plain-Python reference writer
    applied to that term's postings in the pure-Python oracle — per salt
    for the hot (salted) terms, both where the hot set needs a df count
    and where every term is hot."""
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
            blob, last, maxtf, offs, df, ctf = expected[(r.term_id, r.salt)]
            assert bytes(r.blob) == blob, (r.term_id, r.salt)
            assert list(r.block_last) == last
            assert list(r.block_max_tf) == maxtf
            assert list(r.block_offsets) == offs
            assert (r.df, r.ctf) == (df, ctf)
    docs.unpersist()


@pytest.mark.parametrize("threshold", [50, 0])
def test_unpack_write_roundtrip_real_build(spark, sf_dir, threshold):
    """Every segment row of a salted build of the sf0.001 fixture: unpack
    its blob, write it again with the one writer, and get back the row's
    blob, sidecar, df and ctf byte for byte."""
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
        d, te, npos, starts, lens, raw = codec.unpack_postings(bytes(r.blob))
        eb = codec.encode_postings(np.full(d.size, r.term_id), d, te, npos, starts, lens, raw)
        ref = (bytes(r.blob), list(r.block_last), list(r.block_max_tf), list(r.block_offsets), r.df, r.ctf)
        _assert_row(eb, 0, ref)


def test_encode_bucket_packed_matches_reference():
    """The one writer, fed a bucket's rows in any order, gives every term
    the plain-Python reference writer's bytes and sidecar."""
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
            _assert_row(eb, i, reference_encode(*zip(*[r[1:] for r in mine])))


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
    """Unpack yields each doc's integers and exactly its packed pdelta
    bytes, and writing them again gives the same blob and sidecar."""
    from tests.codec_reference import leb128, position_deltas

    doc_ids, tes, positions = EDGE_CASES[case]
    ref = reference_encode(doc_ids, tes, positions)
    d, te, npos, starts, lens, raw = codec.unpack_postings(ref[0])
    assert d.tolist() == doc_ids and te.tolist() == tes
    assert npos.tolist() == [len(p) for p in positions]
    for i, (pl, t) in enumerate(zip(positions, tes)):
        span = raw[starts[i] : starts[i] + lens[i]].tobytes()
        assert span == b"".join(leb128(x) for x in position_deltas(pl, t))
    eb = codec.encode_postings(np.zeros(d.size), d, te, npos, starts, lens, raw)
    _assert_row(eb, 0, ref)


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
        reference_encode(*([col[i] for i in g] for col in (doc_ids, tes, positions)))[0]
        for g in groups
        if g
    ]


@pytest.mark.parametrize("how", ["one_doc", "interleaved"])
@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_merge_edge_cases(case, how):
    """A read-merge of a term's parts equals the reference encode of all
    its postings, in every field."""
    parts = _split(case, how)
    ref = reference_encode(*EDGE_CASES[case])
    _assert_row(merge_term_rows(11, parts), 0, ref)
    _assert_row(merge_term_rows(11, parts[::-1]), 0, ref)


def test_merge_never_decodes_a_position(monkeypatch):
    """With position decoding made to raise, every merge still returns
    the same bytes: a merge splices position bytes, it never rebuilds
    positions."""
    cases = [(case, how) for case in sorted(EDGE_CASES) for how in ("one_doc", "interleaved")]
    before = [merge_term_rows(11, _split(c, h)).blobs[0] for c, h in cases]

    def no_positions(*_args):
        raise AssertionError("a merge decoded a position")

    monkeypatch.setattr(codec, "_segmented_cumsum", no_positions)
    with pytest.raises(AssertionError):
        codec.decode_term_postings(_split("df_127", "one_doc")[1])
    assert [merge_term_rows(11, _split(c, h)).blobs[0] for c, h in cases] == before



@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_decode_edge_cases(case):
    """The full decode and every block range of ``slice_blocks`` give back
    the reference encode's input, zero-position docs included wherever
    they sit: mid-blob, last in the blob, in an all-empty term, last in a
    128-doc block."""
    doc_ids, tes, positions = EDGE_CASES[case]
    blob, _, _, offs, df, _ = reference_encode(doc_ids, tes, positions)

    def assert_docs(got, lo, hi):
        d, te, npos, flat = got
        assert d.tolist() == doc_ids[lo:hi]
        assert te.tolist() == tes[lo:hi]
        assert npos.tolist() == [len(p) for p in positions[lo:hi]]
        assert flat.tolist() == [p for pl in positions[lo:hi] for p in pl]

    assert_docs(codec.decode_term_postings(blob), 0, df)
    offs = np.asarray(offs, np.int64)
    for lo_b in range(offs.size):
        for hi_b in range(lo_b + 1, offs.size + 1):
            assert_docs(
                codec.slice_blocks(blob, offs, df, lo_b, hi_b),
                lo_b * codec.BLOCK_SIZE,
                min(df, hi_b * codec.BLOCK_SIZE),
            )
