"""Codec unit tests: varint + delta roundtrip, block metadata, block
slicing. Mirrors the reference's roundtrip property test
(index/core/indexer_test.go:24-44) on the upgraded delta+varint format.
No Spark needed."""

import numpy as np
import pytest

from search_engine_spark.functions import codec


def test_varint_roundtrip_edges():
    vals = np.array([0, 1, 127, 128, 129, 16383, 16384, 2**21 - 1, 2**35, 2**62], np.uint64)
    buf, nbytes = codec.varint_encode(vals)
    assert nbytes.tolist() == [1, 1, 1, 2, 2, 2, 3, 3, 6, 9]
    assert (codec.varint_decode(buf) == vals).all()


def test_reference_fixture_roundtrip():
    # indexer_test.go:24-44: postings docIds {5,6,7} positions
    # [1,2,3],[4,6,8],[6,7,8] — titleEnd 0.
    blob, last, maxtf, offs = codec.encode_term_postings(
        [5, 6, 7], [0, 0, 0], [[1, 2, 3], [4, 6, 8], [6, 7, 8]]
    )
    d, te, pc, pos = codec.decode_term_postings(blob)
    assert d.tolist() == [5, 6, 7]
    assert te.tolist() == [0, 0, 0]
    assert pc.tolist() == [3, 3, 3]
    assert pos.tolist() == [1, 2, 3, 4, 6, 8, 6, 7, 8]
    assert last.tolist() == [7] and maxtf.tolist() == [3]


def test_title_body_field_split():
    # title positions [0, 7] then body positions [0, 3] (not globally
    # sorted — sorted within each field, indexer.go:129-134)
    blob, *_ = codec.encode_term_postings([42], [2], [[0, 7, 0, 3]])
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
    eb = codec.encode_bucket(
        np.array(term_ids), np.array(doc_ids), np.array(tes),
        np.array(pcs), np.array(flat),
    )
    ti = np.array(term_ids)
    di = np.array(doc_ids)
    pcarr = np.array(pcs)
    ps = np.zeros(len(pcs), np.int64)
    np.cumsum(pcarr[:-1], out=ps[1:])
    flat = np.array(flat)
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
    blob, *_ = codec.encode_term_postings(
        docs.tolist(), [0] * 1000, [[5]] * 1000
    )
    # absolute varint of 1e6-range ids needs 3 bytes; gaps need 1
    assert len(blob) < 1000 * (1 + 1 + 1 + 1) + 50


def test_packed_build_segments_byte_identical(spark, sf_dir):
    """Every blob of the packed build (map-side pos_blob, spliced in the
    encode kernel) is byte-identical to the reference encoder,
    ``codec.encode_bucket``, applied to that term's postings in the
    pure-Python oracle — per salt for the hot (salted) terms, both where
    the hot set needs a df count and where every term is hot."""
    from search_engine_spark.functions.tokenizer import id_to_term
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

    def salt_of(term: str, doc_id: int, threshold: int) -> int:
        hot = len(oracle.postings[term]) > threshold
        return xxhash64_long(doc_id) % n_salts if hot else 0

    # 50 takes the df-count path; 0 salts every term without a count
    for threshold in (50, 0):
        rows = build_segments(
            build_postings_packed(docs),
            n_buckets=8,
            n_salts=n_salts,
            salt_threshold=threshold,
            n_docs=n_docs,
        ).collect()
        expected_keys = {
            (term, salt_of(term, d, threshold)) for term, pl in oracle.postings.items() for d in pl
        }
        assert {(id_to_term(r.term_id), r.salt) for r in rows} == expected_keys
        for r in rows:
            term = id_to_term(r.term_id)
            pl = oracle.postings[term]
            plist = [pl[d] for d in sorted(pl) if salt_of(term, d, threshold) == r.salt]
            eb = codec.encode_bucket(
                np.full(len(plist), r.term_id, np.int64),
                np.array([p.doc_id for p in plist], np.int64),
                np.array([p.title_end for p in plist], np.int64),
                np.array([len(p.positions) for p in plist], np.int64),
                np.array([x for p in plist for x in p.positions], np.int64),
            )
            assert bytes(r.blob) == eb.blobs[0], (term, r.salt)
            assert list(r.block_last) == eb.block_last[0].tolist()
            assert list(r.block_max_tf) == eb.block_max_tf[0].tolist()
            assert list(r.block_offsets) == eb.block_offsets[0].tolist()
            assert (r.df, r.ctf) == (int(eb.dfs[0]), int(eb.ctfs[0]))
    docs.unpersist()


def test_encode_bucket_packed_matches_reference():
    import numpy as np

    from search_engine_spark.functions import codec

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
        term = np.array([r[0] for r in rows], np.int64)
        doc = np.array([r[1] for r in rows], np.int64)
        te = np.array([r[2] for r in rows], np.int64)
        counts = np.array([len(r[3]) for r in rows], np.int64)
        flat = np.concatenate([r[3] for r in rows]).astype(np.int64)
        eb1 = codec.encode_bucket(term, doc, te, counts, flat)
        starts = np.zeros(counts.size, np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        buf, blen = codec.pack_position_deltas(flat, starts, te, counts)
        off = np.zeros(counts.size + 1, np.int64)
        np.cumsum(blen, out=off[1:])
        eb2 = codec.encode_bucket_packed(term, doc, te, counts, off, buf)
        assert list(eb1.term_ids) == list(eb2.term_ids)
        for i in range(len(eb1.term_ids)):
            assert eb1.blobs[i] == eb2.blobs[i]
            assert list(eb1.block_offsets[i]) == list(eb2.block_offsets[i])


def test_pack_position_deltas_trailing_empty_docs():
    """Zero-position docs must pack to length 0 anywhere in the array —
    including at the TAIL (previously an out-of-bounds reduceat index)."""
    import numpy as np

    from search_engine_spark.functions import codec

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
