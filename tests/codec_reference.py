"""A plain-Python per-term postings writer, written line by line from the
blob layout in the ``search_engine_spark.functions.codec`` docstring. It
shares no code with the engine, so the engine's one writer
(``codec.encode_postings``) and everything built on it are tested
against an independent encoding, byte for byte."""

BLOCK_SIZE = 128


def leb128(v: int) -> bytes:
    """Unsigned LEB128: 7 bits per byte, low bits first, high bit set on
    every byte but the last."""
    out = bytearray()
    while True:
        low, v = v & 0x7F, v >> 7
        if not v:
            out.append(low)
            return bytes(out)
        out.append(low | 0x80)


def position_deltas(positions: list[int], title_end: int) -> list[int]:
    """One doc's pdeltas: title-field gaps then body-field gaps, the first
    position of each field absolute."""
    out = []
    for field in (positions[:title_end], positions[title_end:]):
        prev = None
        for p in field:
            out.append(p if prev is None else p - prev)
            prev = p
    return out


def reference_encode(doc_ids, title_ends, positions):
    """One term's postings -> (blob, block_last, block_max_tf,
    block_offsets, df, ctf).

    ``doc_ids`` ascending; ``title_ends[i]`` and the position list
    ``positions[i]`` (title field first, each field ascending) of doc i.
    """
    doc_ids = [int(d) for d in doc_ids]
    title_ends = [int(t) for t in title_ends]
    positions = [[int(p) for p in ps] for ps in positions]
    blob = bytearray(leb128(len(doc_ids)))  # header: n_docs
    block_last, block_max_tf, block_offsets = [], [], []
    for lo in range(0, len(doc_ids), BLOCK_SIZE):
        docs = doc_ids[lo : lo + BLOCK_SIZE]
        tes = title_ends[lo : lo + BLOCK_SIZE]
        pls = positions[lo : lo + BLOCK_SIZE]
        block_offsets.append(len(blob))
        prev = None
        for d in docs:  # gaps; the block's first is the absolute doc_id
            blob += leb128(d if prev is None else d - prev)
            prev = d
        for pl in pls:  # npos
            blob += leb128(len(pl))
        for te in tes:  # title_end
            blob += leb128(te)
        for pl, te in zip(pls, tes):  # pdeltas
            for x in position_deltas(pl, te):
                blob += leb128(x)
        block_last.append(docs[-1])
        block_max_tf.append(max(len(pl) for pl in pls))
    ctf = sum(len(pl) for pl in positions)
    return bytes(blob), block_last, block_max_tf, block_offsets, len(doc_ids), ctf
