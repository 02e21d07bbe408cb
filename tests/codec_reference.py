"""A plain-Python per-term segment row writer, written line by line from
the row layout in the ``search_engine_spark.functions.codec`` docstring.
It shares no code with the engine, so the engine's one writer
(``codec.encode_postings``) and everything built on it are tested
against an independent encoding, column for column and byte for byte."""

BLOCK_SIZE = 128

COLUMNS = (
    "doc_ids", "tf", "title_end", "blob", "block_last", "block_max_tf", "block_offsets",
    "df", "ctf",
)


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


def reference_encode(doc_ids, title_ends, positions) -> dict:
    """One term's postings -> its segment row: {column: value} for every
    name in ``COLUMNS`` (lists, bytes and ints).

    ``doc_ids`` ascending; ``title_ends[i]`` and the position list
    ``positions[i]`` (title field first, each field ascending) of doc i.
    """
    doc_ids = [int(d) for d in doc_ids]
    title_ends = [int(t) for t in title_ends]
    positions = [[int(p) for p in ps] for ps in positions]
    blob = bytearray()
    block_last, block_max_tf, block_offsets = [], [], []
    for i, (pl, te) in enumerate(zip(positions, title_ends)):
        if i % BLOCK_SIZE == 0:
            block_offsets.append(len(blob))
            block_last.append(doc_ids[min(i + BLOCK_SIZE, len(doc_ids)) - 1])
            block_max_tf.append(max(len(p) for p in positions[i : i + BLOCK_SIZE]))
        for x in position_deltas(pl, te):
            blob += leb128(x)
    return {
        "doc_ids": doc_ids,
        "tf": [len(pl) for pl in positions],
        "title_end": title_ends,
        "blob": bytes(blob),
        "block_last": block_last,
        "block_max_tf": block_max_tf,
        "block_offsets": block_offsets,
        "df": len(doc_ids),
        "ctf": sum(len(pl) for pl in positions),
    }
