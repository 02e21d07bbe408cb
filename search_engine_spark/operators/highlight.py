"""Result highlighting + abstract extraction (SURVEY §2.8, H1-H4).

Reference semantics (yuanyb/search-engine):

- H1 interval build+merge (``index/core/search.go:342-375``): every
  occurrence position of every query token in the field becomes a width-2
  interval ``[pos, pos+1]``; intervals sort by start and merge while the
  gap to the previous original interval is ≤ 1 — for sorted positions this
  is "group positions whose consecutive delta ≤ 2", merged interval =
  ``[first, last+1]``.
- H2 window selection (``search.go:377-403``): pick the longest merged
  interval (first on ties). The reference's expansion loop runs only while
  the window length EXCEEDS 100 (``search.go:389``), so the actual
  behavior is: longest interval alone if its length ≤ 100, else ALL
  intervals. We mirror the actual code, not the intended comment.
- H3 abstract (``search.go:117-141``): pad the body-highlight span to ~100
  runes — ``padding = (100 - span)/2`` with Go truncated division; start
  clamps at 0; the end-padding branch keys on ``newStart - padding ≥ 0``
  (the reference compares against the already-clamped start). Fallback
  when no body highlight: first 100 characters — the reference slices
  BYTES (``search.go:143``) which can split a UTF-8 rune; we slice runes
  (documented divergence, SURVEY §7.4.4c).
- H4 tag injection (``search.go:102-105,129-163``): wrap each highlight
  run with ``<span style='color:red'>…</span>``.

Scale shape: highlighting runs ONLY on the top-k rows (≤ 50 per query,
``engine.go:65``) after ranking — a broadcast join of the tiny ranked side
against the index's doc store followed by one mapInPandas pass whose tokenize step
is the same vectorized numpy kernel as the index build. The 100 TB scan
never touches this code.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenizer import tokenize_batch, tokenize_query
from .search import parse_query
from .segments import DiskIndex
from .wand import search_segments

HIGHLIGHT_PREFIX = "<span style='color:red'>"  # search.go:103
HIGHLIGHT_SUFFIX = "</span>"  # search.go:104

_ENRICHED_SCHEMA = (
    "doc_id long, score double, rank long, url string, "
    "title_highlighted string, abstract string"
)


def merge_positions(positions: np.ndarray | list[int]) -> list[list[int]]:
    """H1: sorted positions -> merged [start, end_inclusive+? ] intervals.

    Interval = [first_pos, last_pos + 1] over maximal groups of sorted
    positions with consecutive delta ≤ 2 (search.go:362-372; the width-2
    base intervals make the Go gap rule reduce to this).
    """
    out: list[list[int]] = []
    for p in sorted(int(x) for x in positions):
        if out and p - out[-1][1] <= 1:
            out[-1][1] = p + 1
        else:
            out.append([p, p + 1])
    return out


def select_window(intervals: list[list[int]]) -> list[list[int]]:
    """H2: the reference's 100-window selection (search.go:377-403),
    mirroring the actual ``> 100`` loop condition."""
    if not intervals:
        return []

    def length(i: int, j: int) -> int:
        return intervals[j][1] - intervals[i][0] + 1

    max_len, max_idx = 0, 0
    for i in range(len(intervals)):
        if max_len < length(i, i):
            max_len, max_idx = length(i, i), i
    i = j = max_idx
    while length(i, j) > 100 and (i > 0 or j < len(intervals) - 1):
        len1 = length(i - 1, i - 1) if i > 0 else 0
        len2 = length(j + 1, j + 1) if j < len(intervals) - 1 else 0
        if len1 > len2:
            i -= 1
        else:
            j += 1
    return intervals[i : j + 1]


def _go_half(a: int) -> int:
    """Go integer division by 2 truncates toward zero (Python floors)."""
    q = abs(a) // 2
    return q if a >= 0 else -q


def inject_spans(text: str, intervals: list[list[int]]) -> str:
    """H4: wrap [start, end] (end inclusive) runs with the span tag
    (search.go:129-141,148-160)."""
    parts: list[str] = []
    pos = 0
    for h0, h1 in intervals:
        parts.append(text[pos:h0])
        parts.append(HIGHLIGHT_PREFIX)
        parts.append(text[h0 : h1 + 1])
        parts.append(HIGHLIGHT_SUFFIX)
        pos = h1 + 1
    if pos < len(text):
        parts.append(text[pos:])
    return "".join(parts)


def make_abstract(body: str, body_hl: list[list[int]]) -> str:
    """H3: ~100-rune padded window around the body highlights with spans
    injected (search.go:117-141); rune-slice fallback (§7.4.4c)."""
    if not body_hl:
        return body[: min(100, len(body))]
    start, end = body_hl[0][0], body_hl[-1][1]
    padding = _go_half(100 - (end - start + 1))
    new_start = max(start - padding, 0)
    if new_start - padding >= 0:
        end = min(len(body), end + padding)
    else:
        end = min(len(body), end + padding - new_start)
    abstract_src = body[new_start:end]
    shifted = [[h0 - new_start, h1 - new_start] for h0, h1 in body_hl]
    return inject_spans(abstract_src, shifted)


def highlight_fields(
    title: str, body: str, title_pos: list[int], body_pos: list[int]
) -> tuple[str, str]:
    """Full H1→H4 for one document: returns (title_highlighted, abstract)."""
    t_hl = select_window(merge_positions(title_pos))
    b_hl = select_window(merge_positions(body_pos))
    title_out = inject_spans(title, t_hl) if t_hl else title
    return title_out, make_abstract(body, b_hl)


def _enrich_kernel(
    batches: Iterator[pd.DataFrame], term_ids: list[int]
) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel over the joined top-k rows.

    Tokenization is the vectorized batch kernel (numpy over code points);
    the interval/injection loops run over ≤ 50 rows per query — driver-side
    scale, per SURVEY §2.11.
    """
    tid_set = np.array(sorted(set(term_ids)), dtype=np.int64)
    for pdf in batches:
        field_pos: dict[str, list[list[int]]] = {}
        for field in ("title", "body"):
            texts = pdf[field].fillna("").astype(str)
            row_idx, tids, pos = tokenize_batch(texts)
            keep = np.isin(tids, tid_set)
            row_idx, pos = row_idx[keep], pos[keep]
            per_row: list[list[int]] = [[] for _ in range(len(pdf))]
            for r, p in zip(row_idx.tolist(), pos.tolist()):
                per_row[r].append(p)
            field_pos[field] = per_row
        titles_out, abstracts = [], []
        for i in range(len(pdf)):
            t_out, a_out = highlight_fields(
                str(pdf["title"].iloc[i] or ""),
                str(pdf["body"].iloc[i] or ""),
                field_pos["title"][i],
                field_pos["body"][i],
            )
            titles_out.append(t_out)
            abstracts.append(a_out)
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "score": pdf["score"],
                "rank": pdf["rank"],
                "url": pdf["url"],
                "title_highlighted": titles_out,
                "abstract": abstracts,
            }
        )


def enrich_ranked(di: DiskIndex, ranked: DataFrame, term_ids: list[int]) -> DataFrame:
    """ranked (doc_id, score, rank) → join the doc store → highlight+abstract.

    The ranked side is ≤ 50 rows, so Catalyst broadcasts it into the
    documents join (no shuffle of the big table); the pandas pass then
    touches only those rows."""
    docs = di.documents.select("doc_id", "url", "title", "body")
    joined = docs.join(F.broadcast(ranked), "doc_id")
    if not term_ids:
        return joined.sparkSession.createDataFrame([], _ENRICHED_SCHEMA)
    return joined.mapInPandas(
        lambda it: _enrich_kernel(it, term_ids), schema=_ENRICHED_SCHEMA
    ).orderBy("rank")


def enrich_topk(di: DiskIndex, query: str, k: int = 10) -> DataFrame:
    """search_segments → top-k → join the doc store → highlight+abstract.

    Highlights come from the FIRST keyword's tokens — the reference's AND
    fold keeps the first keyword's items (intended semantics of
    search.go:58-84, SURVEY §7.4.4a).
    """
    ranked = search_segments(di, query).filter(F.col("rank") <= k)
    pq = parse_query(query)
    term_ids = (
        [tid for tid, _ in tokenize_query(pq.keywords[0])] if pq.keywords else []
    )
    return enrich_ranked(di, ranked, term_ids)
