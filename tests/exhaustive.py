"""Exhaustive disjunctive top-k on the driver: the reference that the
block-max routes (``wand.topk_wand``, ``wand.topk_bm25_wand``) and the
executor route are compared against."""

import numpy as np

from search_engine_spark.functions.tokenizer import tokenize_query
from search_engine_spark.operators.segments import DiskIndex
from search_engine_spark.operators.wand import _Scorer, fetch_term_segments


def _exhaustive(di: DiskIndex, query: str, k: int, scorer: str) -> list[tuple[int, float]]:
    """Exhaustive disjunctive top-k on the driver: every posting of every
    query term, summed per doc, sorted by (−S, doc_id)."""
    segs = fetch_term_segments(di, sorted({t for t, _ in tokenize_query(query)}))
    if not segs:
        return []
    sc = _Scorer.of(di, scorer)
    if sc.bm25:
        ids, dl = di.doc_lengths()
    acc: dict[int, float] = {}
    for seg in segs.values():
        doc_ids, _, npos, _ = seg.decode()
        dld = dl[np.searchsorted(ids, doc_ids)].astype(np.float64) if sc.bm25 else 0.0
        contrib = sc.contrib(npos, sc.idf(seg.df), dld)
        for d, c in zip(doc_ids.tolist(), contrib.tolist()):
            acc[d] = acc.get(d, 0.0) + c
    return sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:k]


def topk_exhaustive(di: DiskIndex, query: str, k: int = 10) -> list[tuple[int, float]]:
    """Exhaustive disjunctive TF-IDF top-k by S — the oracle for
    topk_wand, always summed on the driver."""
    return _exhaustive(di, query, k, "tfidf")


def topk_bm25_exhaustive(
    di: DiskIndex, query: str, k: int = 10
) -> list[tuple[int, float]]:
    """Exhaustive disjunctive BM25 top-k: [(doc_id, score)], the oracle
    for topk_bm25_wand, always summed on the driver.

    score(d) = Σ_t idf_t · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)).
    The expression tree matches the DuckDB oracle term-for-term so float64
    results agree bit-for-bit."""
    return _exhaustive(di, query, k, "bm25")
