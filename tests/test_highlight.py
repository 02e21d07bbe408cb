"""Highlight/abstract parity: Spark enrichment vs verbatim-Go oracle.

The product path (operators/highlight.py) uses a simplified
position-grouping merge; the oracle (oracle/reference.py) transcribes the
Go loops literally (width-2 intervals, in-place merge, >100 expansion).
Agreement between the two validates the simplification.
"""

import random

import pytest

from search_engine_spark.operators.highlight import (
    enrich_topk,
    highlight_fields,
    merge_positions,
    select_window,
)
from search_engine_spark.operators.postings import build_documents_from_testdata
from search_engine_spark.oracle.reference import OracleIndex
from tests.test_search_e2e import build_disk_index, oracle_of


def test_interval_merge_matches_go_loop():
    rng = random.Random(7)
    for trial in range(300):
        n = rng.randint(1, 40)
        hi = rng.choice([10, 50, 300])
        pos = [rng.randint(0, hi) for _ in range(n)]
        # split into several "cursors" like Go (order must not matter)
        k = rng.randint(1, 4)
        cursors = [pos[i::k] for i in range(k)]
        got = select_window(merge_positions(pos))
        exp = OracleIndex.find_highlight(cursors)
        assert got == exp, (trial, sorted(pos))


def test_interval_merge_empty():
    assert select_window(merge_positions([])) == []
    assert OracleIndex.find_highlight([[], []]) == []


def test_known_example():
    # query:ABC doc:ABCABGC — AB:{0,3} BC:{1} (search.go:358 comment)
    assert merge_positions([0, 3, 1]) == [[0, 4]]


def test_wide_span_keeps_all_intervals():
    # single longest merged interval > 100 → reference expands to ALL
    pos = list(range(0, 120, 2)) + [500, 501]
    got = select_window(merge_positions(pos))
    exp = OracleIndex.find_highlight([pos])
    assert got == exp
    assert len(got) == 2  # everything kept


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    docs = build_documents_from_testdata(spark, sf_dir).cache()
    di = build_disk_index(spark, docs, str(tmp_path_factory.mktemp("hl") / "idx"))
    return di, oracle_of(docs)


@pytest.mark.parametrize("query", ["the", "table scan", "spark", "dup"])
def test_enrich_matches_oracle(built, query):
    di, oracle = built
    rows = enrich_topk(di, query, k=10).collect()
    exp_ranked = oracle.search(query)[:10]
    assert [r.doc_id for r in rows] == [d for d, _ in exp_ranked]
    first_kw = query.split()[0]
    for r in rows:
        title = oracle.urls  # noqa: F841  (doc text comes from the index)
        # fetch doc text through the oracle's stored postings is not
        # possible; recompute from the documents table row
        t_exp, a_exp = oracle.apply_highlight(
            first_kw, r.doc_id, *_doc_text(built, r.doc_id)
        )
        assert r.title_highlighted == t_exp, r.doc_id
        assert r.abstract == a_exp, r.doc_id


_DOC_CACHE: dict[int, tuple[str, str]] = {}


def _doc_text(built, doc_id: int) -> tuple[str, str]:
    if not _DOC_CACHE:
        di, _ = built
        for row in di.documents.select("doc_id", "title", "body").collect():
            _DOC_CACHE[row.doc_id] = (row.title or "", row.body or "")
    return _DOC_CACHE[doc_id]


def test_highlight_fields_span_injection():
    title, abstract = highlight_fields("abcd", "xx abcd yy", [0, 1], [3, 4])
    pre, suf = "<span style='color:red'>", "</span>"
    assert title == f"{pre}abc{suf}d"
    assert f"{pre}" in abstract and "abc" in abstract


def test_abstract_fallback_no_body_highlight():
    _, abstract = highlight_fields("t", "A" * 250, [], [])
    assert abstract == "A" * 100
