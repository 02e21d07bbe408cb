"""Tokenizer parity tests (reference: index/core/token.go, token_test.go)."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_spark.functions.tokenizer import (
    bigram_split,
    id_to_term,
    term_to_id,
    tokenize_batch,
    tokenize_query,
)


def _batch_tokens(texts):
    row, tid, pos = tokenize_batch(texts)
    out = {i: [] for i in range(len(texts))}
    for r, t, p in zip(row.tolist(), tid.tolist(), pos.tolist()):
        out[r].append((id_to_term(t), p))
    return out


def test_golden_fixture_token_test_go():
    # token_test.go:10 (informal golden, FIXTURES.md §3)
    assert bigram_split("hello,你好，world.世界。") == [
        ("he", 0), ("el", 1), ("ll", 2), ("lo", 3), ("你好", 6),
        ("wo", 9), ("or", 10), ("rl", 11), ("ld", 12), ("世界", 15),
    ]


def test_short_runs_emit_nothing():
    # token.go:37 — runs shorter than n emit nothing
    assert bigram_split("a") == []
    assert bigram_split("a b c") == []
    assert bigram_split("") == []


def test_case_sensitive():
    assert bigram_split("Ab") == [("Ab", 0)]
    assert bigram_split("ab") != bigram_split("AB")


def test_cjk_range_bounds():
    assert bigram_split("一龥") == [("一龥", 0)]
    # U+9FA6 is outside the indexed range → breaks the run
    assert bigram_split("一龦丁") == []


def test_positions_are_rune_offsets():
    # CJK chars are single runes: positions count code points, not bytes
    assert bigram_split("啊x yz") == [("啊x", 0), ("yz", 3)]


def test_term_id_roundtrip():
    for t in ["ab", "A9", "你好", "一z"]:
        assert id_to_term(term_to_id(t)) == t


def test_batch_matches_scalar_on_fixture():
    texts = ["hello,你好，world.世界。", "", "a", "ab", "A B9cd", "ППhi"]
    got = _batch_tokens(texts)
    for i, t in enumerate(texts):
        assert got[i] == bigram_split(t), t


def test_batch_no_cross_doc_pairs():
    # doc boundary must break runs even when texts concatenate seamlessly
    got = _batch_tokens(["ab", "cd"])
    assert got[0] == [("ab", 0)] and got[1] == [("cd", 0)]


@settings(max_examples=200, deadline=None)
@given(st.lists(st.text(alphabet=st.characters(codec="utf-8"), max_size=40), max_size=8))
def test_batch_matches_scalar_property(texts):
    got = _batch_tokens(texts)
    for i, t in enumerate(texts):
        assert got[i] == bigram_split(t)


def test_query_tokens_dedupe_with_positions():
    # indexer.go:97-107: duplicate query tokens fold into one item,
    # accumulating query positions (query "abab": ab@{0,2}, ba@{1})
    q = tokenize_query("abab")
    assert q == [(term_to_id("ab"), [0, 2]), (term_to_id("ba"), [1])]


def test_term_str_expr_matches_ids_to_terms(spark):
    """The lexicon's JVM term-string expression equals the numpy unpack
    on every pair over all ASCII alnum, sampled CJK and both CJK bounds
    (280 chars, 78,400 ids)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from search_engine_spark.functions.tokenizer import ids_to_terms
    from search_engine_spark.operators.postings import term_str_expr

    alnum = [c for c in range(0x30, 0x7B) if chr(c).isascii() and chr(c).isalnum()]
    cjk = np.linspace(0x4E00, 0x9FA5, 280 - len(alnum)).astype(np.int64).tolist()
    chars = np.array(alnum + cjk, np.int64)
    assert len(alnum) == 62 and cjk[0] == 0x4E00 and cjk[-1] == 0x9FA5
    ids = ((chars[:, None] << 21) | chars[None, :]).ravel()
    df = spark.createDataFrame(pd.DataFrame({"term_id": ids}))
    got = df.select("term_id", term_str_expr(F.col("term_id")).alias("term")).toPandas()
    got = got.sort_values("term_id")
    order = np.sort(ids)
    assert got["term_id"].tolist() == order.tolist()
    assert got["term"].tolist() == ids_to_terms(order).tolist()
