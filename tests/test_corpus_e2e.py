"""E2E over the synthetic source-code corpus (input_hint shape) — exercises
the HTML parse path, title boosts (R3), CJK bigrams, and deterministic
doc_id assignment. Queries run through both ``search_segments`` routes."""

import pytest

from search_engine_spark.corpus import generate_corpus
from search_engine_spark.operators.docids import assign_doc_ids
from search_engine_spark.operators.postings import build_documents_from_corpus
from tests.test_search_e2e import (
    ROUTES,
    assert_rank_identical,
    build_disk_index,
    oracle_of,
    ranked,
)

N_DOCS = 240

QUERIES = [
    "hello",
    "HelloWorld",
    "Doc",          # appears in HTML titles → title ×3 boost + title phrase
    "你好世界",       # CJK bigrams
    "abcdef",       # long verbatim run → phrase boost
    "ABCdef",       # case-sensitivity twin
    "index -Merge",
    "postings site:org1",
    "文档",          # CJK in titles
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    corpus = generate_corpus(spark, N_DOCS, n_partitions=4).cache()
    docs = build_documents_from_corpus(corpus).cache()
    di = build_disk_index(spark, docs, str(tmp_path_factory.mktemp("corpus") / "idx"))
    return corpus, di, oracle_of(docs)


def test_corpus_deterministic(spark, built):
    corpus, _, _ = built
    again = generate_corpus(spark, N_DOCS, n_partitions=2)
    a = sorted(corpus.select("repo", "path", "commit", "content_sha256").collect())
    b = sorted(again.select("repo", "path", "commit", "content_sha256").collect())
    assert a == b


def test_html_docs_parsed_titles(built):
    _, di, _ = built
    titled = di.documents.filter("title != ''").count()
    assert titled == N_DOCS // 6  # one lang in 6 is html, all carry <title>


def test_docid_assignment_scalable_matches_window(built):
    from pyspark.sql import functions as F

    _, di, _ = built
    base = di.documents.select(F.col("url").alias("u")).repartition(5)
    seq = assign_doc_ids(base, key_cols=["u"], scalable=False).select(
        "u", F.col("doc_id").alias("a")
    )
    par = assign_doc_ids(base, key_cols=["u"], scalable=True).select(
        F.col("u").alias("u_b"), F.col("doc_id").alias("b")
    )
    joined = seq.join(par, seq.u == par.u_b)
    assert joined.count() == base.count()
    assert joined.filter("a != b").count() == 0


@pytest.mark.parametrize("query", QUERIES)
def test_corpus_rank_identity(built, query):
    _, di, oracle = built
    exp = oracle.search(query)
    for route in ROUTES:
        assert_rank_identical(ranked(di, query, route), exp)


def test_sha256_invariant_corpus(built):
    import hashlib

    corpus, di, _ = built
    # invariant survives the parse/docid pipeline and the doc-store write
    rows = di.documents.limit(50).collect()
    src = {r.content_sha256 for r in corpus.select("content_sha256").collect()}
    for r in rows:
        assert r.content_sha256 in src
