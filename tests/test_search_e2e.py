"""End-to-end rank identity: Spark engine vs pure-Python oracle.

FIXTURES.md §4 — score tolerance 1e-9, ordering = score desc / doc_id asc,
candidates pre-truncated to the 50 lowest docIds. Every query runs
through both ``search_segments`` routes: the driver route and the
executor route (``max_driver_postings=0``).
"""

import pytest

from search_engine_spark.operators import wand
from search_engine_spark.operators.postings import build_documents_from_testdata
from search_engine_spark.operators.search import paginate
from search_engine_spark.operators.segments import load_index, write_index
from search_engine_spark.oracle.reference import OracleIndex

ROUTES = {"driver": {}, "executor": {"max_driver_postings": 0}}

QUERIES = [
    "the",            # q01-style single keyword
    "spark",
    "table scan",     # multi-keyword AND (first-keyword scores)
    "scan -merge",    # exclusion NOT
    "order site:src3",  # site suffix filter
    "qqqq",           # absent bigrams → empty
    "z",              # single char → no tokens → empty
    "",               # empty query → empty
    "   ",
    "the -",          # empty exclusion keyword → no-op
    "sort merge -scan site:src1",  # everything combined
    "thethe",         # repeated-bigram query (duplicate query tokens)
]


def oracle_of(docs) -> OracleIndex:
    """The pure-Python reference index over a documents DataFrame."""
    oracle = OracleIndex()
    for r in docs.select("doc_id", "url", "title", "body").collect():
        oracle.add_document(r.doc_id, r.url, r.title, r.body)
    return oracle


def build_disk_index(spark, docs, path: str):
    """write_index -> load_index with a small salt threshold, so hot terms
    take the salted encode and the query path read-merges their parts."""
    write_index(docs, path, n_buckets=16, n_shards=2, n_salts=4, salt_threshold=50)
    return load_index(spark, path)


def ranked(di, query: str, route: str, **kw) -> list[tuple[int, float]]:
    """(doc_id, score) rows of ``search_segments`` on one route."""
    if route == "executor":
        # a query whose segments are all LRU-resident skips the postings
        # valve and stays on the driver, so force a cold cache
        di.clear_caches()
    rows = wand.search_segments(di, query, **ROUTES[route], **kw).collect()
    return [(r.doc_id, r.score) for r in rows]


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    docs = build_documents_from_testdata(spark, sf_dir).cache()
    di = build_disk_index(spark, docs, str(tmp_path_factory.mktemp("e2e") / "idx"))
    return di, oracle_of(docs)


def assert_rank_identical(got, exp, tol=1e-9):
    assert len(got) == len(exp)
    assert {d for d, _ in got} == {d for d, _ in exp}
    exp_by_doc = dict(exp)
    for d, s in got:
        assert abs(s - exp_by_doc[d]) < tol, (d, s, exp_by_doc[d])
    # rank order identical modulo float-noise ties: compare orders after
    # rounding (both engines then order by (score_r desc, doc_id asc))
    g = sorted(got, key=lambda x: (-round(x[1], 6), x[0]))
    e = sorted(exp, key=lambda x: (-round(x[1], 6), x[0]))
    assert [d for d, _ in g] == [d for d, _ in e]


@pytest.mark.parametrize("query", QUERIES)
def test_rank_identity(built, query):
    di, oracle = built
    exp = oracle.search(query)
    for route in ROUTES:
        assert_rank_identical(ranked(di, query, route), exp)


def test_pagination(built):
    di, _ = built
    result = wand.search_segments(di, "the")
    page1 = paginate(result, 1).collect()
    page2 = paginate(result, 2).collect()
    assert len(page1) == 10 and len(page2) == 10
    assert [r.rank for r in page1] == list(range(1, 11))
    assert [r.rank for r in page2] == list(range(11, 21))
    assert page1[0].score >= page1[-1].score


def test_per_shard_truncation_is_lowest_50_docids(built):
    # engine.go:65: the candidate set is cut to the 50 LOWEST docIds before
    # the score sort — a high-scoring doc with docId rank >50 must be absent.
    di, oracle = built
    got = {d for d, _ in ranked(di, "the", "driver")}
    all_cands = sorted(oracle.search_docs("the"))
    assert got == set(all_cands[:50])


def test_sha256_invariant(spark, sf_dir):
    # north-rule per-row invariant: content sha256 equality input vs documents
    import hashlib

    docs = build_documents_from_testdata(spark, sf_dir)
    rows = docs.select("body", "content_sha256").limit(100).collect()
    for r in rows:
        assert hashlib.sha256(r.body.encode()).hexdigest() == r.content_sha256


@pytest.mark.parametrize("num_shards", [2, 3, 7])
def test_num_shards_truncation_emulation(built, num_shards):
    """SURVEY §7.4.5: per-index-server 50-lowest-docId truncation
    (engine.go:64-65) + web fan-in (search.go:147-151) — engine's
    num_shards knob vs the oracle's sharded fold, on both routes."""
    di, oracle = built
    for route in ROUTES:
        for query in ["the", "table scan", "spark"]:
            got = ranked(di, query, route, num_shards=num_shards)
            exp = oracle.search(query, num_shards=num_shards)
            assert_rank_identical(got, exp)
        # sharded union is a superset of (or equal to) the single-shard set
        one = {d for d, _ in ranked(di, "the", route)}
        many = {d for d, _ in ranked(di, "the", route, num_shards=num_shards)}
        assert one <= many


def test_num_shards_segment_path(built, spark, tmp_path):
    """Same emulation over a second index layout (one shard, no salted
    terms) on the driver route and the executor route."""
    di, oracle = built
    d = str(tmp_path / "idx")
    docs = di.documents.select("doc_id", "url", "title", "body", "content_sha256")
    write_index(docs, d, n_buckets=8, n_shards=1, n_salts=2)
    plain = load_index(spark, d)
    for query in ["the", "table scan"]:
        exp = oracle.search(query, num_shards=3)
        for route in ROUTES:
            assert_rank_identical(ranked(plain, query, route, num_shards=3), exp)
