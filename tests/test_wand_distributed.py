"""Executor-side score-ordered query family (``topk_scores_many``, run
on a one-query set by the driver entry points above their valves).

The driver block-max routes (topk_wand / topk_bm25_wand, and the
exhaustive sums in tests/exhaustive.py) and the distributed plan must
agree rank-identically, and the distributed route must keep the DRIVER
at O(k): no doc-length collect (DiskIndex._dl stays None) and no
postings blobs fetched into the driver LRU (segment_cache stays empty).
Mirrors the reference read path (search.go:187-273) at cluster scale.
"""

import itertools
import math
import re
import struct
import threading

import pytest
from pyspark.sql import functions as F

from search_engine_spark.functions.sqltext import sql_list, sql_literal, sql_map
from search_engine_spark.functions.tokenizer import tokenize_query
from search_engine_spark.functions.xxhash import bucket_of_term
from search_engine_spark.operators import wand
from search_engine_spark.operators.postings import build_documents_from_testdata
from search_engine_spark.operators.segments import load_index, write_index
from search_engine_spark.streaming.ingest import (
    start_incremental_index,
    stream_documents,
)
from tests.exhaustive import topk_bm25_exhaustive, topk_exhaustive

QUERIES = ["table", "table spark", "customer query", "dup", "qqqq"]


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, spark, sf_dir):
    docs = build_documents_from_testdata(spark, sf_dir)
    path = str(tmp_path_factory.mktemp("dist_index"))
    write_index(docs, path, n_buckets=16, n_shards=2, n_salts=4, salt_threshold=50)
    return path


def _assert_rank_identical(got, exp, tol=1e-9):
    assert [d for d, _ in got] == [d for d, _ in exp]
    for (d, s), (_, es) in zip(got, exp):
        assert abs(s - es) < tol, (d, s, es)


def _one_query_stats(di, query, scorer="bm25", k=10):
    """Block counts and theta of the executor route of one query: the
    ``last_stats`` of a forced-executor driver entry point."""
    fn = wand.topk_bm25_wand if scorer == "bm25" else wand.topk_wand
    fn(di, query, k, max_driver_postings=0)
    return fn.last_stats


def _counted_collect(di, df):
    """Rows of ``df``, the plan the last ``topk_scores_many`` call
    returned, and that plan's own block counts, read after the collect."""
    blocks = wand.topk_scores_many.last_stats["blocks"]
    rows = df.collect()
    return rows, blocks.stats()


@pytest.mark.parametrize("query", QUERIES)
def test_bm25_distributed_parity(spark, index_dir, query):
    di = load_index(spark, index_dir)
    driver = wand.topk_bm25_wand(di, query, 10)
    dist = wand.topk_bm25_wand(load_index(spark, index_dir), query, 10,
                               max_driver_postings=0)
    _assert_rank_identical(dist, driver)


@pytest.mark.parametrize("query", QUERIES)
def test_tfidf_distributed_parity(spark, index_dir, query):
    di = load_index(spark, index_dir)
    driver = wand.topk_wand(di, query, 10)
    dist = wand.topk_wand(load_index(spark, index_dir), query, 10,
                          max_driver_postings=0)
    _assert_rank_identical(dist, driver)
    ex = topk_exhaustive(load_index(spark, index_dir), query, 10)
    _assert_rank_identical(dist, ex)
    bm_dist = wand.topk_bm25_wand(load_index(spark, index_dir), query, 10,
                                  max_driver_postings=0)
    _assert_rank_identical(bm_dist, topk_bm25_exhaustive(di, query, 10))


def test_distributed_driver_holds_only_k(spark, index_dir):
    """The O(k)-driver contract for a df≈n_docs query: after a forced
    distributed run on a FRESH index handle, the driver has collected
    neither the dl column nor any postings blob — only the k winners."""
    di = load_index(spark, index_dir)
    rows = wand.topk_bm25_wand(di, "table spark", 10, max_driver_postings=0)
    assert 0 < len(rows) <= 10
    st = wand.topk_bm25_wand.last_stats
    assert st["path"] == "distributed"
    assert st["blocks_total"] > 0 and st["blocks_decoded"] > 0, st
    assert di._dl is None, "distributed route must not collect doc lengths"
    assert len(di.segment_cache._d) == 0, (
        "distributed route must not ship postings blobs to the driver"
    )


def test_ndocs_valve_routes_distributed(spark, index_dir, monkeypatch):
    """Above MAX_DRIVER_DOCS the default call (no forced valve) must take
    the executor-side plan — the corpus size alone disqualifies the
    driver dl cache."""
    driver = wand.topk_bm25_wand(load_index(spark, index_dir), "table", 10)
    monkeypatch.setattr(wand, "MAX_DRIVER_DOCS", 1)
    di = load_index(spark, index_dir)
    dist = wand.topk_bm25_wand(di, "table", 10)
    assert wand.topk_bm25_wand.last_stats["path"] == "distributed"
    assert di._dl is None
    _assert_rank_identical(dist, driver)


# 'x1' (x1, x10, x11, x12) sits in every block of 'common', so at the
# probe's best theta every block keeps its help: nothing to prune
VOID_QUERY = "common x1"

# a hot/rare batch: a probing query, a second hot one, a void probe and a
# single-term query
BATCH_OF_FOUR = [
    ("a", "common needle"), ("b", "common w3"), ("c", VOID_QUERY), ("d", "w3"),
]


@pytest.fixture(scope="module")
def hot_rare_index(tmp_path_factory, spark):
    """2000 docs; 'common' in every doc (a stop-word-ish hot term spanning
    ~16 blocks per bigram), 'needle' only in docs 1..15 (one block at the
    low end). The shape where exhaustive executor decode pays O(df) for
    the hot term and block-max pruning should skip nearly all of it."""
    n = 2000
    rows = [
        (
            i + 1,
            f"https://h{i % 7}/p{i}",
            "",
            ("needle " if i < 15 else "") + f"common w{i} x{i % 13}",
        )
        for i in range(n)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, title string, body string"
    ).withColumn("content_sha256", F.sha2(F.col("body"), 256))
    path = str(tmp_path_factory.mktemp("hot_rare")) + "/idx"
    write_index(docs, path, n_buckets=8, n_shards=1, n_salts=2, salt_threshold=500)
    return path


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
def test_distributed_blockmax_prunes_hot_term(spark, hot_rare_index, scorer):
    """The executor-side kernel must skip blocks (blocks_decoded <
    blocks_total) on a hot+rare query — the executor twin of topk_wand's
    pruning-stats assertion (VERDICT r3 next-round #2) — while staying
    rank-identical to the exhaustive driver route."""
    di = load_index(spark, hot_rare_index)
    stats = _one_query_stats(di, "common needle", scorer)
    assert stats["blocks_total"] > 20, stats  # the hot term really is multi-block
    assert 0 < stats["blocks_decoded"] < stats["blocks_total"] // 2, stats
    fn = wand.topk_bm25_wand if scorer == "bm25" else wand.topk_wand
    driver = fn(load_index(spark, hot_rare_index), "common needle", 10)
    dist = fn(load_index(spark, hot_rare_index), "common needle", 10,
              max_driver_postings=0)
    _assert_rank_identical(dist, driver)


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
def test_big_rows_keep_blocks_in_sql(spark, hot_rare_index, monkeypatch, scorer):
    """With ``SMALL_TERM_POSTINGS`` below the hot term's row size, its
    rows ship no block arrays to the driver and keep blocks through the
    SQL filter over their own block_max_tf, counted by the plan's
    observation; the rarer rows keep the driver's ranges. The executor
    top-k still equals the exhaustive sum, and the plan keeps some blocks
    but not all."""
    monkeypatch.setattr(wand, "SMALL_TERM_POSTINGS", 500)
    query = "common needle x1"
    di = load_index(spark, hot_rare_index)
    fn = wand.topk_bm25_wand if scorer == "bm25" else wand.topk_wand
    exhaustive = topk_bm25_exhaustive if scorer == "bm25" else topk_exhaustive
    got = fn(di, query, 10, max_driver_postings=0)
    st = fn.last_stats
    assert math.isfinite(st["theta"]), st
    assert 0 < st["blocks_decoded"] < st["blocks_total"], st
    _assert_rank_identical(got, exhaustive(load_index(spark, hot_rare_index), query, 10))
    # the hot term's rows took the SQL filter
    df = wand.topk_scores_many(load_index(spark, hot_rare_index), [("q", query)], 10, scorer)
    prune = wand.topk_scores_many.last_stats["blocks"]
    df.collect()
    common = {t for t, _ in tokenize_query("common")}
    assert common <= set(prune.min_tf) and prune.observed is not None
    assert prune.stats() == {k: st[k] for k in ("blocks_total", "blocks_decoded")}
    rows = wand._term_rows(di, sorted(common)).select("df").collect()
    assert min(r["df"] for r in rows) > 500


def test_distributed_prune_keeps_scores_exact_on_scatter(spark, hot_rare_index):
    """Query where the rare term is NOT clustered: winners picked via the
    rare term must still carry their full hot-term contribution (a pruned
    winner block would corrupt the sum). 'common w3' — w3's bigram is
    moderately rare and scattered across blocks."""
    driver = wand.topk_bm25_wand(load_index(spark, hot_rare_index), "common w3", 10)
    dist = wand.topk_bm25_wand(
        load_index(spark, hot_rare_index), "common w3", 10, max_driver_postings=0
    )
    assert driver, "query must match"
    _assert_rank_identical(dist, driver)


def test_df_equals_ndocs_term(spark, tmp_path):
    """A term present in EVERY document (df == n_docs — the exact shape
    that breaks an O(df) driver collect at scale): the distributed plan
    answers it rank-identically to the driver plan."""
    n = 120
    rows = [
        (i + 1, f"https://h{i % 7}/p{i}", "", f"zz{i % 11} common w{i} zz")
        for i in range(n)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, url string, title string, body string"
    ).withColumn("content_sha256", F.sha2(F.col("body"), 256))
    path = str(tmp_path / "idx")
    write_index(docs, path, n_buckets=8, n_shards=2, n_salts=2, salt_threshold=50)
    driver = wand.topk_bm25_wand(load_index(spark, path), "common", 10)
    di = load_index(spark, path)
    dist = wand.topk_bm25_wand(di, "common", 10, max_driver_postings=0)
    assert len(driver) == 10  # the term matches all 120 docs
    _assert_rank_identical(dist, driver)
    assert di._dl is None and len(di.segment_cache._d) == 0


def test_topk_many_matches_single_query(spark, index_dir):
    """Batched multi-query top-k (ONE postings pass for the whole query
    set) matches the single-query plans row-for-row per qid — both
    scorers, including a no-hit query contributing zero rows."""
    qset = [("a", "table"), ("b", "table spark"), ("c", "dup"), ("d", "qqqq")]
    for scorer, single in (
        ("bm25", wand.topk_bm25_wand),
        ("tfidf", wand.topk_wand),
    ):
        di = load_index(spark, index_dir)
        got = wand.topk_scores_many(di, qset, k=10, scorer=scorer)
        by_q = {}
        for r in got.collect():
            by_q.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
        assert "d" not in by_q  # no-hit query yields no rows
        for qid, q in qset:
            exp = single(load_index(spark, index_dir), q, 10)
            rows = sorted(by_q.get(qid, []))
            assert [d for _, d, _ in rows] == [d for d, _ in exp], (scorer, qid)
            assert [r for r, _, _ in rows] == list(range(1, len(exp) + 1))
            for (_, _, s), (_, es) in zip(rows, exp):
                assert abs(s - round(es, 6)) < 1e-9, (scorer, qid)


def test_topk_many_empty_query_set(spark, index_dir):
    di = load_index(spark, index_dir)
    got = wand.topk_scores_many(di, [("x", "")], k=5)
    assert got.columns == ["qid", "doc_id", "score", "rank"]
    assert got.count() == 0


def test_topk_many_blockmax_prunes_hot_term(spark, hot_rare_index):
    """Verdict r4 #2: the BATCHED plan must skip blocks on a batch that
    contains a hot+rare query — blocks_decoded < blocks_total, counted by
    the plan topk_scores_many returns — while every query in the batch
    stays row-identical to its single-query plan."""
    di = load_index(spark, hot_rare_index)
    # "w3" is ONE bigram -> a genuinely single-term query in the batch
    qset = [("hot", "common needle"), ("lone", "w3")]
    got = wand.topk_scores_many(di, qset, k=10)
    thetas = wand.topk_scores_many.last_stats["theta"]
    rows, stats = _counted_collect(di, got)
    assert stats["blocks_total"] > 20, stats
    assert 0 < stats["blocks_decoded"] < stats["blocks_total"], stats
    # the hot query got a finite theta; the single-term one pins keep-all
    assert math.isfinite(thetas["hot"])
    assert thetas["lone"] == -math.inf
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    for qid, q in qset:
        exp = wand.topk_bm25_wand(load_index(spark, hot_rare_index), q, 10)
        rows = sorted(by_q.get(qid, []))
        assert [d for _, d, _ in rows] == [d for d, _ in exp], qid
        for (_, _, s), (_, es) in zip(rows, exp):
            assert abs(s - round(es, 6)) < 1e-9, qid


def test_topk_many_prune_or_is_superset_per_query(spark, hot_rare_index):
    """The batch OR keep-set must never prune a block a member query's
    OWN single-query criterion would keep: batching 'common needle' with
    a second query that also uses the hot term can only DECODE MORE
    blocks than the single-query plan, never fewer."""
    di = load_index(spark, hot_rare_index)
    single = _one_query_stats(di, "common needle")
    _, batch = _counted_collect(
        di, wand.topk_scores_many(di, [("a", "common needle"), ("b", "common w3")], k=10)
    )
    assert batch["blocks_total"] >= single["blocks_total"]
    assert batch["blocks_decoded"] >= single["blocks_decoded"], (single, batch)


def _executed_nodes(df):
    """Nodes of ``df``'s executed physical plan, query stages opened (the
    final adaptive plan once ``df`` has run)."""
    nodes, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            todo.append(node.plan())
            continue
        if name == "ReusedExchange":
            todo.append(node.child())
            continue
        nodes.append(node)
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return nodes


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return plan.toString()


def test_topk_many_no_full_candidate_window_sort(spark, hot_rare_index):
    """The per-qid rank window must never sort a query's full candidate
    set: Spark plans the row_number <= k filter as a WindowGroupLimit
    Partial BELOW the qid exchange (each partition keeps its k best per
    qid), and at most k·partitions rows per qid cross that exchange into
    the final window — measured on the exchange's records written."""
    di = load_index(spark, hot_rare_index)
    qset = [("hot", "common needle"), ("w3", "common w3")]
    df = wand.topk_scores_many(di, qset, k=10)
    rows = df.collect()
    plan = _final_plan(df)
    # exactly one Window node above the group limits
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1, plan
    qid_ex = re.search(r"Exchange hashpartitioning\(qid#\d+, \d+\)", plan)
    partial = re.search(r"WindowGroupLimit \[qid#\d+\].*, 10, Partial", plan)
    agg_ex = re.search(r"Exchange hashpartitioning\(qid#\d+, doc_id#\d+L, \d+\)", plan)
    assert qid_ex and partial and agg_ex, plan
    assert qid_ex.start() < partial.start() < agg_ex.start(), plan
    # measured: rows through the qid exchange vs the candidate set
    (ex,) = [
        n for n in _executed_nodes(df)
        if n.nodeName() == "Exchange"
        and re.fullmatch(r"hashpartitioning\(qid#\d+, \d+\)",
                         n.outputPartitioning().toString())
    ]
    crossed = ex.metrics().apply("shuffleRecordsWritten").value()
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 0 < crossed <= 10 * parts * len(qset), crossed
    assert len(rows) == 10 * len(qset)
    # 'common' is in all 2000 docs: each qid has 2000 candidates
    assert crossed * 20 < 2000 * len(qset), crossed


PYTHON_NODES = ("MapInArrow", "FlatMapGroupsInArrow", "ArrowEvalPython", "BatchEvalPython")


@pytest.mark.parametrize("qset", [[("q", "common needle")], BATCH_OF_FOUR],
                         ids=["one_query", "four_queries"])
def test_scoring_plan_python_boundary(spark, hot_rare_index, qset):
    """The executed scoring plan evaluates no Python — doc ids and tf are
    read as JVM expressions over the segment rows' arrays, block-max
    pruned — and scans no driver-built RDD: no routing table shipped
    from the driver."""
    di = load_index(spark, hot_rare_index)
    df = wand.topk_scores_many(di, qset, k=10)
    assert df.collect()
    assert 0 < wand.topk_scores_many.last_stats["blocks"].stats()["blocks_decoded"]
    names = [n.nodeName() for n in _executed_nodes(df)]
    counts = {p: names.count(p) for p in PYTHON_NODES}
    assert counts == {"MapInArrow": 0, "FlatMapGroupsInArrow": 0,
                      "ArrowEvalPython": 0, "BatchEvalPython": 0}, names
    # the postings' inline, plus the batch's route explode
    assert names.count("Generate") == (1 if len(qset) == 1 else 2), names
    assert not [n for n in names if "ExistingRDD" in n], names


def _scan_under(node):
    """The first node at or below ``node`` that scans a file source."""
    while not node.nodeName().startswith("Scan"):
        node = node.children().apply(0)
    return node


def test_executor_search_decodes_each_side_once(spark, index_dir, monkeypatch):
    """The executor ``search_segments`` reads each keyword or exclusion
    side from its own pruned scan, as a JVM ``explode(doc_ids)``: the
    candidate collect holds no Python node and one Generate per side,
    each over a scan that pushes down only its side's term ids. The
    winners' positions collect holds at most one Python node."""
    from search_engine_spark.functions.tokenizer import tokenize_query

    di = load_index(spark, index_dir)
    sides = [sorted({t for t, _ in tokenize_query(w)}) for w in ("table", "spark", "scan")]
    frame = type(di.segments)
    collect = frame.collect
    collected = []

    def spy(df):
        collected.append(df)
        return collect(df)

    monkeypatch.setattr(frame, "collect", spy)
    rows = wand.search_segments(di, "table spark -scan", max_driver_postings=0).collect()
    assert rows
    plans = [_executed_nodes(df) for df in collected]

    def python_nodes(nodes):
        return [n.nodeName() for n in nodes if n.nodeName() in PYTHON_NODES]

    # the candidate plan: the one collect with a Generate per side
    (plan,) = [
        nodes for nodes in plans
        if len([n for n in nodes if n.nodeName() == "Generate"]) == 3
    ]
    assert python_nodes(plan) == []
    pushed = []
    for node in plan:
        if node.nodeName() != "Generate":
            continue
        m = re.search(r"In\(term_id, \[([^\]]*)\]\)", _scan_under(node).toString())
        pushed.append(sorted(int(t) for t in m.group(1).split(",")))
    assert sorted(pushed) == sorted(sides), (pushed, sides)
    # the winners' positions: the one Python stage of executor search
    (positions,) = [nodes for nodes in plans if python_nodes(nodes)]
    assert python_nodes(positions) == ["MapInArrow"]


def test_site_valve_never_collects_site_rows(spark, index_dir):
    """Verdict r4 #4: a site: query whose site doc count exceeds the
    valve must route distributed — the driver never materializes the
    site's O(site) doc-id set (site_cache stays empty; only the cached
    COUNT crosses) — and stays row-identical to the driver route."""
    di_driver = load_index(spark, index_dir)
    exp = wand.search_segments(di_driver, "spark site:src3").collect()
    assert len(exp) > 0
    assert di_driver.site_cache.get("src3") is not None  # driver path used

    di = load_index(spark, index_dir)
    got = wand.search_segments(di, "spark site:src3",
                               max_driver_site_docs=0).collect()
    assert di.site_cache.get("src3") is None, (
        "valved site query must not collect the site's doc-id set"
    )
    assert di.site_count_cache.get("src3") is not None  # one cached long
    assert len(di.segment_cache._d) == 0  # fully distributed route
    assert [(r["doc_id"], r["rank"]) for r in got] == [
        (r["doc_id"], r["rank"]) for r in exp
    ]
    for g, e in zip(got, exp):
        assert abs(g["score"] - e["score"]) < 1e-9

    # under the valve (count <= bound) the driver path still runs and
    # caches the allowed set, skipping repeat count jobs via the LRU
    di2 = load_index(spark, index_dir)
    got2 = wand.search_segments(di2, "spark site:src3",
                                max_driver_site_docs=10**9).collect()
    assert di2.site_cache.get("src3") is not None
    assert [(r["doc_id"], r["rank"]) for r in got2] == [
        (r["doc_id"], r["rank"]) for r in exp
    ]


def test_prime_drops_the_df_job_from_cold_queries(spark, index_dir):
    """Verdict r4 #7: DiskIndex.prime() prefetches all (term_id, df)
    pairs in one metadata job, so a cold query's critical path is the
    blob fetch alone — strictly fewer jobs than the unprimed cold query,
    same rows."""
    sc = spark.sparkContext
    di = load_index(spark, index_dir)
    sc.setJobGroup("cold", "unprimed cold query")
    exp = wand.search_segments(di, "table spark").collect()
    cold_jobs = len(sc.statusTracker().getJobIdsForGroup("cold"))

    di2 = load_index(spark, index_dir)
    n = di2.prime()
    assert n > 0
    sc.setJobGroup("primed", "primed cold query")
    got = wand.search_segments(di2, "table spark").collect()
    primed_jobs = len(sc.statusTracker().getJobIdsForGroup("primed"))
    sc.setJobGroup(None, None)
    assert primed_jobs < cold_jobs, (primed_jobs, cold_jobs)
    assert [(r["doc_id"], r["rank"]) for r in got] == [
        (r["doc_id"], r["rank"]) for r in exp
    ]
    # prime(term_ids) routes through the bucket-pruned scan (the 100-TB
    # shape) and fills the same cache
    di3 = load_index(spark, index_dir)
    from search_engine_spark.functions.tokenizer import tokenize_query
    tids = sorted({t for t, _ in tokenize_query("table")})
    di3.prime(tids)
    assert all(t in di3.df_cache for t in tids)


_GROUPS = itertools.count()


def _cold_jobs(spark, di, fn) -> int:
    """Spark jobs one call launches on cleared caches."""
    sc = spark.sparkContext
    di.clear_caches()
    group = f"cold-jobs-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))




def test_executor_topk_job_counts(spark, hot_rare_index):
    """Cold-call job budgets: the df lookup and the prune metadata are ONE
    shuffle-free metadata job, and the theta probe runs only when the
    metadata cannot rule it out. A one-query batch is the executor route's
    own plan, so it gets the same budget; a batch of four adds only the
    qid exchange. A second cold call after ``clear_caches()`` launches
    exactly as many jobs as the first."""
    di = load_index(spark, hot_rare_index)
    # the probe runs (and prunes) for 'common needle', not for VOID_QUERY
    assert math.isfinite(_one_query_stats(di, "common needle")["theta"])
    assert _one_query_stats(di, VOID_QUERY)["theta"] == -math.inf

    def exec_topk(q):
        return lambda: wand.topk_bm25_wand(di, q, 10, max_driver_postings=0)

    def batch_topk(q):
        return lambda: wand.topk_scores_many(di, [("q", q)], 10).collect()

    def batch_four():
        return wand.topk_scores_many(di, BATCH_OF_FOUR, 10).collect()

    cases = [
        ("search", lambda: wand.search_segments(di, "common needle").collect(), 2),
        ("exec probe", exec_topk("common needle"), 6),
        ("exec void", exec_topk(VOID_QUERY), 4),
        ("batch probe", batch_topk("common needle"), 6),
        ("batch void", batch_topk(VOID_QUERY), 4),
        ("batch of four", batch_four, 8),
    ]
    for name, fn, bound in cases:
        first, second = _cold_jobs(spark, di, fn), _cold_jobs(spark, di, fn)
        assert first == second, (name, first, second)
        assert first <= bound, (name, first, bound)


@pytest.fixture(scope="module")
def stream_index(tmp_path_factory, spark, sf_dir):
    """The testdata corpus ingested as three streaming generations, so a
    term's metadata folds several segment rows."""
    root = tmp_path_factory.mktemp("stream_void")
    arrivals = str(root / "arrivals")
    build_documents_from_testdata(spark, sf_dir).repartition(3).write.parquet(arrivals)
    path = str(root / "idx")
    start_incremental_index(
        stream_documents(spark, arrivals), path, n_buckets=8, n_salts=2
    ).awaitTermination(300)
    return path


SF_QUERIES = [
    "table spark", "customer query", "join window", "vector merge",
    "slow batch", "hash filter", "order key", "stream group",
]
HOT_RARE_QUERIES = [
    VOID_QUERY, "x1 x2", "common x5", "x3 x12", "common x2 x3", "x4 x11",
    "common needle", "common w3",
]


def test_void_probe_check_is_sound(spark, monkeypatch, index_dir, hot_rare_index,
                                   stream_index):
    """Wherever ``_plan_probe`` rules the theta probe out, running the
    probe anyway yields a theta at which the executor route's decode
    keeps every block — on a batch, the hot/rare and a multi-generation
    streaming index, for both scorers on the hot/rare one."""
    verdicts = []
    plan_probe = wand._plan_probe

    def probe_always(tids, k, meta, *rest):
        big_rest, probe = plan_probe(tids, k, meta, *rest)
        verdicts.append(probe is None)
        return big_rest, min(tids, key=lambda t: meta[t].df)

    monkeypatch.setattr(wand, "_plan_probe", probe_always)
    voids = {}
    for name, path, queries, scorers in (
        ("batch", index_dir, SF_QUERIES, ["bm25"]),
        ("stream", stream_index, SF_QUERIES, ["bm25"]),
        ("hot_rare", hot_rare_index, HOT_RARE_QUERIES, ["bm25", "tfidf"]),
    ):
        di = load_index(spark, path)
        for scorer in scorers:
            for q in queries:
                verdicts.clear()
                st = _one_query_stats(di, q, scorer)
                if verdicts != [True]:
                    continue
                voids[name] = voids.get(name, 0) + 1
                assert st["blocks_decoded"] == st["blocks_total"] > 0, (name, q, st)
    assert sum(voids.values()) >= 20 and len(voids) == 3, voids


# --------------------------------------------------------------------------
# Plan literals as SQL text (functions/sqltext.py)
# --------------------------------------------------------------------------


def test_sql_double_literals_round_trip_bit_identical(spark):
    """A double rendered as SQL text comes back from a one-row select with
    the same bits: the idf map carries exact idfs."""
    values = [0.1, 1 / 3, 5e-324, 2.220446049250313e-16, 1.7976931348623157e308,
              -0.0, wand._bm25_idf(2000, 15)]
    row = spark.range(1).select(
        *[F.expr(sql_literal(v, "double")).alias(f"v{i}") for i, v in enumerate(values)]
    ).head()
    assert [struct.pack("<d", row[f"v{i}"]) for i in range(len(values))] == [
        struct.pack("<d", v) for v in values
    ]


def test_sql_literal_takes_only_numbers():
    """Only numbers the engine computed render: strings that are not
    numbers, non-finite doubles and out-of-range ints raise."""
    assert sql_list([3, 1], "bigint") == "3L, 1L"
    assert sql_literal([1, 2], "array<int>") == "array(1, 2)"
    assert sql_map({2: [1], 1: [0, 1]}, "bigint", "array<int>") == (
        "map(1L, array(0, 1), 2L, array(1))"
    )
    for value, sql_type in [("1) OR (1", "int"), ("x", "double"), (math.inf, "double"),
                            (math.nan, "double"), (2**31, "int"), (2**63, "bigint"),
                            (1, "string")]:
        with pytest.raises(ValueError):
            sql_literal(value, sql_type)


def test_fetch_pushes_typed_in_filters(spark, index_dir):
    """The segment scan of several terms in several buckets pushes
    ``In(bucket, …)`` and ``In(term_id, …)`` down, and no cast appears
    anywhere in its plan: the SQL-text literals are typed for their
    columns."""
    di = load_index(spark, index_dir)
    tids = sorted({t for q in ("table spark", "customer query") for t, _ in tokenize_query(q)})
    assert len({bucket_of_term(t, di.meta.n_buckets) for t in tids}) > 1
    plan = wand._term_rows(di, tids).select("term_id", "df", "blob")._jdf \
        .queryExecution().executedPlan().toString()
    pushed = plan[plan.index("PushedFilters:"):plan.index("ReadSchema:")]
    assert "In(bucket, [" in pushed and "In(term_id, [" in pushed, plan
    assert "cast" not in plan.lower(), plan


@pytest.mark.parametrize("scorer", ["bm25", "tfidf"])
def test_topk_many_unusual_qids(spark, index_dir, scorer):
    """qids are user strings: quotes, backslashes, non-ASCII (an emoji
    outside the BMP too), the empty string and a 1,000-character qid come
    back unchanged from a batch, each with the rows of its one-query run."""
    queries = ["table", "table spark", "customer query", "dup", "spark"]
    qids = ["q'1", "a\\b", "ü😀", "", "x" * 999 + '"']
    di = load_index(spark, index_dir)
    got = {}
    for r in wand.topk_scores_many(di, list(zip(qids, queries)), 10, scorer).collect():
        got.setdefault(r["qid"], []).append((r["rank"], r["doc_id"], r["score"]))
    assert set(got) == set(qids)
    for qid, q in zip(qids, queries):
        one = wand.topk_scores_many(di, [(qid, q)], 10, scorer).collect()
        assert {r["qid"] for r in one} == {qid}
        assert sorted(got[qid]) == sorted((r["rank"], r["doc_id"], r["score"]) for r in one)


def _plan_round_trips(monkeypatch, di, build) -> int:
    """Py4J commands this thread sends while ``build`` builds a plan on
    cleared caches (its metadata and probe jobs included, the returned
    plan not collected). py4j's finalizer thread, which releases freed
    proxies whenever Python collects them, is not counted."""
    import py4j.clientserver as cs

    sent = [0]
    send = cs.ClientServerConnection.send_command
    builder = threading.get_ident()

    def counted(self, command):
        sent[0] += threading.get_ident() == builder
        return send(self, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
    di.clear_caches()
    build()
    monkeypatch.undo()
    return sent[0]


def test_plan_round_trips_do_not_grow_with_work(spark, monkeypatch, hot_rare_index):
    """Building an executor top-k plan costs a fixed number of Py4J round
    trips: its term filters, idf map and query routes are each one SQL
    expression. Four times the terms adds at most 10, eight times the
    queries at most 40."""
    di = load_index(spark, hot_rare_index)

    def exec_plan(q):
        return lambda: wand.topk_scores_many(di, [("q", q)], 10)

    def batch_plan(n):
        qs = [("q0", "common needle")] + [
            (f"q{i}", f"w{i} x{i % 13} w{i + 40}") for i in range(1, n)
        ]
        return lambda: wand.topk_scores_many(di, qs, 10)

    two, eight = "w3 x5", "w1 w2 w3 w4 w5 w6 w7 w8"
    for q, n_terms in ((two, 2), (eight, 8)):
        assert len({t for t, _ in tokenize_query(q)}) == n_terms
        # both probe, so both plans run the same jobs
        assert math.isfinite(_one_query_stats(di, q)["theta"]), q
    assert _plan_round_trips(monkeypatch, di, exec_plan(eight)) <= (
        _plan_round_trips(monkeypatch, di, exec_plan(two)) + 10
    )
    assert _plan_round_trips(monkeypatch, di, batch_plan(32)) <= (
        _plan_round_trips(monkeypatch, di, batch_plan(4)) + 40
    )
