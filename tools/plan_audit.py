"""Reproduce the PLANS.md physical-plan audit.

Run: python tools/plan_audit.py   (prints formatted plans for the key
operators over the sf0.001 testdata, with the Python-evaluating nodes of
every plan a query route collects, and for each query route a real run
on cleared caches: its Spark jobs, the Py4J round trips the driver makes
to build and collect it, and the blocks its scoring plan keeps). Exits
non-zero if any collect of a query route other than the executor
search's winners' positions has a Python node."""

from __future__ import annotations

import itertools
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PYTHON_NODES = ("MapInArrow", "FlatMapGroupsInArrow", "ArrowEvalPython", "BatchEvalPython")


def python_nodes(df) -> list[str]:
    """Python-evaluating nodes of ``df``'s executed plan, query stages
    opened (the final adaptive plan once ``df`` has run)."""
    found, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        elif name == "ReusedExchange":
            todo.append(node.child())
        else:
            found += [name] if name in PYTHON_NODES else []
            children = node.children()
            todo.extend(children.apply(i) for i in range(children.size()))
    return found


def count_round_trips() -> list[int]:
    """Count the Py4J commands this thread sends from now on, in the
    returned one-element list. py4j's finalizer thread, which releases
    freed proxies whenever Python collects them, is not counted."""
    import threading

    import py4j.clientserver as cs

    sent = [0]
    send = cs.ClientServerConnection.send_command
    caller = threading.get_ident()

    def counted(self, command):
        sent[0] += threading.get_ident() == caller
        return send(self, command)

    cs.ClientServerConnection.send_command = counted
    return sent


def main() -> None:
    from pyspark.sql import functions as F

    from search_engine_spark.functions.tokenizer import term_to_id
    from search_engine_spark.operators import events as E
    from search_engine_spark.operators import wand
    from search_engine_spark.operators.postings import build_documents_from_testdata
    from search_engine_spark.operators.segments import load_index, write_index
    from search_engine_spark.operators.wand import search_segments
    from search_engine_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    sc = spark.sparkContext
    sent = count_round_trips()
    runs = itertools.count(1)

    def real_run(index, build, blocks=None) -> None:
        """Build a plan and collect it on cleared caches, outside any
        explain, and print its jobs, Py4J round trips and, for a top-k,
        the blocks its scoring plan keeps (``blocks()``)."""
        index.clear_caches()
        group = f"plan-audit-{next(runs)}"
        sc.setJobGroup(group, group)
        start = sent[0]
        try:
            df = build()
            built = sent[0] - start
            df.collect()
            total = sent[0] - start
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        print(
            f"\nreal run on cleared caches: "
            f"{len(sc.statusTracker().getJobIdsForGroup(group))} jobs; "
            f"Py4J round trips: {built} building the plan (its metadata and "
            f"probe jobs included), {total} with the collect"
            + (f"; blocks kept / read by the scoring plan: {st['blocks_decoded']}"
               f" / {st['blocks_total']}" if blocks and (st := blocks()) else "")
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    docs = build_documents_from_testdata(spark, sf_dir)
    d = tempfile.mkdtemp() + "/idx"
    write_index(docs, d, n_buckets=8, n_shards=2, n_salts=2, salt_threshold=50)
    di = load_index(spark, d)

    def cap(tag: str, df) -> None:
        print(f"\n======== {tag} ========")
        df.explain("formatted")

    cap(
        "segment fetch (bucket+term pushdown)",
        wand._term_rows(di, [term_to_id("ta")]).select(*wand._SEGMENT_COLUMNS),
    )
    frame = type(di.segments)  # the session's concrete DataFrame class
    collect = frame.collect
    violations = []

    def explain_collects(label: str, fn, python_ok: int | None = None):
        """Run ``fn``, printing the plan of every DataFrame it collects and
        its Python nodes; a Python node in any collect but the one
        numbered ``python_ok`` is a violation."""
        step = iter(range(1, 10))

        def explain_then_collect(df):
            n = next(step)
            cap(f"{label}, collect {n}", df)
            rows = collect(df)
            found = python_nodes(df)
            print(f"\nPython nodes in collect {n}: {found or 'none'}")
            if found and n != python_ok:
                violations.append(f"{label}, collect {n}: {found}")
            return rows

        frame.collect = explain_then_collect
        try:
            return fn()
        finally:
            frame.collect = collect

    # the executor route collects its plans inside the call (term metadata
    # scan, candidate explode -> intersect -> TakeOrdered, winners'
    # positions decode, the one Python stage): print each one as it is
    # collected
    def executor_search():
        return search_segments(di, "table scan", max_driver_postings=0)

    explain_collects("search_segments executor route", executor_search, python_ok=3)
    real_run(di, executor_search)
    cap(
        "events hourly agg",
        E.hourly_event_stats(spark.read.parquet(f"{sf_dir}/events.parquet")),
    )

    from search_engine_spark.operators import dedup as D

    # the executor score-ordered top-k (PLANS.md "Score-ordered top-k
    # (executor route)"): one plan for one query or many. Print its
    # driver-side collects (the term metadata scan, then the theta probe
    # when it runs) and the scoring plan it returns, for a one-query set
    # and for four queries. "table spark" on this corpus is a void probe;
    # the hot/rare index's "common needle" is one the probe prunes.
    rows = [
        (i + 1, f"https://h{i % 7}/p{i}", "",
         ("needle " if i < 15 else "") + f"common w{i} x{i % 13}")
        for i in range(2000)
    ]
    hot = spark.createDataFrame(
        rows, "doc_id long, url string, title string, body string"
    ).withColumn("content_sha256", F.sha2(F.col("body"), 256))
    hd = tempfile.mkdtemp() + "/hot_rare"
    write_index(hot, hd, n_buckets=8, n_shards=1, n_salts=2, salt_threshold=500)
    hot_rare = load_index(spark, hd)
    four = [("a", "common needle"), ("b", "common w3"), ("c", "common x1"), ("d", "w3")]
    for index, qset in (
        (di, [("q", "table spark")]),
        (hot_rare, [("q", "common needle")]),
        (hot_rare, four),
    ):
        label = f"executor BM25 top-k {[q for _, q in qset]}"

        def topk():
            return wand.topk_scores_many(index, qset, 10, "bm25")

        index.clear_caches()
        explain_collects(label, lambda: topk().collect())
        real_run(index, topk, lambda: wand.topk_scores_many.last_stats["blocks"].stats())
        thetas = wand.topk_scores_many.last_stats["theta"]
        for qid, query in qset:
            theta = thetas.get(qid, float("-inf"))
            print(
                f"\n{query!r}: theta probe "
                + ("skipped: a single term, or the metadata proves it cannot prune"
                   if theta == float("-inf")
                   else f"ran, theta = {theta:.6f}")
            )
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cap("simhash (bit-sliced, 1 Generate)", D.simhash(raw))
    cap("minhash band keys (1 shuffle, no distinct)", D.minhash_band_keys(raw))
    if violations:
        print("\nPython nodes where none may run:\n  " + "\n  ".join(violations))
        sys.exit(1)


if __name__ == "__main__":
    main()
