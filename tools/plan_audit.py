"""Reproduce the PLANS.md physical-plan audit.

Run: python tools/plan_audit.py   (prints formatted plans for the key
operators over the sf0.001 testdata, and for each query route a real run
on cleared caches: its Spark jobs, the Py4J round trips the driver makes
to build and collect it, and the blocks its tf decode reads)."""

from __future__ import annotations

import itertools
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


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
    from search_engine_spark.functions.xxhash import bucket_of_term
    from search_engine_spark.operators import events as E
    from search_engine_spark.operators.postings import build_documents_from_testdata
    from search_engine_spark.operators.segments import load_index, write_index
    from search_engine_spark.operators.wand import search_segments
    from search_engine_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=4)
    sc = spark.sparkContext
    sent = count_round_trips()
    runs = itertools.count(1)

    def real_run(index, build) -> None:
        """Build a plan and collect it on cleared caches, outside any
        explain, and print its jobs, Py4J round trips and blocks."""
        index.clear_caches()
        group = f"plan-audit-{next(runs)}"
        sc.setJobGroup(group, group)
        read, decoded = index.blocks_read.value, index.blocks_decoded.value
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
            f"probe jobs included), {total} with the collect; blocks decoded "
            f"/ read by every tf decode of the run, the theta probe's "
            f"included: {index.blocks_decoded.value - decoded}"
            f" / {index.blocks_read.value - read}"
        )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    docs = build_documents_from_testdata(spark, sf_dir)
    d = tempfile.mkdtemp() + "/idx"
    write_index(docs, d, n_buckets=8, n_shards=2, n_salts=2, salt_threshold=50)
    di = load_index(spark, d)

    def cap(tag: str, df) -> None:
        print(f"\n======== {tag} ========")
        df.explain("formatted")

    tid = term_to_id("ta")
    b = bucket_of_term(tid, 8)
    cap(
        "segment fetch (bucket+term pushdown)",
        di.segments.filter(
            F.col("bucket").isin([b]) & F.col("term_id").isin([tid])
        ).select("term_id", "df", "blob"),
    )
    frame = type(di.segments)  # the session's concrete DataFrame class
    collect = frame.collect

    def explain_collects(label: str, fn):
        """Run ``fn``, printing the plan of every DataFrame it collects."""
        step = iter(range(1, 10))

        def explain_then_collect(df):
            cap(f"{label}, collect {next(step)}", df)
            return collect(df)

        frame.collect = explain_then_collect
        try:
            return fn()
        finally:
            frame.collect = collect

    # the executor route collects its plans inside the call (term metadata
    # scan, candidate decode -> intersect -> TakeOrdered, winners'
    # positions decode): print each one as it is collected
    def executor_search():
        return search_segments(di, "table scan", max_driver_postings=0)

    explain_collects("search_segments executor route", executor_search)
    real_run(di, executor_search)
    cap(
        "events hourly agg",
        E.hourly_event_stats(spark.read.parquet(f"{sf_dir}/events.parquet")),
    )

    from search_engine_spark.operators import dedup as D
    from search_engine_spark.operators import wand

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
        cap(f"{label}, scoring plan", explain_collects(label, topk))
        real_run(index, topk)
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


if __name__ == "__main__":
    main()
