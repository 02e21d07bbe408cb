"""Segment index tests: build + salted merge equivalence, disk
round-trip, manifest resume and torn-manifest recovery, WAND
equivalence, rank-identity of the blob path vs the pure-Python
reference (``oracle.reference.OracleIndex``)."""

import itertools
import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from search_engine_spark.functions.tokenizer import id_to_term
from search_engine_spark.operators import wand
from search_engine_spark.operators.postings import (
    build_documents_from_testdata,
    build_postings_packed,
)
from search_engine_spark.operators.segments import (
    _read_doc_stats,
    _write_doc_store,
    build_segments,
    load_index,
    may_salt,
    merge_salted,
    merge_term_rows,
    read_manifest,
    write_index,
)
from tests.exhaustive import topk_bm25_exhaustive, topk_exhaustive
from tests.test_search_e2e import assert_rank_identical, oracle_of

QUERIES = ["table", "spark", "table spark", "table -dup", "dup", "spark site:src3"]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = build_documents_from_testdata(spark, sf_dir).cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def oracle(docs):
    return oracle_of(docs)


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, docs):
    path = str(tmp_path_factory.mktemp("index"))
    write_index(docs, path, n_buckets=16, n_shards=2, n_salts=4, salt_threshold=50)
    return path


def _oracle_df_ctf(oracle) -> dict[str, tuple[int, int]]:
    return {
        t: (len(pl), sum(len(p.positions) for p in pl.values()))
        for t, pl in oracle.postings.items()
    }


def test_segments_match_postings(spark, docs, oracle):
    """Merged segment blobs decode back to exactly the reference postings."""
    from search_engine_spark.functions import codec

    seg = merge_salted(
        build_segments(
            build_postings_packed(docs),
            n_buckets=8,
            n_salts=4,
            salt_threshold=50,
            n_docs=docs.count(),
        )
    )
    rows = {id_to_term(r["term_id"]): r for r in seg.collect()}
    exp = _oracle_df_ctf(oracle)
    assert len(rows) == len(exp)
    for term, (df, ctf) in exp.items():
        assert (rows[term]["df"], rows[term]["ctf"]) == (df, ctf), term
    # full decode of the hottest (salted, then merged) term and a rare one
    hot = max(exp, key=lambda t: exp[t][0])
    rare = min(exp, key=lambda t: exp[t][0])
    for term in (hot, rare):
        d, te, pc, pos = codec.decode_term_postings(bytes(rows[term]["blob"]))
        plist = [oracle.postings[term][k] for k in sorted(oracle.postings[term])]
        assert d.tolist() == [p.doc_id for p in plist]
        assert te.tolist() == [p.title_end for p in plist]
        assert pc.tolist() == [len(p.positions) for p in plist]
        assert pos.tolist() == [x for p in plist for x in p.positions]


def test_disk_roundtrip_and_lexicon(spark, index_dir, docs, oracle):
    di = load_index(spark, index_dir)
    assert di.meta.n_docs == docs.count()
    lex = {r["term"]: (r["df"], r["ctf"]) for r in di.lexicon.collect()}
    assert lex == _oracle_df_ctf(oracle)


def _rounded_order(rows):
    """Deterministic ranking used by the driver gate: 6dp-rounded score
    desc, doc_id asc (exact-tie groups are score-identical by
    construction; sub-ULP float-sum-order noise must not flip them)."""
    return sorted(((r["doc_id"], round(r["score"], 6)) for r in rows), key=lambda x: (-x[1], x[0]))


@pytest.mark.parametrize("query", QUERIES)
def test_blob_search_rank_identical(spark, index_dir, oracle, query):
    """search_segments (compressed blob path) == the reference searcher."""
    di = load_index(spark, index_dir)
    got = [(r.doc_id, r.score) for r in wand.search_segments(di, query).collect()]
    assert_rank_identical(got, oracle.search(query))


def test_wand_equals_exhaustive(spark, index_dir):
    di = load_index(spark, index_dir)
    for q, k in [("table", 10), ("spark", 25), ("dup", 5), ("customer query", 10)]:
        exact = topk_exhaustive(di, q, k)
        pruned = wand.topk_wand(di, q, k)
        assert [d for d, _ in exact] == [d for d, _ in pruned], q
        for (d1, s1), (d2, s2) in zip(exact, pruned):
            assert abs(s1 - s2) < 1e-9


def test_wand_prunes_blocks(spark, index_dir):
    di = load_index(spark, index_dir)
    wand.topk_wand(di, "table", 5)
    st = wand.topk_wand.last_stats
    assert st["blocks_total"] > 0
    assert st["blocks_decoded"] <= st["blocks_total"]


def test_resume_skips_completed_shards(spark, docs, oracle, tmp_path):
    path = str(tmp_path / "idx")
    write_index(docs, path, n_buckets=8, n_shards=2, n_salts=2, salt_threshold=50)
    m1 = read_manifest(path)
    assert set(m1) == {0, 1} and all(v["status"] == "complete" for v in m1.values())
    # simulate a crash after shard 0: drop shard 1's manifest row + files
    rows = [v for k, v in m1.items() if k == 0]
    with open(os.path.join(path, "manifest.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    shutil.rmtree(os.path.join(path, "segments", "shard=1"))
    before = os.path.getmtime(
        os.path.join(path, "segments", "shard=0", "_SUCCESS")
    )
    write_index(docs, path, n_buckets=8, n_shards=2, n_salts=2, salt_threshold=50)
    after = os.path.getmtime(os.path.join(path, "segments", "shard=0", "_SUCCESS"))
    assert before == after, "completed shard 0 must not be rebuilt"
    m2 = read_manifest(path)
    assert set(m2) == {0, 1}
    # and the resumed index still answers queries identically
    di = load_index(spark, path)
    got = [(r.doc_id, r.score) for r in wand.search_segments(di, "table").collect()]
    assert_rank_identical(got, oracle.search("table"))


def test_torn_manifest_line_rebuilds_only_that_shard(spark, docs, oracle, tmp_path):
    """A build killed mid-append leaves a torn last manifest line: resume
    treats that shard as not written, rebuilds only it, and the result
    matches the reference; later appends leave no malformed line."""
    from search_engine_spark.operators.segments import manifest_rows

    path = str(tmp_path / "idx")
    kw = dict(n_buckets=8, n_shards=3, n_salts=2, salt_threshold=50)
    write_index(docs, path, **kw)
    man = os.path.join(path, "manifest.jsonl")
    with open(man) as f:
        lines = f.readlines()
    assert len(lines) == 3
    torn_shard = json.loads(lines[-1])["shard"]
    with open(man, "w") as f:
        f.writelines(lines[:-1])
        f.write(lines[-1][: len(lines[-1]) // 2])  # cut mid-JSON, no newline
    assert set(read_manifest(path)) == {0, 1, 2} - {torn_shard}

    def success_mtime(shard: int) -> float:
        return os.path.getmtime(os.path.join(path, "segments", f"shard={shard}", "_SUCCESS"))

    before = {s: success_mtime(s) for s in range(3)}
    write_index(docs, path, **kw)
    for s in range(3):
        if s == torn_shard:
            assert success_mtime(s) != before[s], "torn shard must be rebuilt"
        else:
            assert success_mtime(s) == before[s], f"shard {s} must not be rebuilt"
    rows = manifest_rows(path)  # parses every line: the torn tail is gone
    assert [r["shard"] for r in rows] == [json.loads(x)["shard"] for x in lines]
    di = load_index(spark, path)
    for q in ["table", "table spark"]:
        got = [(r.doc_id, r.score) for r in wand.search_segments(di, q).collect()]
        assert_rank_identical(got, oracle.search(q))


def test_manifest_malformed_middle_line_raises(tmp_path):
    """Only the FINAL line may be torn; damage anywhere else is corruption."""
    path = str(tmp_path)
    with open(os.path.join(path, "manifest.jsonl"), "w") as f:
        f.write('{"shard": 0, "status": "complete"}\n{"shard": 1, "sta\n')
        f.write('{"shard": 2, "status": "complete"}\n')
    with pytest.raises(ValueError, match="malformed manifest line 2"):
        read_manifest(path)


def test_merge_term_rows_matches_loop_merge():
    """The read-merge of one term's rows gathers positions with one
    vectorized scatter; a per-doc loop over the same decoded parts, then
    ``codec.encode_bucket``, is the reference, byte for byte."""
    from search_engine_spark.functions import codec

    rng = np.random.default_rng(7)
    for _ in range(50):
        docs = rng.choice(5000, size=int(rng.integers(1, 400)), replace=False)
        blobs = []
        for part in np.array_split(rng.permutation(docs), int(rng.integers(1, 5))):
            if not part.size:
                continue
            d = np.sort(part).astype(np.int64)
            npos = rng.integers(1, 5, size=d.size)
            pos = [np.sort(rng.choice(300, size=n, replace=False)) for n in npos]
            te = np.array([rng.integers(0, n + 1) for n in npos], np.int64)
            blobs.append(bytes(codec.encode_term_postings(d, te, pos)[0]))
        parts = [codec.decode_term_postings(b) for b in blobs]
        d, te, npos = (np.concatenate([p[i] for p in parts]) for i in range(3))
        flat = np.concatenate([p[3] for p in parts])
        starts = np.concatenate([[0], np.cumsum(npos)[:-1]])
        order = np.argsort(d, kind="mergesort")
        gather = np.concatenate([flat[starts[i] : starts[i] + npos[i]] for i in order])
        exp = codec.encode_bucket(
            np.full(d.size, 9, np.int64), d[order], te[order], npos[order], gather
        )
        got = merge_term_rows(9, blobs)
        assert bytes(got.blobs[0]) == bytes(exp.blobs[0])
        for field in ("dfs", "ctfs", "block_last", "block_max_tf", "block_offsets"):
            assert np.array_equal(getattr(got, field)[0], getattr(exp, field)[0]), field


def test_fingerprint_invalidates_on_input_change(spark, docs, tmp_path):
    """The fingerprint observed on a doc-store commit changes with the
    input, and the resume aggregate over the written store reads back the
    same stats."""
    a = _write_doc_store(docs, str(tmp_path / "a"))
    b = _write_doc_store(docs.limit(100), str(tmp_path / "b"))
    assert a.fingerprint != b.fingerprint
    assert (a.n_docs, b.n_docs) == (docs.count(), 100)
    assert _read_doc_stats(spark.read.parquet(str(tmp_path / "a"))) == a


@pytest.mark.parametrize("query", QUERIES)
def test_distributed_path_rank_identical(spark, index_dir, query):
    """Executor-side hot-term path == driver path for every query shape
    (AND / NOT / site / single), forced via max_driver_postings=0."""
    di = load_index(spark, index_dir)
    ra = wand.search_segments(di, query).collect()
    di2 = load_index(spark, index_dir)  # fresh handle: cold caches
    rb = wand.search_segments(di2, query, max_driver_postings=0).collect()
    assert _rounded_order(ra) == _rounded_order(rb)
    sa = {r["doc_id"]: r["score"] for r in ra}
    sb = {r["doc_id"]: r["score"] for r in rb}
    for d in sa:
        assert abs(sa[d] - sb[d]) < 1e-9


def test_distributed_path_bounds_driver_collects(spark, index_dir, monkeypatch):
    """The distributed path must never collect whole term blobs to the
    driver — fetch_term_segments is off-limits, and only the ≤50-winner
    rows (candidates + their positions) may come back."""
    di = load_index(spark, index_dir)

    def boom(*a, **k):  # any blob fetch = driver-memory O(df) = fail
        raise AssertionError("distributed path collected term blobs")

    monkeypatch.setattr(wand, "fetch_term_segments", boom)
    rows = wand.search_segments(di, "table spark", max_driver_postings=0).collect()
    assert 0 < len(rows) <= wand.PER_SHARD_LIMIT


def test_bm25_wand_equals_exhaustive(spark, index_dir):
    di = load_index(spark, index_dir)
    for q, k in [("table", 10), ("spark", 25), ("dup", 5), ("customer query", 10)]:
        a = wand.topk_bm25_wand(di, q, k)
        b = topk_bm25_exhaustive(di, q, k)
        assert [(d, round(s, 9)) for d, s in a] == [(d, round(s, 9)) for d, s in b]


def test_bm25_wand_prunes_blocks(spark, index_dir):
    di = load_index(spark, index_dir)
    wand.topk_bm25_wand(di, "table spark", 5)
    st = wand.topk_bm25_wand.last_stats
    assert st["blocks_total"] > 0 and st["blocks_decoded"] <= st["blocks_total"]


def test_bm25_length_normalization_direction(spark, index_dir, docs):
    """Same tf, longer doc => lower BM25 contribution (sanity on dl/avgdl
    plumbing: the norm must actually vary per doc)."""
    di = load_index(spark, index_dir)
    ids, dl = di.doc_lengths()
    assert ids.size == di.meta.n_docs
    assert dl.min() >= 0 and dl.max() > dl.min()  # lengths vary
    assert abs(di.meta.avgdl - dl.mean()) < 1e-9


def test_merge_hot_build_rank_identical(spark, docs, tmp_path):
    """merge_hot=True (build-time compaction of salted sub-segments) must
    produce identical search results to the read-merge default, with at
    most one segment row per (term, shard)."""
    d = str(tmp_path / "fused")
    write_index(docs, d, n_buckets=8, n_shards=1, n_salts=4, salt_threshold=50,
                merge_hot=True)
    di = load_index(spark, d)
    from pyspark.sql import functions as F
    multi = (
        di.segments.groupBy("term_id").count().filter(F.col("count") > 1).count()
    )
    assert multi == 0
    d2 = str(tmp_path / "plain")
    write_index(docs, d2, n_buckets=8, n_shards=1, n_salts=4, salt_threshold=50)
    di2 = load_index(spark, d2)
    for q in ["table", "table spark", "dup", "table -dup"]:
        a = _rounded_order(wand.search_segments(di, q).collect())
        b = _rounded_order(wand.search_segments(di2, q).collect())
        assert a == b


def test_index_stats_gauges(spark, docs, index_dir):
    """A7 monitor stats: every gauge served off metadata must agree with
    a direct recount over the index's own tables, blob_bytes must match
    the manifest, and avgdl must equal total_dl / n_docs."""
    from search_engine_spark.operators.segments import index_stats

    di = load_index(spark, index_dir)
    row = index_stats(di).collect()[0]

    assert row.n_docs == docs.count()
    lex = di.lexicon.agg(
        F.count("*").alias("nt"),
        F.sum("df").alias("sdf"),
        F.sum("ctf").alias("sctf"),
        F.max("df").alias("mdf"),
    ).collect()[0]
    assert row.n_terms == lex["nt"]
    assert row.n_postings == lex["sdf"]
    assert row.total_ctf == lex["sctf"]
    assert row.max_df == lex["mdf"]
    man = read_manifest(index_dir)
    # lexicon df fold == per-shard n_postings observed on each write (a
    # doc lives in exactly one salt, so both count distinct (doc, term)
    # pairs)
    assert row.n_postings == sum(m["n_postings"] for m in man.values())
    assert row.shards_complete == len(man)
    assert row.blob_bytes == sum(m["blob_bytes"] for m in man.values()) > 0
    assert row.avgdl == pytest.approx(row.total_dl / row.n_docs)
    # empty title in the testdata shape => the two independent paths
    # (lexicon ctf vs doc-store dl sidecar) count the same emissions
    assert row.total_dl == row.total_ctf


def test_index_stats_without_manifest_stats(spark, docs, tmp_path):
    """A streaming index has generation rows and no shard rows in its
    manifest: index_stats reads n_postings off the lexicon fold like any
    index and reports blob_bytes=0 rather than failing."""
    from search_engine_spark.operators.segments import index_stats
    from search_engine_spark.streaming.ingest import ingest_batch

    d = str(tmp_path / "nostats")
    ingest_batch(docs.filter(F.col("doc_id") % 2 == 0), 0, d, n_buckets=8, n_salts=2)
    ingest_batch(docs.filter(F.col("doc_id") % 2 == 1), 1, d, n_buckets=8, n_salts=2)
    assert not read_manifest(d)
    di = load_index(spark, d)
    row = index_stats(di).collect()[0]
    sdf = int(di.lexicon.agg(F.sum("df").alias("s")).collect()[0]["s"])
    assert row.n_postings == sdf
    assert row.blob_bytes == 0
    assert row.n_docs == docs.count()


def test_lru_cache_thread_safe():
    """Concurrent queries on one DiskIndex share its LRUs: hits racing
    evictions from other threads must never raise (Spark-free)."""
    import sys
    import threading

    from search_engine_spark.operators.segments import LruCache

    cache = LruCache(maxsize=8)
    errors: list[Exception] = []

    def hammer(seed: int) -> None:
        try:
            for i in range(10000):  # 9 keys over 8 slots: every put evicts
                k = (seed * 7 + i) % 9
                cache.put(k, i)
                cache.get((k + 3) % 9)
                (k + 5) % 9 in cache
        except Exception as e:  # noqa: BLE001 - a thread's error is reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=hammer, args=(s,)) for s in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(cache._d) == 8


def test_write_index_tokenizes_once(spark, docs, tmp_path, monkeypatch):
    """Every build reads each document into the tokenizer once for the
    encode of all its shards, whatever the shard count: exactly once when
    the threshold alone decides the hot set (0 and the default), and once
    more for the df count at threshold 50; a resumed build too. Each
    extra shard adds only its layout exchange and its write job (plus one
    cache fill once shards share the encode), never a tokenize pass."""
    from search_engine_spark.functions import tokenizer

    sc = spark.sparkContext
    n_docs = docs.count()
    rows = sc.accumulator(0)
    inner = tokenizer.postings_batches_arrow_packed

    def counting(batches, **kw):
        def tally(it):
            for b in it:
                rows.add(b.num_rows)
                yield b

        return inner(tally(batches), **kw)

    monkeypatch.setattr(tokenizer, "postings_batches_arrow_packed", counting)

    seq = itertools.count()

    def build(path: str, **kw) -> tuple[float, int]:
        rows.value = 0
        group = f"tokenize-once-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            write_index(docs, path, n_buckets=8, n_salts=2, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return rows.value / n_docs, len(sc.statusTracker().getJobIdsForGroup(group))

    for threshold, expected in ((0, 1), (50, 2), (250_000, 1)):
        jobs = {}
        for n_shards in (1, 2, 4):
            path = str(tmp_path / f"t{threshold}_s{n_shards}")
            passes, jobs[n_shards] = build(path, n_shards=n_shards, salt_threshold=threshold)
            assert passes == expected, (threshold, n_shards, passes)
        for n_shards in (2, 4):
            assert jobs[n_shards] - jobs[1] <= 2 * (n_shards - 1) + 1, (threshold, jobs)

    # resume: drop shard 1 of a 2-shard build; the rebuild is one pass too
    path = str(tmp_path / "t0_s2")
    keep = [r for s, r in read_manifest(path).items() if s == 0]
    with open(os.path.join(path, "manifest.jsonl"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in keep)
    shutil.rmtree(os.path.join(path, "segments", "shard=1"))
    passes, _ = build(path, n_shards=2, salt_threshold=0)
    assert passes == 1
    assert set(read_manifest(path)) == {0, 1}


def test_write_index_restores_job_description(spark, docs, tmp_path):
    """``write_index`` labels its jobs by phase and hands the caller's own
    job description back when it returns, so the caller's later jobs are
    not filed under the build's last phase."""
    sc = spark.sparkContext
    sc.setJobDescription("caller label")
    try:
        assert sc.getLocalProperty("spark.job.description") == "caller label"
        write_index(docs, str(tmp_path / "idx"), n_buckets=8, n_shards=1, n_salts=2)
        assert sc.getLocalProperty("spark.job.description") == "caller label"
    finally:
        sc.setJobDescription(None)


def test_write_index_leaves_caller_session_conf(spark, docs, tmp_path):
    """The build's shuffle-partition and coalescing settings live on a
    session of its own: a thread polling the caller's session all through
    a build never sees them, so queries planned there meanwhile keep the
    caller's settings."""
    import threading
    import time

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    caller = tuple(spark.conf.get(k) for k in keys)
    seen: set[tuple] = set()
    stop = threading.Event()

    def poll() -> None:
        while not stop.is_set():
            seen.add(tuple(spark.conf.get(k) for k in keys))
            time.sleep(0.002)

    t = threading.Thread(target=poll)
    t.start()
    try:
        write_index(docs, str(tmp_path / "idx"), n_buckets=16, n_shards=2, n_salts=4)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert seen == {caller}


def test_build_segments_threshold_shortcut_byte_identical(spark, docs):
    """A threshold at or above the doc count salts nothing: given the doc
    count, ``build_segments`` skips the df count (no broadcast of a hot
    set in its plan) and gives rows and blobs byte-identical to the
    counted path, reached here with a looser bound on the doc count."""
    n_docs = docs.count()
    assert not may_salt(n_docs, n_docs) and may_salt(n_docs, n_docs + 1)

    def build(bound: int) -> DataFrame:
        return build_segments(
            build_postings_packed(docs), n_buckets=8, n_salts=4,
            salt_threshold=n_docs, n_docs=bound,
        )

    def rows(df: DataFrame) -> list[tuple]:
        return sorted(
            (r.bucket, r.term_id, r.salt, r.df, r.ctf, r.n_docs, bytes(r.blob),
             tuple(r.block_last), tuple(r.block_max_tf), tuple(r.block_offsets))
            for r in df.collect()
        )

    def plan(df: DataFrame) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    counted, shortcut = build(n_docs + 1), build(n_docs)
    assert "BroadcastExchange" in plan(counted)
    assert "BroadcastExchange" not in plan(shortcut)
    expected = rows(counted)
    assert expected and all(r[2] == 0 for r in expected)
    assert rows(shortcut) == expected
