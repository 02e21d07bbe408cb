"""Streaming ingest: incremental generations == one-shot batch index;
compaction preserves results; windowed event stream matches batch aggs."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from search_engine_spark.operators.postings import build_documents_from_testdata
from search_engine_spark.operators.segments import index_stats, load_index, write_index
from search_engine_spark.operators.wand import search_segments
from search_engine_spark.streaming.ingest import (
    compact_index,
    start_incremental_index,
    stream_documents,
    windowed_event_counts,
)

QUERIES = ["table", "table spark", "dup", "table -dup"]


@pytest.fixture(scope="module")
def tmp_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("streaming"))


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_root):
    docs = build_documents_from_testdata(spark, sf_dir)
    arrivals = os.path.join(tmp_root, "arrivals")
    docs.repartition(3).write.parquet(arrivals)

    stream_dir = os.path.join(tmp_root, "stream_index")
    q = start_incremental_index(
        stream_documents(spark, arrivals), stream_dir, n_buckets=8, n_salts=2
    )
    q.awaitTermination(300)

    batch_dir = os.path.join(tmp_root, "batch_index")
    write_index(docs, batch_dir, n_buckets=8, n_shards=1, n_salts=2)
    return stream_dir, batch_dir


_STATS_COLS = ["n_docs", "n_terms", "n_postings"]


def _stats(spark, index_dir):
    return index_stats(load_index(spark, index_dir)).select(*_STATS_COLS).collect()[0]


def _results(spark, index_dir, query):
    di = load_index(spark, index_dir)
    return [
        (r.doc_id, round(r.score, 9), r.rank)
        for r in search_segments(di, query).collect()
    ]


def test_stream_has_generations(spark, built):
    stream_dir, _ = built
    gens = [d for d in os.listdir(os.path.join(stream_dir, "segments")) if d.startswith("gen=")]
    assert len(gens) == 3  # maxFilesPerTrigger=1 over 3 files


@pytest.mark.parametrize("query", QUERIES)
def test_incremental_equals_batch(spark, built, query):
    stream_dir, batch_dir = built
    assert _results(spark, stream_dir, query) == _results(spark, batch_dir, query)


def test_meta_counts(spark, built, sf_dir):
    stream_dir, _ = built
    di = load_index(spark, stream_dir)
    n = build_documents_from_testdata(spark, sf_dir).count()
    assert di.meta.n_docs == n
    assert di.documents.count() == n


def test_compaction_preserves_results(spark, built):
    stream_dir, batch_dir = built
    compacted = stream_dir + "_compacted"
    if os.path.exists(compacted):
        shutil.rmtree(compacted)
    shutil.copytree(stream_dir, compacted)
    compact_index(spark, compacted)
    seg = load_index(spark, compacted).segments
    # exactly one row per term after compaction
    assert seg.groupBy("term_id").count().filter(F.col("count") > 1).count() == 0
    for query in QUERIES:
        assert _results(spark, compacted, query) == _results(spark, batch_dir, query)
    # the manifest now also holds a compaction record
    assert _stats(spark, compacted) == _stats(spark, batch_dir)


def test_index_stats_streaming_equals_batch(spark, built):
    """index_stats reads the manifest's batch shard rows; a streaming
    index has generation rows instead and must fall back to the lexicon,
    giving the batch index's corpus gauges."""
    stream_dir, batch_dir = built
    assert _stats(spark, stream_dir) == _stats(spark, batch_dir)


def test_replayed_batch_is_idempotent(spark, built, sf_dir):
    """Re-running a generation (at-least-once replay) must not change
    results or double-count docs."""
    from search_engine_spark.streaming.ingest import ingest_batch

    stream_dir, batch_dir = built
    docs = build_documents_from_testdata(spark, sf_dir)
    # replay generation 0 with the same docs subset it originally got is
    # not reconstructible; instead replay the WHOLE corpus as gen 99 twice
    replay_dir = stream_dir + "_replay"
    if os.path.exists(replay_dir):
        shutil.rmtree(replay_dir)
    os.makedirs(replay_dir)
    ingest_batch(docs, 0, replay_dir, n_buckets=8, n_salts=2)
    before = _results(spark, replay_dir, "table")
    ingest_batch(docs, 0, replay_dir, n_buckets=8, n_salts=2)  # replay
    di = load_index(spark, replay_dir)
    assert di.meta.n_docs == docs.count()  # manifest keyed by gen: no double count
    # doc store is generation-keyed too: the replay overwrites its own
    # gen dir instead of appending duplicate rows
    assert di.documents.count() == docs.count()
    assert _results(spark, replay_dir, "table") == before


def test_auto_compaction_bounds_generations(spark, sf_dir, tmp_root):
    """VERDICT r3 next-round #3: with compact_every=K, continuous ingest
    keeps live segment generations <= K+1 (K accumulated + the fresh
    batch), query results stay identical to the one-shot batch index at
    every step, and the lexicon metadata rescan reads a bounded number of
    generation dirs."""
    from search_engine_spark.streaming.ingest import (
        _live_gens,
        ingest_batch,
    )

    K = 3
    docs = build_documents_from_testdata(spark, sf_dir).orderBy("doc_id")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    n_batches = 10  # > 3*K
    chunk = len(ids) // n_batches
    auto_dir = os.path.join(tmp_root, "auto_idx")
    for i in range(n_batches):
        lo = ids[i * chunk]
        hi = ids[(i + 1) * chunk - 1] if i < n_batches - 1 else ids[-1]
        part = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") <= hi))
        ingest_batch(part, i, auto_dir, n_buckets=8, n_salts=2, compact_every=K)
        assert _live_gens(auto_dir) <= K + 1, f"batch {i}"

    assert _live_gens(auto_dir) <= K + 1
    # results identical to the one-shot batch index over the same corpus
    batch_dir = os.path.join(tmp_root, "auto_batch_idx")
    write_index(docs, batch_dir, n_buckets=8, n_shards=1, n_salts=2)
    for query in QUERIES:
        assert _results(spark, auto_dir, query) == _results(spark, batch_dir, query)
    di = load_index(spark, auto_dir)
    assert di.meta.n_docs == len(ids)
    assert di.documents.count() == len(ids)


def test_replay_after_auto_compaction_is_idempotent(spark, sf_dir, tmp_root):
    """A replayed batch whose run TRIGGERED compaction must not fold its
    own postings twice: the auto-trigger excludes the in-flight gen, so
    re-running the batch overwrites gen=N cleanly."""
    from search_engine_spark.streaming.ingest import _live_gens, ingest_batch

    docs = build_documents_from_testdata(spark, sf_dir).orderBy("doc_id")
    ids = [r.doc_id for r in docs.select("doc_id").collect()]
    q = len(ids) // 4
    parts = [
        docs.filter(
            (F.col("doc_id") >= ids[i * q])
            & (F.col("doc_id") <= (ids[(i + 1) * q - 1] if i < 3 else ids[-1]))
        )
        for i in range(4)
    ]
    rep_dir = os.path.join(tmp_root, "replay_compact_idx")
    for i in range(4):  # batch 3 triggers the K=3 fold of gens {0,1,2}
        ingest_batch(parts[i], i, rep_dir, n_buckets=8, n_salts=2, compact_every=3)
    before = _results(spark, rep_dir, "table")
    n_before = load_index(spark, rep_dir).meta.n_docs
    # at-least-once replay of the batch that compacted
    ingest_batch(parts[3], 3, rep_dir, n_buckets=8, n_salts=2, compact_every=3)
    assert _results(spark, rep_dir, "table") == before
    di = load_index(spark, rep_dir)
    assert di.meta.n_docs == n_before == len(ids)
    assert di.documents.count() == len(ids)
    assert _live_gens(rep_dir) <= 4


def test_lexicon_snapshot_survives_next_publish(spark, sf_dir, tmp_root):
    """VERDICT r3 next-round #5: a reader holding the lexicon DataFrame
    across a subsequent ingest keeps a scannable snapshot: an old
    handle's lexicon is a view over that handle's segment listing, which
    a later generation does not change."""
    from search_engine_spark.streaming.ingest import ingest_batch

    docs = build_documents_from_testdata(spark, sf_dir)
    half = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    lex_dir = os.path.join(tmp_root, "lex_idx")
    ingest_batch(half, 0, lex_dir, n_buckets=8, n_salts=2)
    old = load_index(spark, lex_dir)
    old_lex = old.lexicon  # a view over the gen=0 listing
    n_terms_before = old_lex.count()
    ingest_batch(rest, 1, lex_dir, n_buckets=8, n_salts=2)  # adds gen=1
    # the old handle's files still exist: a full rescan must succeed and
    # reflect the OLD snapshot (bypass parquet footer caching so the scan
    # really re-reads)
    spark.catalog.clearCache()
    assert old_lex.count() == n_terms_before
    assert old_lex.agg(F.sum("df")).collect()[0][0] is not None
    # a fresh load lists both generations: more terms/postings
    new = load_index(spark, lex_dir)
    assert new.lexicon.agg(F.sum("df")).collect()[0][0] > old_lex.agg(
        F.sum("df")
    ).collect()[0][0]


@pytest.fixture(scope="module")
def thirds(spark, sf_dir, tmp_root):
    """The testdata corpus as three micro-batches (doc_id mod 3), each
    read from its own parquet file as a file-source stream's batch is."""
    docs = build_documents_from_testdata(spark, sf_dir)
    paths = [os.path.join(tmp_root, "thirds", str(i)) for i in range(3)]
    for i, path in enumerate(paths):
        docs.filter(F.col("doc_id") % 3 == i).write.parquet(path)
    return [spark.read.parquet(path) for path in paths]


def _ingest(parts, index_dir, first_gen=0):
    from search_engine_spark.streaming.ingest import ingest_batch

    for i, part in enumerate(parts, first_gen):
        ingest_batch(part, i, index_dir, n_buckets=8, n_salts=2, compact_every=0)


def _jobs_of(spark, fn) -> int:
    """Spark jobs launched by one call, counted by job group."""
    sc = spark.sparkContext
    group = f"jobs-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_ingest_batch_job_budget(spark, thirds, tmp_root):
    """A micro-batch is one doc-store write (which observes the count,
    fingerprint and Σdl and fills the cache the tokenizer reads) and one
    encode + segment write: at most 3 jobs, with no count, fingerprint,
    salted-merge or lexicon job of its own."""
    from search_engine_spark.streaming.ingest import ingest_batch

    d = os.path.join(tmp_root, "job_budget_idx")
    for i, part in enumerate(thirds):
        n = _jobs_of(spark, lambda: ingest_batch(part, i, d, n_buckets=8, n_salts=2))
        assert n <= 3, (i, n)


def test_stream_lexicon_equals_batch(spark, built, thirds, tmp_root):
    """A streaming index's lexicon, derived from the segment metadata of
    generations written across a compaction, has the batch index's
    (term, df, ctf) rows, and the directory holds no lexicon files."""
    _, batch_dir = built
    d = os.path.join(tmp_root, "stream_lexicon_idx")
    _ingest(thirds[:2], d)
    compact_index(spark, d)
    _ingest(thirds[2:], d, first_gen=2)

    def rows(lexicon):
        return sorted(tuple(r) for r in lexicon.select("term", "df", "ctf").collect())

    got = rows(load_index(spark, d).lexicon)
    assert got == rows(load_index(spark, batch_dir).lexicon)
    assert got == rows(spark.read.parquet(os.path.join(batch_dir, "lexicon")))
    assert not [f for f in os.listdir(d) if f.startswith(("lexicon", "LEXICON"))]


@pytest.mark.parametrize("query", ["table", "table spark", "customer query"])
def test_stream_bm25_topk_equals_batch(spark, built, query):
    """BM25 top-k over the streaming index equals the batch index over
    the same corpus on the driver and the forced-executor route: same
    avgdl (from meta.json on both), same ranks, scores within 1e-9. The
    executor route reads dl from both doc stores, so a fresh handle on
    either index launches the same number of jobs."""
    from search_engine_spark.operators.wand import topk_bm25_wand

    stream_dir, batch_dir = built
    s, b = load_index(spark, stream_dir), load_index(spark, batch_dir)
    assert s.meta.avgdl == b.meta.avgdl > 0
    for kw in ({}, {"max_driver_postings": 0}):
        got, exp = topk_bm25_wand(s, query, 10, **kw), topk_bm25_wand(b, query, 10, **kw)
        assert got and [d for d, _ in got] == [d for d, _ in exp], kw
        assert all(abs(x - y) < 1e-9 for (_, x), (_, y) in zip(got, exp)), kw

    def executor_jobs(index_dir: str) -> int:
        di = load_index(spark, index_dir)
        return _jobs_of(spark, lambda: topk_bm25_wand(di, query, 10, max_driver_postings=0))

    assert executor_jobs(stream_dir) == executor_jobs(batch_dir)


def test_empty_micro_batch_writes_nothing(spark, thirds, tmp_root):
    """An empty micro-batch leaves no generation directory, no manifest
    row and an unchanged meta.json."""
    from search_engine_spark.streaming.ingest import ingest_batch

    d = os.path.join(tmp_root, "empty_batch_idx")
    _ingest(thirds[:1], d)

    def snapshot():
        with open(os.path.join(d, "meta.json"), "rb") as f, open(
            os.path.join(d, "manifest.jsonl"), "rb"
        ) as g:
            return f.read(), g.read()

    before = snapshot()
    ingest_batch(thirds[1].limit(0), 1, d, n_buckets=8, n_salts=2)
    assert not os.path.exists(os.path.join(d, "documents", "gen=1"))
    assert not os.path.exists(os.path.join(d, "segments", "gen=1"))
    assert snapshot() == before


def test_meta_without_avgdl_rejected(spark, thirds, tmp_root):
    """An index whose meta.json has no avgdl predates dl in every doc
    store: loading it and ingesting into it both fail with a rebuild
    message instead of scoring BM25 against a missing length norm."""
    import json

    from search_engine_spark.streaming.ingest import ingest_batch

    d = os.path.join(tmp_root, "no_avgdl_idx")
    _ingest(thirds[:1], d)
    meta_path = os.path.join(d, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["avgdl"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="no avgdl.*Rebuild"):
        load_index(spark, d)
    with pytest.raises(ValueError, match="no avgdl.*Rebuild"):
        ingest_batch(thirds[1], 1, d, n_buckets=8, n_salts=2)
    assert not os.path.exists(os.path.join(d, "documents", "gen=1"))


def test_older_segment_format_rejected(spark, thirds, tmp_root):
    """An index whose segment rows predate the columnar format has no
    ``format`` in its meta.json: loading it and ingesting into it both
    fail with a rebuild message, and the ingest writes nothing."""
    import json

    from search_engine_spark.operators.segments import SEGMENT_FORMAT
    from search_engine_spark.streaming.ingest import ingest_batch

    d = os.path.join(tmp_root, "format_1_idx")
    _ingest(thirds[:1], d)
    meta_path = os.path.join(d, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["format"] == SEGMENT_FORMAT
    del meta["format"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="segment format 1.*Rebuild"):
        load_index(spark, d)
    with pytest.raises(ValueError, match="segment format 1.*Rebuild"):
        ingest_batch(thirds[1], 1, d, n_buckets=8, n_salts=2)
    assert not os.path.exists(os.path.join(d, "documents", "gen=1"))
    assert not os.path.exists(os.path.join(d, "segments", "gen=1"))


def test_replay_after_doc_store_commit(spark, thirds, tmp_root):
    """A batch killed after its doc-store commit (documents/gen=N written,
    no segments/gen=N, no manifest row) replays to exactly the index of a
    clean run: same meta.json, documents and results."""
    from search_engine_spark.operators.segments import _write_doc_store, manifest_rows
    from search_engine_spark.operators.wand import topk_bm25_wand

    clean = os.path.join(tmp_root, "clean_idx")
    _ingest(thirds, clean)
    torn = os.path.join(tmp_root, "torn_idx")
    _ingest(thirds[:2], torn)
    _write_doc_store(thirds[2], os.path.join(torn, "documents", "gen=2"))
    assert not os.path.exists(os.path.join(torn, "segments", "gen=2"))
    assert [r["gen"] for r in manifest_rows(torn)] == [0, 1]
    _ingest(thirds[2:], torn, first_gen=2)  # the replay

    a, b = load_index(spark, clean), load_index(spark, torn)
    assert a.meta == b.meta
    assert a.documents.count() == b.documents.count() == a.meta.n_docs
    for query in QUERIES:
        assert _results(spark, torn, query) == _results(spark, clean, query)
    assert topk_bm25_wand(b, "table spark", 10) == topk_bm25_wand(a, "table spark", 10)


def test_windowed_event_stream_matches_batch(spark, sf_dir, tmp_root):
    from search_engine_spark.operators.events import hourly_event_stats

    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev_dir = os.path.join(tmp_root, "events_src")
    if not os.path.exists(ev_dir):
        os.makedirs(ev_dir)
        shutil.copy(f"{sf_dir}/events.parquet", os.path.join(ev_dir, "part-0.parquet"))
    stream = spark.readStream.schema(batch.schema).parquet(ev_dir)
    out = windowed_event_counts(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("ev_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(tmp_root, "ev_ck"))
        .start()
    )
    q.awaitTermination(300)
    got = {
        (r.hour, r.event_type): (r.n_events, r.sum_value, r.n_users)
        for r in spark.sql("select * from ev_stream").collect()
    }
    exp = {
        (r.hour, r.event_type): (r.n_events, r.sum_value, r.n_users)
        for r in hourly_event_stats(batch).collect()
    }
    # append mode only emits windows CLOSED by the watermark: windows whose
    # end > max(ts) - 2h stay in state when an availableNow run drains.
    import datetime

    max_ts = batch.agg(F.max(F.col("ts").cast("timestamp"))).collect()[0][0]
    threshold = max_ts - datetime.timedelta(hours=2)
    closed = {
        k
        for k in exp
        if datetime.datetime.fromisoformat(k[0]) + datetime.timedelta(hours=1)
        <= threshold
    }
    assert set(got) == closed
    assert len(closed) > 0
    for k in closed:
        n, s, u = exp[k]
        gn, gs, gu = got[k]
        assert gn == n and abs(gs - s) < 1e-6
        assert abs(gu - u) <= max(1, 0.15 * u)  # approx_count_distinct


def test_legacy_flat_doc_store_rejected(spark, sf_dir, tmp_root):
    """A pre-generation (flat part files under documents/) index dir must
    be rejected EAGERLY with a rebuild message — mixing flat files with
    gen=N subdirectories breaks Spark partition discovery mid-read
    (ADVICE r2)."""
    from search_engine_spark.streaming.ingest import ingest_batch

    legacy = os.path.join(tmp_root, "legacy_idx")
    docs_dir = os.path.join(legacy, "documents")
    os.makedirs(docs_dir, exist_ok=True)
    with open(os.path.join(docs_dir, "part-00000-legacy.parquet"), "wb") as f:
        f.write(b"PAR1")
    batch = build_documents_from_testdata(spark, sf_dir).limit(5)
    with pytest.raises(ValueError, match="legacy flat doc-store layout"):
        ingest_batch(batch, 0, legacy, n_buckets=4, n_salts=2)


def _sessionize_oracle(pdf, gap_min):
    """Pandas gap-rule oracle: {(uid, sid): (start_str, n, last_ts)}."""
    oracle = {}
    for uid, g in pdf.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        sid, start, last, n = 0, None, None, 0
        for t in g["ts"]:
            if start is None or (t - last).total_seconds() > gap_min * 60:
                if start is not None:
                    oracle[(uid, sid)] = (
                        start.strftime("%Y-%m-%d %H:%M:%S"), n, last
                    )
                sid, start, last, n = sid + 1, t, t, 1
            else:
                last, n = t, n + 1
        oracle[(uid, sid)] = (start.strftime("%Y-%m-%d %H:%M:%S"), n, last)
    return oracle


def _run_sessionize(spark, src, ck, qname, gap_min, **kw):
    from search_engine_spark.streaming.ingest import sessionize_stream

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        sessionize_stream(stream, gap_minutes=gap_min, **kw)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", ck)
        .start()
    )
    q.awaitTermination(300)
    return {
        (r.user_id, r.session_id): (r.session_start, r.n_events)
        for r in spark.sql(f"select * from {qname}").collect()
    }


def _wm_final(oracle, pdf, gap_min, watermark_h=2):
    """The sessions the final watermark makes immutable: last + gap <
    max(ts) - watermark — exactly the set the stream must emit."""
    import datetime

    wm = pdf["ts"].max() - datetime.timedelta(hours=watermark_h)
    return {
        k: (v[0], v[1])
        for k, v in oracle.items()
        if v[2] + datetime.timedelta(minutes=gap_min) < wm
    }


def test_stateful_sessionize_stream_matches_batch(spark, sf_dir, tmp_root):
    """applyInPandasWithState sessionizer vs the batch gap rule.

    Events arrive time-ordered in 3 files; the emitted rows must be
    EXACTLY the watermark-final sessions of the batch semantics (same
    ordinals, starts, counts), and the pandas-derived oracle must itself
    agree with operators.events.sessionize (tying stream == pandas ==
    batch)."""
    import pandas as pd

    from search_engine_spark.operators.events import sessionize

    gap_min = 30
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(
        ["ts", "event_id"]
    )
    src = os.path.join(tmp_root, "sess_src")
    os.makedirs(src, exist_ok=True)
    for i, chunk in enumerate(
        [pdf.iloc[: len(pdf) // 3], pdf.iloc[len(pdf) // 3 : 2 * len(pdf) // 3],
         pdf.iloc[2 * len(pdf) // 3 :]]
    ):
        chunk.to_parquet(os.path.join(src, f"part-{i}.parquet"))

    got = _run_sessionize(
        spark, src, os.path.join(tmp_root, "sess_ck"), "sess_stream", gap_min
    )
    oracle = _sessionize_oracle(pdf, gap_min)

    # the pandas oracle IS the batch operator's output
    batch = spark.read.parquet(f"{sf_dir}/events.parquet")
    exp_batch = {
        (r.user_id, r.session_id): (r.session_start, r.n_events)
        for r in sessionize(batch, gap_minutes=gap_min).collect()
    }
    assert exp_batch == {k: (v[0], v[1]) for k, v in oracle.items()}

    exp = _wm_final(oracle, pdf, gap_min)
    assert len(exp) > 0
    assert got == exp


def test_sessionize_stream_out_of_order_within_watermark(spark, sf_dir, tmp_root):
    """Arrival order shuffled WITHIN the watermark across micro-batches
    (VERDICT r3 next-round #6): rows are permuted inside each arrival file
    AND a slice of each chunk's freshest events is delayed into the next
    file (late by one batch but newer than that batch's watermark). The
    emitted session set must STILL exactly equal the batch semantics'
    watermark-final sessions."""
    import datetime

    import pandas as pd

    gap_min = 30
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(
        ["ts", "event_id"]
    )
    thirds = [
        pdf.iloc[: len(pdf) // 3],
        pdf.iloc[len(pdf) // 3 : 2 * len(pdf) // 3],
        pdf.iloc[2 * len(pdf) // 3 :],
    ]
    # delay every chunk's last-hour events into the NEXT arrival: when they
    # arrive, the watermark is max(prior chunks) - 2h < their ts, so the
    # engine must still sessionize them exactly
    chunks, carry = [], None
    for i, c in enumerate(thirds):
        if carry is not None:
            c = pd.concat([carry, c], ignore_index=True)
        if i < len(thirds) - 1:
            cut = c["ts"].max() - datetime.timedelta(hours=1)
            carry = c[c["ts"] > cut]
            c = c[c["ts"] <= cut]
        chunks.append(c.sample(frac=1.0, random_state=7))  # in-file shuffle
    src = os.path.join(tmp_root, "sess_ooo_src")
    os.makedirs(src, exist_ok=True)
    for i, c in enumerate(chunks):
        c.to_parquet(os.path.join(src, f"part-{i}.parquet"))

    got = _run_sessionize(
        spark, src, os.path.join(tmp_root, "sess_ooo_ck"), "sess_ooo", gap_min
    )
    exp = _wm_final(_sessionize_oracle(pdf, gap_min), pdf, gap_min)
    assert len(exp) > 0
    assert got == exp


def test_sessionize_stream_drops_sub_watermark_event(spark, sf_dir, tmp_root):
    """The pinned boundary divergence: an event OLDER than the watermark
    is dropped by the engine (the batch operator would count it), so the
    emitted sessions are unchanged."""
    import datetime

    import pandas as pd

    gap_min = 30
    pdf = pd.read_parquet(f"{sf_dir}/events.parquet").sort_values(
        ["ts", "event_id"]
    )
    src = os.path.join(tmp_root, "sess_late_src")
    ck = os.path.join(tmp_root, "sess_late_ck")
    os.makedirs(src, exist_ok=True)
    pdf.to_parquet(os.path.join(src, "part-0.parquet"))
    # a straggler 3 days older than everything, arriving as batch 2 (file
    # stream processes files in arrival order with maxFilesPerTrigger=1)
    # when the watermark is already max(part-0 ts) - 2h — far above it
    late = pdf.iloc[[0]].copy()  # same schema/dtypes as the real feed
    late["event_id"] = 999_999_999
    late["ts"] = pdf["ts"].min() - datetime.timedelta(days=3)
    import time as _time

    _time.sleep(1.1)  # distinct mtime: part-1 must sort after part-0
    late.to_parquet(os.path.join(src, "part-1.parquet"))
    got = _run_sessionize(spark, src, ck, "sess_late", gap_min)
    exp = _wm_final(_sessionize_oracle(pdf, gap_min), pdf, gap_min)
    # had the straggler counted, user `uid`'s every session ordinal would
    # shift by one and a new 1-event session would appear
    assert got == exp


def test_sessionize_stream_idle_ttl_restarts_ordinals(spark, tmp_root):
    """State removal after the idle TTL (ADVICE r3): a user idle past
    idle_ttl_gaps x gap loses the ordinal tombstone, so a comeback event
    restarts session_id at 1; a user active within the TTL keeps
    continuous ordinals."""
    import datetime

    import pandas as pd

    gap_min = 30
    t0 = pd.Timestamp("2026-01-01 00:00:00")
    hours = datetime.timedelta(hours=1)

    def ev(eid, uid, ts):
        return {"event_id": eid, "user_id": uid, "ts": ts,
                "event_type": "click", "value": 1.0}

    # user 1: bursts at t0, t0+2h (continuous ordinals: idle < TTL), then
    # t0+100h (idle >> 2-gap TTL: ordinal restarts)
    # user 2: steady burst every 2h (keeps the watermark advancing past
    # user 1's comeback so it gets emitted)
    rows, eid = [], 0
    for h in range(0, 111, 2):
        eid += 1
        rows.append(ev(eid, 2, t0 + h * hours))
    for h in (0, 2, 100):
        eid += 1
        rows.append(ev(eid, 1, t0 + h * hours))
    pdf = pd.DataFrame(rows).sort_values("ts")
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # Spark rejects NANOS
    src = os.path.join(tmp_root, "sess_ttl_src")
    os.makedirs(src, exist_ok=True)
    # one file per 20 hours so watermarks advance batch by batch
    for i in range(6):
        lo, hi = t0 + i * 20 * hours, t0 + (i + 1) * 20 * hours
        c = pdf[(pdf["ts"] >= lo) & (pdf["ts"] < hi)]
        if len(c):
            c.to_parquet(os.path.join(src, f"part-{i}.parquet"))

    got = _run_sessionize(
        spark, src, os.path.join(tmp_root, "sess_ttl_ck"), "sess_ttl",
        gap_min, idle_ttl_gaps=2, watermark="1 hour",
    )
    u1 = {sid: v for (uid, sid), v in got.items() if uid == 1}
    # sessions at t0 and t0+2h keep continuous ordinals 1, 2; the t0+100h
    # comeback restarts at 1 (tombstone dropped after ~2 gaps idle) and
    # OVERWRITES sid=1 in the keyed dict — pin via start timestamps
    starts = sorted(v[0] for v in u1.values())
    assert "2026-01-01 02:00:00" in starts  # sid=2 emitted (continuous)
    assert len(u1) == 2  # sid 1 (restarted) + sid 2 — no sid 3 ever
    restarted = [v for v in u1.values() if v[0] == "2026-01-05 04:00:00"]
    assert restarted, u1  # the comeback session was emitted with sid in {1,2}
