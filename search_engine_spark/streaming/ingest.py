"""Structured Streaming ingest: continuous index build + windowed events.

The reference's ingest is an unbounded HTTP push feed consumed by worker
pools with a batched flush every 1000 docs (``index/core/indexer.go:
224-283``, SURVEY §2.10) — operationally a micro-batch stream. This module
is the Spark-idiomatic twin:

- ``stream_documents`` + ``start_incremental_index``: readStream →
  foreachBatch. Every micro-batch becomes an immutable segment
  GENERATION under ``segments/gen=<batch_id>/`` (the LSM analog of the
  reference's flush; its read-merge-write BoltDB upsert becomes
  append-only writes + read-merge at query time + explicit compaction).
  The query path (``wand.fetch_term_segments``) merges a term's
  generations on fetch, so the index is searchable at any moment without
  blocking ingest.
- ``compact_index``: fold all generations into one (periodic maintenance
  job — the analog of a full merge: ``merge_salted`` over every
  generation's rows, a partition-local sort-merge per term).
- ``windowed_event_counts``: watermarked tumbling-window aggregation —
  the streaming twin of ``operators/events.hourly_event_stats`` (same
  output schema, late rows beyond the watermark dropped).
- ``sessionize_stream``: custom stateful operator
  (``applyInPandasWithState`` + event-time timeout) — the streaming twin
  of ``operators/events.sessionize`` with O(active users) state.

A micro-batch goes through the batch build's write core
(``operators.segments``): ``_write_doc_store`` (adds ``dl``, observes the
count, fingerprint and Σdl), ``_write_segments`` over ``build_segments``
output as is (no fuse: salted sub-segments are read-merged). No lexicon
is written: ``DiskIndex.lexicon`` derives it from the segment rows'
df/ctf, so a reader's lexicon always matches the generations it lists.

Exactly-once notes: foreachBatch gives at-least-once; the per-generation
directories are keyed by ``batch_id``, so a replayed batch OVERWRITES its
own generation (idempotent), and ``meta.json`` is recomputed from the
manifest rather than incremented (no double counting). A batch commits
``documents/gen=N`` first, then ``segments/gen=N``, its manifest row and
``meta.json``. A crash after the doc-store commit leaves documents that
no posting or count refers to, visible in ``documents`` until the replay
rewrites both generations and publishes them.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.postings import build_postings_packed
from ..operators.segments import (
    _write_doc_store,
    _write_segments,
    append_manifest,
    build_segments,
    manifest_rows,
    merge_salted,
    read_meta,
    write_meta,
)

DOCUMENTS_SCHEMA = (
    "doc_id long, url string, title string, body string, content_sha256 string"
)


def stream_documents(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-arrival document stream in the engine's documents shape.

    Each newly arriving parquet file under ``source_dir`` is one (or part
    of one) micro-batch — the stand-in for the reference's HTTP PUT feed
    (``index/api/api.go:68-91``)."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def _write_meta(index_dir: str, n_buckets: int) -> None:
    """Recompute meta.json from the generation manifest (idempotent)."""
    # last write per gen wins
    gens = {r["gen"]: r for r in manifest_rows(index_dir) if "gen" in r}
    n_docs = sum(g["n_docs"] for g in gens.values())
    meta = {
        "n_docs": n_docs,
        "n_buckets": n_buckets,
        "n_shards": 1,
        "fingerprint": "streaming:" + ":".join(
            g.get("fingerprint", "?") for _, g in sorted(gens.items())
        ),
        "avgdl": sum(g["sum_dl"] for g in gens.values()) / max(n_docs, 1),
    }
    write_meta(index_dir, meta)


def _check_doc_store_layout(index_dir: str) -> None:
    """Reject pre-round-2 FLAT doc stores (part files directly under
    ``documents/``): mixing them with the gen=N generation directories
    makes Spark partition discovery fail with a conflicting-structure
    error mid-read. Failing eagerly with a rebuild message is the
    recoverable behavior (ADVICE r2)."""
    docs_dir = os.path.join(index_dir, "documents")
    if not os.path.isdir(docs_dir):
        return
    flat = [
        f
        for f in os.listdir(docs_dir)
        if f.startswith("part-") and os.path.isfile(os.path.join(docs_dir, f))
    ]
    if flat:
        raise ValueError(
            f"{docs_dir} uses the legacy flat doc-store layout "
            f"({len(flat)} part files, e.g. {flat[0]}); streaming ingest "
            "now writes generation-keyed documents/gen=N/ directories and "
            "cannot mix with flat files. Rebuild the index directory, or "
            "move the existing part files into documents/gen=0/."
        )


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_dir: str,
    n_buckets: int = 16,
    n_salts: int = 4,
    salt_threshold: int = 250_000,
    compact_every: int = 8,
) -> None:
    """foreachBatch body: one micro-batch -> one segment generation.

    ``compact_every``: when the number of live segment generations (NOT
    counting this batch's own) reaches this many, fold them into one base
    generation before writing the new one — the LSM compaction trigger
    (the analog of the reference flusher's continuous fold,
    index/core/indexer.go:263-283). Keeps the per-term read-merge at
    fetch O(compact_every) instead of O(total batches ever ingested)
    (VERDICT r3 "what's missing" #2). Replay-safe because the fold runs
    BEFORE this batch's generation is (re)written and always EXCLUDES
    gen=batch_id: a replayed batch can never find its own postings
    already folded into the base. 0/None disables the trigger.
    """
    _check_doc_store_layout(index_dir)
    if os.path.exists(os.path.join(index_dir, "meta.json")):
        read_meta(index_dir)  # an older index (no avgdl, other format) is rejected here
    spark = batch_df.sparkSession
    _heal_compaction(index_dir)
    if compact_every and _live_gens(index_dir, exclude=batch_id) >= compact_every:
        compact_index(spark, index_dir, exclude_gen=batch_id)
    t0 = time.time()
    docs_dir = os.path.join(index_dir, "documents", f"gen={batch_id}")
    # the doc-store write fills the cache the tokenizer then reads
    batch_df = batch_df.cache()
    try:
        stats = _write_doc_store(batch_df, docs_dir)
        if stats.n_docs == 0:
            shutil.rmtree(docs_dir, ignore_errors=True)
            return
        seg = build_segments(
            build_postings_packed(batch_df), n_buckets, n_salts, salt_threshold,
            n_docs=stats.n_docs,
        )
        seg_stats = _write_segments(
            seg, os.path.join(index_dir, "segments", f"gen={batch_id}")
        )
    finally:
        batch_df.unpersist()
    wall_ms = int((time.time() - t0) * 1000)
    append_manifest(index_dir, {"gen": batch_id, "status": "complete",
                                "fingerprint": stats.fingerprint, "n_docs": stats.n_docs,
                                "sum_dl": stats.sum_dl, **seg_stats, "wall_ms": wall_ms})
    _write_meta(index_dir, n_buckets)


def _gen_ids(index_dir: str, exclude: int | None = None) -> list[int]:
    """Live segment generation ids, ascending (optionally without one
    batch's own gen)."""
    seg_root = os.path.join(index_dir, "segments")
    if not os.path.isdir(seg_root):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(seg_root)
        if d.startswith("gen=") and d != f"gen={exclude}"
        and os.path.isdir(os.path.join(seg_root, d))
    )


def _live_gens(index_dir: str, exclude: int | None = None) -> int:
    """The auto-compaction trigger predicate's generation count."""
    return len(_gen_ids(index_dir, exclude))


def _heal_compaction(index_dir: str) -> None:
    """Crash recovery for ``compact_index``: the manifest's ``compact``
    records name the generations each fold superseded; any of those dirs
    still on disk (a crash between base publish and folded-gen removal)
    would double-count at read-merge, so remove them before proceeding.
    Runs at the top of every ``ingest_batch`` (single-writer assumption:
    readers between a crash and the next ingest may double-merge — the
    documented recovery window)."""
    folded: set[int] = set()
    for row in manifest_rows(index_dir):
        if "compact" in row:
            folded.update(row.get("folded", []))
            folded.discard(row["compact"])  # a base later re-folded
    seg_root = os.path.join(index_dir, "segments")
    for g in folded:
        d = os.path.join(seg_root, f"gen={g}")
        if os.path.isdir(d):
            shutil.rmtree(d)


def start_incremental_index(
    docs_stream: DataFrame,
    index_dir: str,
    checkpoint_dir: str | None = None,
    n_buckets: int = 16,
    n_salts: int = 4,
    salt_threshold: int = 250_000,
    available_now: bool = True,
    compact_every: int = 8,
) -> StreamingQuery:
    """Start the continuous index build. ``available_now=True`` drains the
    current backlog then stops (batch-test mode); False runs forever.
    ``compact_every`` bounds live segment generations (see
    ``ingest_batch``)."""
    os.makedirs(index_dir, exist_ok=True)
    writer = docs_stream.writeStream.foreachBatch(
        lambda bdf, bid: ingest_batch(
            bdf, bid, index_dir, n_buckets, n_salts, salt_threshold,
            compact_every,
        )
    ).option(
        "checkpointLocation",
        checkpoint_dir or os.path.join(index_dir, "_checkpoint"),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_index(
    spark: SparkSession, index_dir: str, exclude_gen: int | None = None
) -> None:
    """Fold segment generations into one base generation (LSM compaction).

    ``merge_salted`` over every folded generation's rows: a term with
    more than one row (several generations or salts) is sort-merged and
    re-encoded, a one-row term passes through. Afterward every folded
    term has exactly one segment row, so query fetches stop paying the
    read-merge.

    ``exclude_gen`` leaves that generation out of the fold — the
    auto-compaction path passes the in-flight batch id so an at-least-once
    replay of that batch can never find its own postings already folded
    (it would then double-write them).

    Crash safety (single-writer): the base is written under a tmp dir and
    ``os.rename``d into ``segments/gen=<base>`` (atomic appearance; base
    ids count DOWN from -1 so they can never collide with a future
    batch_id), then a ``compact`` record naming the folded generations is
    appended to the manifest, and only then are the folded dirs removed.
    A crash mid-removal leaves both the base and some folded dirs — the
    ``compact`` record lets ``_heal_compaction`` finish the removals at
    the next ingest instead of double-counting forever."""
    seg_root = os.path.join(index_dir, "segments")
    fold = _gen_ids(index_dir, exclude_gen)
    if len(fold) <= 1:
        return
    base = min(fold + [0]) - 1  # -1, then -2, ... — never a batch_id
    seg_all = spark.read.option("basePath", seg_root).parquet(
        *[os.path.join(seg_root, f"gen={g}") for g in fold]
    )
    merged = merge_salted(seg_all.drop("gen"))
    tmp = os.path.join(index_dir, "_segments_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    _write_segments(merged, os.path.join(tmp, f"gen={base}"))
    os.rename(os.path.join(tmp, f"gen={base}"), os.path.join(seg_root, f"gen={base}"))
    shutil.rmtree(tmp, ignore_errors=True)
    append_manifest(index_dir, {"compact": base, "folded": fold})
    for g in fold:
        shutil.rmtree(os.path.join(seg_root, f"gen={g}"), ignore_errors=True)


def windowed_event_counts(
    events_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling 1-hour window per event_type — streaming twin
    of ``operators/events.hourly_event_stats`` (same columns; countDistinct
    is replaced by approx_count_distinct, the streaming-legal form)."""
    # watermarks require TIMESTAMP (testdata ts is TIMESTAMP_NTZ; the
    # session tz is UTC so the cast is representation-stable)
    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("_w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.approx_count_distinct("user_id").alias("n_users"),
        )
        .select(
            F.date_format(F.col("_w.start"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
            "n_users",
        )
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, session_start string, n_events long"
)
# per-user state: count of sessions already emitted + the event times
# (µs) of every session the watermark has not yet made immutable
SESSION_STATE_SCHEMA = "sid long, buf array<long>"


def sessionize_stream(
    events_stream: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    idle_ttl_gaps: int = 8,
) -> DataFrame:
    """Stateful streaming sessionization — the custom-stateful-operator
    twin of ``operators/events.sessionize`` (same output schema and the
    same gap rule), built on ``applyInPandasWithState``.

    State per ``user_id`` is (emitted-session count, buffer of the event
    times still mutable under the watermark). Each invocation merges the
    batch's events into the buffer, gap-splits the merged (sorted)
    times, and EMITS exactly the prefix of sessions the watermark has
    made immutable: a session with last event L is final iff
    ``L + gap < watermark`` — any event that could still arrive has
    ``ts >= watermark > L + gap``, so it can neither join the session nor
    bridge it to a finalized predecessor (whose own ``L' + gap`` is even
    smaller). Non-final sessions' events stay buffered, which is what
    makes the emitted rows EXACTLY equal to the batch operator's for
    every arrival order the watermark admits (VERDICT r3 next-round #6) —
    the only divergence left is inherent: an event older than the
    watermark is dropped by the engine, while the batch operator would
    still count it.

    Event-time timeouts fire at the first buffered session's ``L + gap``
    so sessions finalize as the watermark passes them even with no new
    events. Once the buffer drains, the state row (just the ordinal) is
    kept for ``idle_ttl_gaps`` further gap windows and then REMOVED
    (ADVICE r3: state is O(users active within the TTL window), not
    O(users ever seen)); a user returning after that long idle restarts
    session ordinals at 1 — the documented cost of bounded state.

    Scale shape: each micro-batch shuffles only its own events on
    user_id; per-user state is bounded by the events inside one
    watermark+gap window.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    gap_ms = gap_minutes * 60 * 1000
    ttl_ms = idle_ttl_gaps * gap_ms

    def fold(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        (user_id,) = key
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        if state.exists:
            sid, buf = state.get
            buf = np.asarray(buf if buf is not None else [], np.int64)
        else:
            sid, buf = 0, np.empty(0, np.int64)
        was_idle = buf.size == 0

        new_ts = np.empty(0, np.int64)
        if not state.hasTimedOut:
            rows = pd.concat(list(pdfs), ignore_index=True)
            new_ts = (rows["ts"].astype("int64").to_numpy() // 1000).astype(
                np.int64
            )
            # arbitrary stateful ops do NOT get automatic late-row
            # filtering from the watermark (unlike windowed aggs) — drop
            # sub-watermark stragglers here, or they would reopen/renumber
            # sessions the watermark already finalized
            new_ts = new_ts[new_ts >= wm_us]
        ts = np.sort(np.concatenate([buf, new_ts]))

        out = []
        if ts.size:
            # gap-split: session boundaries where the sorted delta > gap
            starts = np.flatnonzero(
                np.concatenate(([True], np.diff(ts) > gap_us))
            )
            ends = np.concatenate((starts[1:] - 1, [ts.size - 1]))
            n_final = int(np.searchsorted(ts[ends] + gap_us, wm_us))
            for s, e in zip(starts[:n_final], ends[:n_final]):
                sid += 1
                out.append(
                    (
                        user_id,
                        sid,
                        pd.Timestamp(int(ts[s]), unit="us").strftime(
                            "%Y-%m-%d %H:%M:%S"
                        ),
                        int(e - s + 1),
                    )
                )
            ts = ts[starts[n_final] :] if n_final < starts.size else ts[:0]

        if ts.size:
            state.update((sid, ts.tolist()))
            # fire when the watermark passes the OLDEST buffered session
            gaps = np.diff(ts) > gap_us
            first_end = int(ts[np.argmax(gaps)] if gaps.any() else ts[-1])
            state.setTimeoutTimestamp(
                max(wm_ms + 1, first_end // 1000 + gap_ms + 1)
            )
        elif state.hasTimedOut and was_idle:
            state.remove()  # idle past the TTL: drop the ordinal tombstone
        else:
            state.update((sid, []))
            state.setTimeoutTimestamp(wm_ms + ttl_ms + 1)
        yield pd.DataFrame(
            out, columns=["user_id", "session_id", "session_start", "n_events"]
        )

    events_stream = events_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fold,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
