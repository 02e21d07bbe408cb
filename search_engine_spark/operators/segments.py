"""Compressed global index: salted segment build, disk layout, manifest,
resume, and the write core shared by batch builds and streaming ingest.

Pipeline (SURVEY §3.1 re-architecture):

    packed postings (term_id, doc_id, title_end, npos, pos_blob)
      → bucket = xxhash64(term_id) % n_buckets    (term-partitioned index)
      → salt   = xxhash64(doc_id) % n_salts for hot terms (df > threshold)
                 else 0                            (skew defeat, north rule)
      → groupBy(bucket, salt).applyInArrow(encode kernel)
           kernel: codec.encode_postings sorts (term_id, doc_id) and
           splices the packed position bytes in ONE vectorized pass per
           group
      → segments rows (term_id, salt, df, ctf, doc_ids/tf/title_end
        arrays, blob of position bytes, block_* sidecar)
      → optional merge pass (``merge_salted``): a term's sub-segments
        concatenated and written again as one row by the same writer
        (``merge_term_rows``), their position bytes spliced untouched

Disk layout (all parquet + a JSON manifest):

    index_dir/meta.json            n_docs, n_buckets, n_shards, fingerprint,
                                   avgdl, format (``SEGMENT_FORMAT``)
    index_dir/documents/           doc store, with a per-doc token count dl
    index_dir/lexicon/             term_id, term, df, ctf, bucket: a batch
                                   export; the engine derives its lexicon
                                   from segment metadata (``DiskIndex.
                                   lexicon``) and never reads this
    index_dir/segments/shard=K/    bucket, term_id, salt, df, ctf,
                                   doc_ids, tf, title_end (arrays in
                                   doc-id order), blob (their position
                                   bytes), block_last, block_max_tf,
                                   block_offsets (``functions/codec.py``):
                                   a batch build's shards (salt > 0 only
                                   on a hot term's unfused sub-segments),
                                   written by the Parquet v2 writer
    index_dir/segments/gen=N/      the same columns: one streaming
                                   micro-batch's generation, or the fold
                                   of several after compaction
    index_dir/manifest.jsonl       one row per completed shard: lineage
                                   (input fingerprint, format) + metrics

Batch builds (``write_index``) and streaming micro-batches
(``streaming.ingest.ingest_batch``) share one write core:
``_write_doc_store`` and ``_write_segments``. So every doc store has
``dl`` and every ``meta.json`` has ``avgdl`` and ``format``;
``load_index`` rejects an older directory without them (rebuild it).
Every index reads term statistics one way: ``_lexicon_of`` its segment
rows, which already carry df and ctf per term (as the reference stores
them beside each posting list).

Shards are the resume unit: ``write_index`` skips shards whose manifest
row is complete AND matches the input fingerprint and the segment
format, so an interrupted build restarts without recomputing finished
work (north rule: checkpointed per-partition segment manifests with
lineage + metrics).
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import codec
from ..functions.sqltext import sql_list, sql_literal
from .docids import release_assign_cache

SEGMENT_SCHEMA = (
    "bucket int, term_id long, salt int, df long, ctf long, doc_ids array<long>, "
    "tf array<int>, title_end array<int>, blob binary, block_last array<long>, "
    "block_max_tf array<int>, block_offsets array<long>"
)

# The segment row layout this engine reads and writes, stamped in
# ``meta.json`` and in every manifest row: an index of another format is
# rejected (``read_meta``) and a build does not resume over its shards.
SEGMENT_FORMAT = 2

# Parquet writer settings of every segment write. The v2 writer encodes
# the doc-id arrays as DELTA_BINARY_PACKED; their dictionary would
# overflow at corpus scale and fall back to plain int64, so it is off.
_SEGMENT_WRITER = {
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary#doc_ids.list.element": "false",
}


def _encode_kernel_packed(table: pa.Table) -> pa.Table:
    """applyInArrow kernel for one (bucket, salt) group of PRE-PACKED
    postings (pos_blob binary).

    Positions arrived as per-doc delta+varint byte strings (packed
    map-side in the tokenizer kernel), so ``codec.encode_postings`` only
    sorts and splices the position bytes — no position re-encoding, no
    list materialization. Arrow-native on purpose: the real type hints
    are REQUIRED — applyInArrow infers its eval type from them."""
    t = table.combine_chunks()
    term, doc, te, npos = (
        t.column(c).to_numpy(zero_copy_only=False)
        for c in ("term_id", "doc_id", "title_end", "npos")
    )
    boffsets, bvalues = _binary_buffers(t.column("pos_blob"))
    eb = codec.encode_postings(term, doc, te, npos, boffsets[:-1], np.diff(boffsets), bvalues)
    n_terms = len(eb.term_ids)
    bucket = int(t.column("bucket")[0].as_py()) if n_terms else 0
    salt = int(t.column("salt")[0].as_py()) if n_terms else 0
    return _segment_table(eb, bucket, salt)


def _binary_buffers(col) -> tuple[np.ndarray, np.ndarray]:
    """(offsets, data) of a binary Arrow column: row i's bytes are
    ``data[offsets[i] : offsets[i + 1]]``."""
    ba = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    bufs = ba.buffers()  # [validity, int32 offsets, data]
    offsets = np.frombuffer(bufs[1], np.int32)[ba.offset : ba.offset + len(ba) + 1]
    data = np.frombuffer(bufs[2], np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return offsets.astype(np.int64), data


def _segment_table(eb: codec.EncodedBucket, bucket: int, salt: int) -> pa.Table:
    """Segment rows (``SEGMENT_SCHEMA``) of the encoded terms of one
    (bucket, salt) group, built from the flat arrays and their offsets."""
    n_terms = len(eb.term_ids)

    def lists(offsets, values, typ):
        return pa.ListArray.from_arrays(
            pa.array(offsets, pa.int32()), pa.array(values, typ)
        )

    return pa.table(
        {
            "bucket": pa.array(np.full(n_terms, bucket, np.int32), pa.int32()),
            "term_id": pa.array(eb.term_ids, pa.int64()),
            "salt": pa.array(np.full(n_terms, salt, np.int32), pa.int32()),
            "df": pa.array(eb.dfs, pa.int64()),
            "ctf": pa.array(eb.ctfs, pa.int64()),
            "doc_ids": lists(eb.doc_off, eb.doc_ids, pa.int64()),
            "tf": lists(eb.doc_off, eb.tf, pa.int32()),
            "title_end": lists(eb.doc_off, eb.title_end, pa.int32()),
            "blob": pa.Array.from_buffers(
                pa.binary(), n_terms,
                [None, pa.py_buffer(eb.blob_off.astype(np.int32)), pa.py_buffer(eb.blob)],
            ),
            "block_last": lists(eb.block_off, eb.block_last, pa.int64()),
            "block_max_tf": lists(eb.block_off, eb.block_max_tf, pa.int32()),
            "block_offsets": lists(eb.block_off, eb.block_offsets, pa.int64()),
        }
    )


def may_salt(salt_threshold: int, n_docs: int) -> bool:
    """Whether any term can be hot (df > ``salt_threshold``) in a build
    over ``n_docs`` documents. No term's df exceeds the doc count, so at
    ``salt_threshold >= n_docs`` every term has salt 0 and is one row."""
    return salt_threshold < n_docs


def build_segments(
    postings: DataFrame,
    n_buckets: int = 64,
    n_salts: int = 8,
    salt_threshold: int = 250_000,
    *,
    n_docs: int,
) -> DataFrame:
    """packed postings -> compressed per-term segment rows.

    Hot terms (df > salt_threshold) are split into ``n_salts``
    sub-segments by hashed doc_id so no single task encodes an entire
    pathological posting list; ``merge_salted`` fuses them afterwards.
    The groupBy keys (bucket, salt) give ~n_buckets×n_salts groups —
    size n_buckets so groups ≈ 2-4× parallelism at the target scale.

    Input is ``postings.build_postings_packed`` output: positions travel
    the shuffle as packed bytes and the kernel splices them.

    ``n_docs`` is the doc count of ``postings`` and bounds every term's
    df. Every present term has df >= 1, so a threshold below 1 makes
    every term hot, and one at or above ``n_docs`` makes none hot
    (``may_salt``): in both cases the hot set is exact without the
    df-count exchange. Between the two the count re-reads ``postings``.
    """
    doc_salt = F.pmod(F.xxhash64("doc_id"), F.lit(n_salts)).cast("int")
    if not may_salt(salt_threshold, n_docs):
        salted = postings.withColumn("salt", F.lit(0))
    elif salt_threshold < 1:
        salted = postings.withColumn("salt", doc_salt)
    else:
        df_per_term = postings.groupBy("term_id").agg(F.count("*").alias("_df"))
        hot = df_per_term.filter(F.col("_df") > salt_threshold).select("term_id")
        salted = (
            postings.join(F.broadcast(hot.withColumn("_hot", F.lit(True))), "term_id", "left")
            .withColumn(
                "salt", F.when(F.col("_hot").isNotNull(), doc_salt).otherwise(F.lit(0))
            )
            .drop("_hot")
        )
    salted = salted.withColumn(
        "bucket", F.pmod(F.xxhash64("term_id"), F.lit(n_buckets)).cast("int")
    )
    return salted.groupBy("bucket", "salt").applyInArrow(
        _encode_kernel_packed, SEGMENT_SCHEMA
    )


def merge_term_rows(
    term_id: int, doc_ids: np.ndarray, tf: np.ndarray, title_end: np.ndarray, blobs: np.ndarray
) -> codec.EncodedBucket:
    """Read-merge ONE term's segment rows (salts or generations) into one
    encoded row. The arguments are the rows' arrays and blob bytes, each
    concatenated in row order; each doc's position bytes are found from
    the varint end bits (``codec.position_spans``) and the one writer
    sorts by doc_id and splices them untouched, so block-max metadata
    stays consistent and nothing is varint-decoded. The merge kernel of
    ``merge_salted`` (compaction) and the driver fetch of a multi-row term
    (``wand.fetch_term_segments``) both call it."""
    starts, lens = codec.position_spans(blobs, tf)
    return codec.encode_postings(
        np.full(len(doc_ids), term_id), doc_ids, title_end, tf, starts, lens, blobs
    )


def _merge_kernel(table: pa.Table) -> pa.Table:
    """applyInArrow kernel: merge one term's segment rows (salts or
    generations) into one salt-0 row (``merge_term_rows``)."""
    t = table.combine_chunks()
    doc_ids, tf, title_end = (
        t.column(c).chunk(0).flatten().to_numpy() for c in ("doc_ids", "tf", "title_end")
    )
    offsets, data = _binary_buffers(t.column("blob"))
    raw = data[offsets[0] : offsets[-1]]
    eb = merge_term_rows(t.column("term_id")[0].as_py(), doc_ids, tf, title_end, raw)
    return _segment_table(eb, t.column("bucket")[0].as_py(), 0)


def merge_salted(segments: DataFrame) -> DataFrame:
    """Fuse every term with more than one segment row into one global
    blob.

    Only terms with >1 row (the hot, salted ones, or terms spread over
    several streaming generations) pass through the merge kernel;
    everything else is a zero-cost passthrough, so this stage costs one
    broadcast semi/anti join."""
    multi = (
        segments.groupBy("term_id")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .select("term_id")
    )
    singles = segments.join(F.broadcast(multi), "term_id", "left_anti")
    multis = segments.join(F.broadcast(multi), "term_id", "left_semi")
    merged = multis.groupBy("term_id").applyInArrow(_merge_kernel, SEGMENT_SCHEMA)
    return singles.unionByName(merged)


@dataclass
class IndexMeta:
    n_docs: int
    n_buckets: int
    n_shards: int
    fingerprint: str
    avgdl: float  # mean token (bigram) count per doc — BM25 length norm


def doc_length_expr(title_col: str = "title", body_col: str = "body") -> F.Column:
    """Token (bigram) count of a document — pure column expression, exactly
    the vectorized tokenizer's emission count: for each maximal CJK/alnum
    run of length L, L-1 bigrams, summed over title + body.

    Computed as len(text) - len(text with each run collapsed to one
    char): ONE regexp_replace per field - the regexp_extract_all +
    higher-order-aggregate form materialized an array per row and
    added ~120 CPU-seconds to a 160k-doc build. Rides the
    doc-store write (no extra job, no Python)."""

    def _count(col: str) -> F.Column:
        c = F.col(col)
        return (
            F.length(c) - F.length(F.regexp_replace(c, "[\u4e00-\u9fa5A-Za-z0-9]+", "X"))
        ).cast("long")

    return (_count(title_col) + _count(body_col)).alias("dl")


@dataclass(frozen=True)
class DocStats:
    """What a doc-store write observes: the lineage id (count + order-free
    sum of 60-bit content sha256 prefixes), the doc count, and Σdl."""

    fingerprint: str
    n_docs: int
    sum_dl: int


def _doc_stats_columns() -> list[F.Column]:
    """One definition for the observation on a doc-store write and the
    aggregate of a resumed build, so both give the same fingerprint."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.conv(F.substring("content_sha256", 1, 15), 16, 10).cast("decimal(38,0)")
        ).alias("s"),
        F.sum("dl").alias("sdl"),
    ]


def _doc_stats(row) -> DocStats:
    return DocStats(f"{row['n']}:{row['s']}", int(row["n"]), int(row["sdl"] or 0))


def _read_doc_stats(docs: DataFrame) -> DocStats:
    """``DocStats`` of a written doc store, in one job."""
    return _doc_stats(docs.agg(*_doc_stats_columns()).collect()[0])


def _write_doc_store(docs: DataFrame, path: str) -> DocStats:
    """Commit documents to ``path`` with their token count ``dl``; the
    count, fingerprint and Σdl ride the write job (``observe``), so no
    job re-reads them. 8 MB parquet row groups: later map stages split
    files at row-group granularity, so split sizing stays data-adaptive
    even if the file count is wrong for a future cluster size."""
    obs = Observation()
    docs.withColumn("dl", doc_length_expr()).observe(obs, *_doc_stats_columns()).write.mode(
        "overwrite"
    ).option("parquet.block.size", str(8 << 20)).parquet(path)
    return _doc_stats(obs.get)


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.jsonl")


def _scan_manifest(path: str) -> tuple[list[dict], int]:
    """(rows, byte length of the intact prefix) of a manifest file.

    Rows are appended one line per write, so a build killed mid-append
    leaves a torn FINAL line: it is treated as not written. An
    unparseable line anywhere else is corruption and raises."""
    if not os.path.exists(path):
        return [], 0
    with open(path, "rb") as f:
        lines = f.read().splitlines(keepends=True)
    rows: list[dict] = []
    size = 0
    for i, line in enumerate(lines):
        try:
            rows.append(json.loads(line))
        except ValueError:
            if i == len(lines) - 1:
                break
            raise ValueError(f"{path}: malformed manifest line {i + 1}") from None
        size += len(line)
    return rows, size


def manifest_rows(index_dir: str) -> list[dict]:
    """Every manifest row in append order: batch shard rows (``shard``),
    streaming generation rows (``gen``) and compaction records
    (``compact``)."""
    return _scan_manifest(_manifest_path(index_dir))[0]


def read_manifest(index_dir: str) -> dict[int, dict]:
    """Batch-build shard rows keyed by shard; the last row per shard wins."""
    return {r["shard"]: r for r in manifest_rows(index_dir) if "shard" in r}


def append_manifest(index_dir: str, row: dict) -> None:
    """Append one row, first dropping a torn final line left by a killed
    writer (so it never becomes a malformed line in the middle)."""
    path = _manifest_path(index_dir)
    _rows, size = _scan_manifest(path)
    with open(path, "a+b") as f:
        f.truncate(size)
        f.seek(max(size - 1, 0))
        sep = b"\n" if size and f.read(1) != b"\n" else b""
        f.write(sep + json.dumps(row).encode() + b"\n")


def write_meta(index_dir: str, meta: dict) -> None:
    """Publish ``meta.json``, stamped with ``SEGMENT_FORMAT``, atomically
    (temp file + ``os.replace``): a kill mid-write leaves the previous
    meta, never a truncated one."""
    path = os.path.join(index_dir, "meta.json")
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({**meta, "format": SEGMENT_FORMAT}, f)
    os.replace(tmp, path)


def read_meta(index_dir: str) -> dict:
    """``meta.json`` of an index; one without ``avgdl`` predates the
    ``dl`` column in every doc store, and one of another ``format`` has
    other segment columns: both are rejected."""
    path = os.path.join(index_dir, "meta.json")
    with open(path) as f:
        meta = json.load(f)
    if "avgdl" not in meta:
        raise ValueError(
            f"{path} has no avgdl: the index predates per-document lengths "
            "(dl) in its doc store. Rebuild the index directory."
        )
    if meta.get("format") != SEGMENT_FORMAT:
        raise ValueError(
            f"{path} has segment format {meta.get('format', 1)}, and this engine "
            f"reads format {SEGMENT_FORMAT} (doc ids, tf and title_end as arrays). "
            "Rebuild the index directory."
        )
    return meta


def _read_segments(spark: SparkSession, index_dir: str) -> DataFrame:
    """Every segment row of an index: batch ``shard=K`` or streaming
    ``gen=N`` directories (the partition column comes along)."""
    root = os.path.join(index_dir, "segments")
    return spark.read.option("basePath", root).parquet(root)


def _write_segments(seg: DataFrame, path: str) -> dict[str, int]:
    """Write segment rows to ``path``. Returns the manifest stats
    (n_terms, n_postings, blob_bytes), observed on the write job."""
    obs = Observation()
    seg.observe(
        obs,
        F.count(F.lit(1)).alias("n_terms"),
        F.sum("df").alias("n_postings"),
        F.sum(F.length("blob")).alias("blob_bytes"),
    ).write.mode("overwrite").options(**_SEGMENT_WRITER).parquet(path)
    return {k: int(v or 0) for k, v in obs.get.items()}


def _lexicon_of(segments: DataFrame) -> DataFrame:
    """Lexicon rows (term_id, bucket, df, ctf, term) of segment rows. A
    term may have one row per salt and per generation, so df and ctf are
    sums (exact: a doc lives in exactly one salt and one generation)."""
    from .postings import term_str_expr

    return (
        segments.groupBy("term_id", "bucket")
        .agg(F.sum("df").alias("df"), F.sum("ctf").alias("ctf"))
        .withColumn("term", term_str_expr(F.col("term_id")))
    )


def _build_session(
    spark: SparkSession, docs_path: str, n_buckets: int, n_salts: int
) -> SparkSession:
    """A session for a build's encode, layout and lexicon plans: the
    caller's runtime settings plus the build's task sizing. Set on the
    caller's session instead, the sizing would also apply to every query
    planned there during the build. ``newSession`` inherits the builder's
    settings but not runtime ``conf.set`` values, hence the copy."""
    build = spark.newSession()
    for key, value in spark.conf.getAll.items():
        if spark.conf.isModifiable(key):
            build.conf.set(key, value)

    # --- task granularity, adaptive to cluster size AND data size --------
    # Both knobs below were measured to dominate 2-vs-8-core scaling when
    # fixed: a 128 MB split target serializes the tokenize map into ~9
    # tasks (one 35-40 s straggler each pass), while a constant 256-way
    # everything makes a 2-core build pay ~700 task overheads. Targets:
    # ~4 waves of map tasks per core, and encode partitions sized by
    # positions volume (spill safety at scale) but floored by parallelism.
    cores = spark.sparkContext.defaultParallelism
    docs_bytes = 0
    for root, _dirs, files in os.walk(docs_path):
        docs_bytes += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    split_bytes = min(max(docs_bytes // max(4 * cores, 1), 4 << 20), 128 << 20)
    # The encode shuffle must be partitioned by DATA VOLUME, not core
    # count: at shuffle.partitions == 8 a 320k-doc build spills every
    # reduce task (291 s); at >= n_buckets each (bucket, salt) group lands
    # in its own small task (70 s). Upper bound: one (bucket, salt) group
    # is the unsplittable encode unit, so partitions beyond
    # n_buckets*n_salts cannot add parallelism.
    n_enc = int(
        min(
            max(4 * cores, (docs_bytes * 2) >> 26),  # ~2x text bytes / 64 MB
            max(n_buckets * n_salts, 4 * cores),
        )
    )
    build.conf.set("spark.sql.shuffle.partitions", str(n_enc))
    # The encode shuffle is deliberately partitioned as computed above; AQE
    # coalescing would fold it back to ~core-count partitions (measured: 9
    # tasks from 256 configured at 160k docs, one 28 s straggler), which
    # destroys scaling. Skew-join splitting stays on.
    build.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    build.conf.set("spark.sql.files.maxPartitionBytes", str(split_bytes))
    # low open-cost so many small files pack densely instead of inflating
    # the split count on tiny corpora
    build.conf.set("spark.sql.files.openCostInBytes", str(256 << 10))
    return build


def write_index(
    documents: DataFrame,
    index_dir: str,
    n_buckets: int = 64,
    n_shards: int = 4,
    n_salts: int = 8,
    salt_threshold: int = 250_000,
    merge_hot: bool = False,
) -> IndexMeta:
    """Full persisted index build with shard-level resume.

    Each shard covers buckets {b : b % n_shards == shard}; a shard whose
    manifest row is complete with a matching fingerprint is skipped on
    re-run (kill-and-resume without recomputation).

    The pending shards share ONE encode exchange and its tokenize pass
    (a second tokenize feeds the df count when ``salt_threshold`` lies
    between 1 and the doc count, see ``build_segments``); only each
    shard's layout shuffle, write and manifest row are its own. A kill
    during the shared encode therefore loses the in-flight work of every
    pending shard, while completed shards stay skipped. The encode,
    layout and lexicon plans run on a session of their own
    (``_build_session``), so the caller's session keeps its settings.

    ``merge_hot=True`` fuses each hot term's salted sub-segments into one
    blob at build time (explicit compaction); the default leaves them
    segmented and lets the query path read-merge.
    """
    from pyspark import StorageLevel

    from .postings import build_postings_packed

    spark = documents.sparkSession
    sc = spark.sparkContext
    os.makedirs(index_dir, exist_ok=True)
    # the caller's job label, restored when the build ends
    prev_desc = sc.getLocalProperty("spark.job.description")

    def _phase(label: str) -> None:
        # labels jobs in the Spark UI / event log (profiling self-ID)
        sc.setJobDescription(f"write_index:{label}")

    # Write the doc store FIRST, then tokenize the written parquet:
    # re-reading the logical input would recompute the whole upstream
    # pipeline (corpus gen + parse + doc_id assignment — measured 22 s at
    # 80k docs). The manifest fingerprint therefore guards the doc STORE's
    # lineage; re-running against a changed input with a stale index_dir
    # requires clearing the directory (documented resume contract).
    docs_path = os.path.join(index_dir, "documents")
    if os.path.exists(os.path.join(docs_path, "_SUCCESS")):
        stats = _read_doc_stats(spark.read.parquet(docs_path))
    else:
        _phase("doc-store write")
        # Even doc-store files sized to the CLUSTER: the postings map
        # stage reads these files as its splits (parquet row-groups don't
        # sub-split), so few/uneven files = few/straggler map tasks no
        # matter how many cores exist (measured: a range-partitioned
        # 8-file store gave a 7-task map with one 40 s straggler at 160k
        # docs — the dominant term in the 2-vs-8-core scaling gap). The
        # count scales with parallelism, not a constant: a fixed 256 made
        # a local[2] build pay ~700 task overheads for nothing.
        n_doc_files = max(4 * sc.defaultParallelism, 16)
        stats = _write_doc_store(documents.repartition(n_doc_files), docs_path)
    done = {
        s: m for s, m in read_manifest(index_dir).items()
        if m.get("status") == "complete" and m.get("fingerprint") == stats.fingerprint
        and m.get("format") == SEGMENT_FORMAT
    }
    pending = [s for s in range(n_shards) if s not in done]

    build = _build_session(spark, docs_path, n_buckets, n_salts)
    # ONE tokenize pass feeds the encode of every pending shard. The shard
    # of a posting is known only after tokenizing (it is a hash of the
    # term), so a resumed build filters the tokenizer's output to the
    # pending shards' buckets before the encode exchange.
    postings = build_postings_packed(build.read.parquet(docs_path))
    if len(pending) < n_shards:
        postings = postings.filter(
            f"pmod(xxhash64(term_id), {sql_literal(n_buckets, 'int')})"
            f" % {sql_literal(n_shards, 'int')} IN ({sql_list(pending, 'bigint')})"
        )
    # NOT cached: the map-side tokenize recomputes in ~seconds, while
    # caching 10^7+ list-column rows costs far more than the recompute
    # (measured 21.5 s to fill vs 2.7 s to recompute at 320k docs) and
    # reading the row-format cache back is slower than the Arrow pipeline.
    # Re-measured for packed rows on the df-count path (320k docs,
    # n_shards=2, salt_threshold n_docs//8, local[4], 4 GB heap): caching
    # them lost 4 of 5 alternating builds, median 49.3 s vs 46.6 s. So a
    # threshold between 1 and n_docs still tokenizes twice: once for the
    # count, once for the encode.

    # ONE encode exchange for every pending shard
    encoded = build_segments(
        postings, n_buckets, n_salts, salt_threshold, n_docs=stats.n_docs
    )
    if len(pending) > 1 or merge_hot:
        # each shard's write (and merge_salted, which refers to its input
        # three times) reads the encoded rows: compact, already-compressed
        # blobs, cheap to keep; released in the finally block
        encoded = encoded.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # Layout shuffle before each write: the encode runs WIDE (hundreds
        # of partitions — see ``_build_session``), but a point-lookup
        # query pays a parquet footer read per segment FILE (measured: 256
        # files pushed query p50 from 25 ms to 230 ms). Re-shuffle the
        # blobs into a few files keyed by CONTIGUOUS bucket ranges, sorted
        # by (bucket, term_id), so bucket-pruned fetches touch one file
        # and row-group/page stats stay tight. At real scale this becomes
        # a bucketed table (bucketBy) instead.
        n_files = max(8, min(32, n_buckets))
        fid = F.expr(f"int(bucket * {n_files} / {n_buckets})")
        for shard in pending:
            t0 = time.time()
            # the first pending shard's jobs also run the shared encode
            _phase(f"shard {shard} encode")
            seg = encoded.filter(F.col("bucket") % n_shards == shard)
            # Default: salted sub-segments stay on disk as-is (Lucene-style
            # — indexes need not be fully fused). With this engine's bigram
            # vocabulary (~4k ASCII pairs), at corpus scale EVERY term is
            # hot, and fusing a term's sub-segments is a single task of
            # O(df) — the one non-parallelizable step. The query path
            # read-merges a term's parts at fetch (LRU-cached), so skipping
            # the fuse trades a per-term constant at query time for a fully
            # parallel build. merge_hot fuses them before the layout, which
            # applies to the written form.
            if merge_hot:
                seg = merge_salted(seg)
            seg_stats = _write_segments(
                seg.repartition(n_files, fid).sortWithinPartitions("bucket", "term_id"),
                os.path.join(index_dir, "segments", f"shard={shard}"),
            )
            wall_ms = int((time.time() - t0) * 1000)
            append_manifest(index_dir, {"shard": shard, "status": "complete",
                                        "fingerprint": stats.fingerprint,
                                        "format": SEGMENT_FORMAT,
                                        "wall_ms": wall_ms, **seg_stats})
        _phase("lexicon")
        _lexicon_of(_read_segments(build, index_dir)).write.mode("overwrite").parquet(
            os.path.join(index_dir, "lexicon")
        )
    finally:
        encoded.unpersist()
        sc.setJobDescription(prev_desc)

    meta = {"n_docs": stats.n_docs, "n_buckets": n_buckets, "n_shards": n_shards,
            "fingerprint": stats.fingerprint, "avgdl": stats.sum_dl / max(stats.n_docs, 1)}
    write_meta(index_dir, meta)
    # Everything (doc store, segments, lexicon, manifest) is durable now:
    # release the doc-id assignment's persisted intermediates so repeated
    # builds in one app don't accumulate executor storage (ADVICE r2).
    # Re-consuming the in-memory documents DF afterwards recomputes the
    # rank instead of reading cache — correct, just slower.
    release_assign_cache()
    return IndexMeta(**meta)


def empty_result_df(spark: SparkSession) -> DataFrame:
    """Empty (doc_id, score, rank) as limit(0) over a 1-row Arrow
    LocalRelation. Both ``createDataFrame([], schema)`` and an
    empty-pandas source compile to parallelized-RDD plans whose every
    collect() runs a real multi-task job (~300 ms measured); the folded
    local relation collects driver-side (~20 ms)."""
    pdf = pd.DataFrame(
        {
            "doc_id": np.zeros(1, np.int64),
            "score": np.zeros(1, np.float64),
            "rank": np.zeros(1, np.int64),
        }
    )
    return spark.createDataFrame(pdf).limit(0)


class LruCache:
    """Minimal LRU (reference: util/buffer.go:13-49, 100k entries). No TTL —
    entries are keyed to an immutable index handle, so they never go stale
    (an improvement over the reference's 60 s TTL, which exists only
    because its store mutates in place). Thread-safe: every query on a
    ``DiskIndex`` shares its caches, and another thread's eviction in the
    middle of an unlocked ``get`` or ``put`` raises ``KeyError``."""

    def __init__(self, maxsize: int = 100_000) -> None:
        from collections import OrderedDict

        self._d: "OrderedDict[object, object]" = OrderedDict()
        self._maxsize = maxsize
        self._lock = threading.Lock()

    def __contains__(self, k) -> bool:
        with self._lock:
            return k in self._d

    def get(self, k):
        with self._lock:
            if k not in self._d:
                return None
            self._d.move_to_end(k)
            return self._d[k]

    def put(self, k, v) -> None:
        with self._lock:
            self._d[k] = v
            self._d.move_to_end(k)
            if len(self._d) > self._maxsize:
                self._d.popitem(last=False)


@dataclass
class DiskIndex:
    """Handle to a persisted index. DataFrame handles are created once
    (file listing + schema resolution are not free); term segments and
    site-filter results are LRU-cached — the disk analog of the
    reference's LRU-fronted BoltDB accessors (boltdb-index.go:82-113)."""

    spark: SparkSession
    index_dir: str
    meta: IndexMeta

    def __post_init__(self) -> None:
        # a streaming doc store has generation-keyed dirs (a gen column)
        docs_path = os.path.join(self.index_dir, "documents")
        self._documents = self.spark.read.parquet(docs_path).drop("gen")
        self._segments = _read_segments(self.spark, self.index_dir)
        self._lexicon = None
        self.segment_cache = LruCache(100_000)
        self.df_cache = LruCache(1_000_000)  # term_id -> df (metadata only)
        # term_id -> wand._TermMeta: block metadata for the executor top-k
        # prune setup: ≤ ~160 KB for a small term (its rows' arrays and
        # their sorted copy) and ~64 KB per shipped row of a bigger one
        # (see wand.SMALL_TERM_POSTINGS)
        self.prune_meta_cache = LruCache(4_096)
        self.site_cache = LruCache(10_000)
        self.site_count_cache = LruCache(100_000)  # site -> doc count (one long)
        self._empty_result = None
        self._dl = None

    def clear_caches(self) -> None:
        """Drop the per-query LRUs (segments, df and prune metadata, site
        filters) so the next query pays the cold fetch path. Load-time
        state survives: the DataFrame handles, meta, and the dl sidecar
        (``_dl``) are index-load costs, not per-query costs. Used by
        bench.py to time COLD queries between reps (ADVICE r2)."""
        self.segment_cache = LruCache(100_000)
        self.df_cache = LruCache(1_000_000)
        self.prune_meta_cache = LruCache(4_096)
        self.site_cache = LruCache(10_000)
        self.site_count_cache = LruCache(100_000)

    def prime(self, term_ids: list[int] | None = None) -> int:
        """Prefetch term metadata into the driver LRUs at index-load time
        (verdict r4 #7 — the cold-query floor).

        A cold search pays two Spark jobs: the term metadata scan
        (``wand._scan_term_meta``, one job with no shuffle) and the blob
        fetch; both are dominated by fixed job overhead at serving
        latency. Priming moves the first one to index-load time, so a
        cold query's critical path is the blob fetch alone.

        ``term_ids`` routes through that same bucket-pruned scan (ONE
        job) and fills both the df and the prune-metadata LRUs, so a
        primed executor top-k also skips its metadata job. Pass the
        term_ids of the serving query log at a 100-TB lexicon.

        ``term_ids=None`` primes the ENTIRE lexicon's (term_id, df)
        pairs — read from the ``lexicon`` view, a groupBy over the
        segment METADATA columns (the parquet reader never touches blob
        bytes), TWO jobs (the aggregate's shuffle map stage, then the
        collect). It fills the df LRU only: an executor top-k on such a
        handle still runs the metadata scan once for its terms. Viable
        while the lexicon fits the 1M-entry LRU (sf0.1: ~100k bigrams;
        the CJK bigram space itself is bounded). Returns the number of
        terms primed. Absent terms still miss (only present terms have
        metadata rows); ``clear_caches`` drops primed state like any
        other cache."""
        if term_ids is not None:
            from .wand import _df_of_terms

            return len(_df_of_terms(self, term_ids))
        rows = self.lexicon.select("term_id", "df").collect()
        for r in rows:
            self.df_cache.put(int(r["term_id"]), int(r["df"]))
        return len(rows)

    def doc_length_df(self) -> DataFrame:
        """(doc_id, dl) as a DataFrame — the doc-partitioned BM25 length
        sidecar. This is what the EXECUTOR-SIDE scoring path joins against
        (never collected)."""
        return self._documents.select("doc_id", "dl")

    def doc_lengths(self):
        """(doc_ids sorted asc, dl) int64 arrays — BM25 length norm.

        The whole ``dl`` column is held driver-side (16 bytes/doc) — which
        is why the score-ordered query family only uses this below the
        ``wand.MAX_DRIVER_DOCS`` valve; above it the distributed twin
        joins ``doc_length_df`` executor-side and the driver never holds
        more than the k winners.
        """
        if self._dl is None:
            rows = self.doc_length_df().collect()
            ids = np.array([r["doc_id"] for r in rows], np.int64)
            dl = np.array([r["dl"] for r in rows], np.int64)
            order = np.argsort(ids)
            self._dl = (ids[order], dl[order])
        return self._dl

    def empty_result(self) -> DataFrame:
        """Shared empty (doc_id, score, rank).

        See ``empty_result_df`` for why it is NOT ``createDataFrame([],
        schema)``."""
        if self._empty_result is None:
            self._empty_result = empty_result_df(self.spark)
        return self._empty_result

    @property
    def documents(self) -> DataFrame:
        return self._documents

    @property
    def lexicon(self) -> DataFrame:
        """(term_id, bucket, df, ctf, term): ``_lexicon_of`` this handle's
        segment listing, so it always agrees with ``segments``. Built on
        first access — planning it costs load time a query never needs."""
        if self._lexicon is None:
            self._lexicon = _lexicon_of(self._segments)
        return self._lexicon

    @property
    def segments(self) -> DataFrame:
        return self._segments


def load_index(spark: SparkSession, index_dir: str) -> DiskIndex:
    m = read_meta(index_dir)
    return DiskIndex(
        spark,
        index_dir,
        IndexMeta(
            m["n_docs"], m["n_buckets"], m["n_shards"], m["fingerprint"], float(m["avgdl"])
        ),
    )


def index_stats(di: DiskIndex) -> DataFrame:
    """Monitor stats from index METADATA only — the Spark analog of the
    reference's ``/monitor`` endpoint (index/api/api.go:31-40:
    ``IndexedDocCount`` / ``TokenCount`` / ``IndexFileSize``; the host
    CPU/memory gauges there are the cluster manager's job under Spark).

    Everything is served off control-plane artifacts, never posting
    blobs: ``meta.json`` (n_docs, avgdl, layout), ``manifest.jsonl``
    shard rows (shards_complete, and blob_bytes observed on each shard's
    write; a streaming index has no shard rows and reports 0), and one
    aggregate over the lexicon view (n_terms / n_postings / total_ctf /
    max_df — segment metadata columns only), plus one executor-side SUM
    over the doc store's ``dl`` column for total_dl. At 10^12 docs this
    is one column scan + O(1) folds; nothing scales with postings size.

    Returns a single row:
      n_docs, n_terms, n_postings, total_ctf, max_df, total_dl  (BIGINT —
        all recountable from the raw corpus, which is how the driver
        oracle value-checks the monitor path end to end)
      avgdl (DOUBLE), n_buckets, n_shards, shards_complete, blob_bytes
        (layout/codec facts — asserted internally by pytest instead:
        blob_bytes matches the manifest, avgdl == total_dl / n_docs).
    """
    complete = [
        m for m in read_manifest(di.index_dir).values() if m.get("status") == "complete"
    ]
    # n_postings is the df fold: a doc lives in exactly one salt and one
    # generation, so it counts distinct (doc, term) pairs
    lex = di.lexicon.agg(
        F.count("*").alias("n_terms"),
        F.sum("df").alias("n_postings"),
        F.sum("ctf").alias("total_ctf"),
        F.max("df").alias("max_df"),
    ).collect()[0]
    total_dl = int(
        di.doc_length_df().agg(F.sum("dl").alias("s")).collect()[0]["s"] or 0
    )
    row = (
        int(di.meta.n_docs),
        int(lex["n_terms"]),
        int(lex["n_postings"] or 0),
        int(lex["total_ctf"] or 0),
        int(lex["max_df"] or 0),
        total_dl,
        float(di.meta.avgdl),
        int(di.meta.n_buckets),
        int(di.meta.n_shards),
        len(complete),
        sum(int(m.get("blob_bytes", 0)) for m in complete),
    )
    return di.spark.createDataFrame(
        [row],
        "n_docs bigint, n_terms bigint, n_postings bigint, total_ctf bigint, "
        "max_df bigint, total_dl bigint, avgdl double, n_buckets bigint, "
        "n_shards bigint, shards_complete bigint, blob_bytes bigint",
    )
