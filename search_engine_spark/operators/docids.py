"""Deterministic doc_id assignment.

The reference assigns dense sequential int64 docIds in arrival order
(BoltDB NextSequence, index/db/boltdb-index.go:174) — unreproducible in a
parallel system. We define (SURVEY §7.4.1):

    doc_id = row_number() OVER (ORDER BY repo, path, commit)   -- 1-based

A single global sort by a natural key. At 10^12-file scale a single-window
row_number over one partition would bottleneck on one task, so we use
``zipWithIndex``-style two-phase assignment: sort → per-partition local
ranks + a tiny driver-side prefix-sum of partition counts (one extra pass,
no single-task global window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sqltext import sql_map

DOC_KEY = ["repo", "path", "commit"]

# Ranked intermediates persisted by assign_doc_ids, newest last. They must
# outlive the call (the returned plan reads them), so they are tracked
# here instead of leaking anonymously; call release_assign_cache() once
# the assigned output has been materialized somewhere durable (e.g. the
# doc store parquet) to free executor storage.
_PERSISTED: list[DataFrame] = []


def release_assign_cache() -> None:
    """Unpersist every intermediate pinned by prior assign_doc_ids calls.

    Safe once the assigned doc_ids have been written out. The ranked
    intermediate is an eager localCheckpoint (lineage truncated), so
    re-consuming an old returned DataFrame after release FAILS LOUDLY
    (missing checkpoint blocks) instead of silently recomputing — a
    recompute could re-sample different range boundaries and mis-assign
    ids against the frozen offsets map (ADVICE r3)."""
    while _PERSISTED:
        _PERSISTED.pop().unpersist()


def assign_doc_ids(
    df: DataFrame,
    key_cols: list[str] | None = None,
    scalable: bool | None = None,
    persist_input: bool = True,
) -> DataFrame:
    """Add 1-based deterministic ``doc_id`` ordered by ``key_cols``.

    ``scalable=True`` (default for >1 partition inputs) uses range
    partitioning + per-partition offsets instead of a global single-task
    window. The input is persisted (memory-and-disk) so the range-sampling
    pass doesn't recompute an expensive upstream (corpus parse), and the
    sampled boundaries stay pinned (measured: 13.5 s → ~5 s at local[32]
    for an 80k-doc corpus). The post-shuffle ranked intermediate is
    frozen with an eager localCheckpoint, so the input is touched by
    exactly TWO jobs — range sampling and the shuffle/rank
    materialization; the final assignment reads the checkpointed
    intermediate instead of re-running the shuffle+window (was a third
    full pass — the dominant fixed cost in the 2-vs-8-core scaling gap),
    and the frozen offsets map can never face a re-sampled layout.
    """
    key_cols = key_cols or DOC_KEY
    if scalable is None:
        scalable = df.rdd.getNumPartitions() > 1

    if not scalable:
        w = Window.orderBy(*[F.col(c) for c in key_cols])
        return df.withColumn("doc_id", F.row_number().over(w).cast("long"))

    if persist_input:
        from pyspark import StorageLevel

        df = df.persist(StorageLevel.MEMORY_AND_DISK)

    # Range-partition on the key so partition i holds a contiguous key range;
    # local row_number + exclusive prefix sum of partition sizes = global rank.
    sorted_df = df.repartitionByRange(*[F.col(c) for c in key_cols]).sortWithinPartitions(*key_cols)
    with_pid = sorted_df.withColumn("_pid", F.spark_partition_id())
    w_local = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in key_cols])
    local = with_pid.withColumn("_local_rn", F.row_number().over(w_local).cast("long"))
    # Freeze the ranked intermediate with an EAGER localCheckpoint
    # (memory-and-disk, lineage TRUNCATED) — not a mere persist: the
    # offsets map below is collected from this materialization, and
    # repartitionByRange's boundary sampling is not guaranteed to
    # reproduce the same partition layout on a recompute (cache eviction,
    # executor loss), so a frozen map over a recomputed _pid layout could
    # silently mis-assign ids (ADVICE r3, medium). With the checkpoint,
    # every downstream read either hits the materialized blocks or fails
    # loudly — it can never re-sample. Applied in BOTH persist_input
    # modes (the mismatch risk is a correctness issue, not a perf knob);
    # tracked in _PERSISTED for release_assign_cache.
    local = local.localCheckpoint(eager=True)
    _PERSISTED.append(local)
    # Tiny aggregate (one row per partition), collected EAGERLY: the
    # per-partition counts become a literal exclusive-prefix-sum map, so
    # no join (broadcast or otherwise) remains in the returned plan — and
    # the input persist can be dropped right here (the checkpointed
    # intermediate now feeds everything downstream).
    counts = sorted(
        (r["_pid"], r["_cnt"])
        for r in local.groupBy("_pid").agg(F.count("*").alias("_cnt")).collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for pid, cnt in counts:
        offsets[pid] = acc
        acc += cnt
    if persist_input:
        # The input persist served its two jobs (range sampling + rank
        # materialization, both above); the checkpointed intermediate
        # feeds everything downstream, so drop the input pin right here.
        # (It was never in _PERSISTED — only the ranked intermediate
        # outlives the call.)
        df.unpersist()
    # element_at returns NULL for an unmapped _pid; the checkpoint makes
    # that unreachable, but guard anyway — a NULL here would become a
    # NULL/colliding doc_id downstream, the silent failure mode.
    off_expr = F.coalesce(
        F.expr(f"element_at({sql_map(offsets, 'int', 'bigint')}, _pid)"),
        F.raise_error(
            F.concat(
                F.lit("assign_doc_ids: partition id "),
                F.col("_pid").cast("string"),
                F.lit(" missing from the frozen offsets map"),
            )
        ).cast("long"),
    ) if offsets else F.lit(0)
    out = (
        local.withColumn("doc_id", (off_expr + F.col("_local_rn")).cast("long"))
        .drop("_pid", "_local_rn")
    )
    return out
