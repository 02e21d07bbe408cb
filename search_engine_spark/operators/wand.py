"""Query execution over the columnar segment index.

Two query families over one ``DiskIndex``:

- ``search_segments`` — the reference-semantics pipeline (SURVEY §3.2):
  conjunctive intersection per keyword (numpy ``intersect1d`` over the
  sorted ``doc_ids`` arrays — the vectorized equivalent of the Go
  leapfrog, search.go:215-238), AND/NOT folds, site filter,
  50-lowest-docId truncation, TF-IDF + phrase/title boosts
  (search.go:248-267, 419-429), positions decoded only for the first
  keyword's terms, the ones it scores. A query's segment rows are
  fetched via a bucket-pruned + term-filtered parquet scan (partition
  pruning on ``shard``/``bucket``; predicate pushdown on ``term_id``),
  the Spark analog of the reference's point KV gets. Above the driver
  valves the same semantics run as an executor plan
  (``_search_segments_distributed``).

- the score-ordered top-k (north rule; ABSENT in the reference, which
  scores exhaustively): disjunctive S = Σ_t c(t, d) over the query
  terms, with c the TF-IDF or the BM25 contribution of one ``_Scorer``
  (no phrase/title boosts — bounds for the boosted score are not tight
  enough to prune). ``topk_wand`` / ``topk_bm25_wand`` run one
  block-max loop on the driver: elementary doc ranges from all terms'
  block boundaries, visited in descending bound order, reading blocks
  lazily and stopping as soon as the best remaining bound cannot beat
  the running k-th score. Above the driver valves they run
  ``topk_scores_many``'s executor plan on a one-query set — the one
  executor top-k plan, which prunes blocks before it explodes postings.

Every executor plan reads doc ids and tf as JVM expressions over the
segment rows' arrays (``_postings``: ``inline(arrays_zip(doc_ids,
tf))``, kept blocks as ``slice`` ranges): the scoring plan, the theta
probe and, with ``explode(doc_ids)``, the executor ``search_segments``
candidates. No Python runs in them; the one Python stage left is the
executor search winners' position decode. Each top-k plan carries its
own block counts (``_Pruning``), which the executor route of
``topk_wand`` / ``topk_bm25_wand`` reports in ``last_stats``.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..functions import codec
from ..functions.sqltext import sql_list, sql_literal, sql_map
from ..functions.tokenizer import tokenize_query
from .search import parse_query
from .segments import DiskIndex, merge_term_rows

PER_SHARD_LIMIT = 50
BLOCK_SIZE = codec.BLOCK_SIZE

_SEGMENT_COLUMNS = (
    "term_id", "df", "doc_ids", "tf", "title_end", "blob", "block_last", "block_max_tf"
)


@dataclass
class TermSegment:
    """One term's postings on the driver: its segment rows merged, the
    arrays as numpy, positions still varint bytes in ``blob``."""

    term_id: int
    df: int
    doc_ids: np.ndarray
    tf: np.ndarray
    title_end: np.ndarray
    blob: bytes
    block_last: np.ndarray
    block_max_tf: np.ndarray
    _positions: tuple | None = None

    def winners(self, docs: np.ndarray):
        """(tf, title_end, positions per doc) of ``docs``, all of them
        postings of this term. The term's positions are decoded once and
        kept with the LRU-cached segment, so a warm query only slices."""
        if self._positions is None:
            flat = codec.decode_positions(self.blob, self.tf, self.title_end)
            self._positions = (flat, np.cumsum(self.tf) - self.tf)
        flat, starts = self._positions
        idx = np.searchsorted(self.doc_ids, docs)
        tf = self.tf[idx]
        return tf, self.title_end[idx], [flat[s : s + n] for s, n in zip(starts[idx], tf)]


def fetch_term_segments(di: DiskIndex, term_ids: list[int]) -> dict[int, TermSegment]:
    """Bucket-pruned, term-filtered segment fetch for a query's terms.

    The bucket of each term is computed DRIVER-SIDE with the xxhash64
    reimplementation (Spark parity, functions/xxhash.py), so the fetch is
    a single job whose parquet scan prunes to the query's buckets
    (partition/row-group pruning) and pushes the term_id filter down —
    the scan-S3 analog of the reference's point KV gets
    (boltdb-index.go:130-132). Rows come back as Arrow, so the arrays
    reach numpy without a Python object per posting."""
    if not term_ids:
        return {}
    # LRU in front of the segment store — the reference fronts BoltDB with
    # 100k-entry LRUs (boltdb-index.go:82-113, util/buffer.go:13-49). Ours
    # needs no TTL: segments are immutable for a given DiskIndex handle.
    # Misses are cached too (None) so absent terms don't re-scan.
    cache = di.segment_cache
    missing = [t for t in term_ids if t not in cache]
    if missing:
        table = _term_rows(di, missing).select(*_SEGMENT_COLUMNS).toArrow()
        fetched: dict[int, list] = {t: [] for t in missing}
        for i, tid in enumerate(table.column("term_id").to_pylist()):
            fetched[tid].append(
                {c: _arrow_value(table.column(c)[i]) for c in _SEGMENT_COLUMNS}
            )
        for t, rs in fetched.items():
            cache.put(t, _rows_to_segment(t, rs))
    return {
        t: seg for t in term_ids if (seg := cache.get(t)) is not None
    }


def _arrow_value(scalar):
    """A fetched Arrow cell as numpy (lists) or Python (scalars, bytes)."""
    if hasattr(scalar, "values"):
        return scalar.values.to_numpy(zero_copy_only=False).astype(np.int64)
    return scalar.as_py()


def _term_rows(di: DiskIndex, term_ids: list[int]) -> DataFrame:
    """The segment rows of ``term_ids``: a scan pruned to their buckets
    (computed driver-side) with the term_id filter pushed down. Both
    filters are one SQL text (``sqltext``), so the plan costs the same
    few Py4J round trips however many terms it carries."""
    from ..functions.xxhash import bucket_of_term

    buckets = sorted({bucket_of_term(t, di.meta.n_buckets) for t in term_ids})
    return di.segments.filter(
        f"bucket IN ({sql_list(buckets, 'int')})"
        f" AND term_id IN ({sql_list(term_ids, 'bigint')})"
    )


def _rows_to_segment(tid: int, rs: list[dict]) -> TermSegment | None:
    """Fetched segment rows of one term -> TermSegment (None if absent);
    a term's salts or generations are read-merged (``merge_term_rows``)."""
    if not rs:
        return None
    r = rs[0]
    if len(rs) > 1:
        r = merge_term_rows(
            tid,
            *(np.concatenate([x[c] for x in rs]) for c in ("doc_ids", "tf", "title_end")),
            np.frombuffer(b"".join(x["blob"] for x in rs), np.uint8),
        ).row(0)
    return TermSegment(**{c: r[c] for c in _SEGMENT_COLUMNS})


@dataclass
class _TermMeta:
    """Query-independent metadata of one term, folded over its segment
    rows (salts, generations); an absent term has df = 0. ``rows`` holds
    the block arrays of every row with df ≤ ``SMALL_TERM_POSTINGS``;
    ``lo``/``hi``/``bmax`` hold every block of the term, sorted by
    ``hi``, and are set only for SMALL terms (total df ≤ the limit)."""

    df: int
    max_tf: int = 0  # largest block_max_tf: the term's single-posting bound
    min_tf: int = 0  # smallest block_max_tf: its weakest block's bound
    blocks: int = 0  # blocks of all its rows
    rows: list = field(default_factory=list)  # (block_last, block_max_tf) per small row
    lo: np.ndarray | None = None  # block start, widened (``_block_lo``)
    hi: np.ndarray | None = None  # block_last
    bmax: np.ndarray | None = None  # block_max_tf


def _block_lo(blast: np.ndarray) -> np.ndarray:
    """Block doc-range starts of one segment row: the previous block's end
    + 1. The first block's true start is unknown without reading the
    row's doc ids, so it widens to 0 (widening only weakens pruning)."""
    lo = np.empty_like(blast)
    if blast.size:
        lo[0] = 0
        lo[1:] = blast[:-1] + 1
    return lo


def _fold_term_meta(rs: list) -> _TermMeta:
    """Collected metadata rows of one term -> _TermMeta."""
    df = sum(int(r["df"]) for r in rs)
    if df == 0:
        return _TermMeta(0)
    meta = _TermMeta(
        df,
        max(int(r["max_tf"]) for r in rs),
        min(int(r["min_tf"]) for r in rs),
        sum(-(-int(r["df"]) // BLOCK_SIZE) for r in rs),
        [
            (np.asarray(r["block_last"], np.int64), np.asarray(r["block_max_tf"], np.int64))
            for r in rs
            if r["block_last"] is not None
        ],
    )
    if df <= SMALL_TERM_POSTINGS:
        lo = np.concatenate([_block_lo(h) for h, _ in meta.rows])
        hi = np.concatenate([h for h, _ in meta.rows])
        bmax = np.concatenate([b for _, b in meta.rows])
        order = np.argsort(hi, kind="mergesort")
        meta.lo, meta.hi, meta.bmax = lo[order], hi[order], bmax[order]
    return meta


def _scan_term_meta(di: DiskIndex, term_ids: list[int]) -> dict[int, _TermMeta]:
    """The ONE metadata job of a cold query: a bucket-pruned, term-filtered
    collect of per-ROW metadata — df and the block_max_tf extremes, plus
    the block arrays of rows with df ≤ ``SMALL_TERM_POSTINGS``. No
    aggregate, hence no shuffle: the driver folds a term's rows itself.
    The parquet reader never touches posting arrays or blob bytes. Fills
    ``di.df_cache`` and ``di.prune_meta_cache``; absent terms cache as
    df = 0."""
    small = f"df <= {sql_literal(SMALL_TERM_POSTINGS, 'bigint')}"
    rows = (
        _term_rows(di, term_ids)
        .selectExpr(
            "term_id",
            "df",
            "array_max(block_max_tf) AS max_tf",
            "array_min(block_max_tf) AS min_tf",
            f"CASE WHEN {small} THEN block_last END AS block_last",
            f"CASE WHEN {small} THEN block_max_tf END AS block_max_tf",
        )
        .collect()
    )
    per_tid: dict[int, list] = {t: [] for t in term_ids}
    for r in rows:
        per_tid[int(r["term_id"])].append(r)
    out = {t: _fold_term_meta(rs) for t, rs in per_tid.items()}
    for t, m in out.items():
        di.df_cache.put(t, m.df)
        di.prune_meta_cache.put(t, m)
    return out


def _term_meta(di: DiskIndex, term_ids: list[int]) -> dict[int, _TermMeta]:
    """Per-term metadata, LRU-cached; scans only the terms not cached."""
    cache = di.prune_meta_cache
    got = {t: m for t in term_ids if (m := cache.get(t)) is not None}
    missing = [t for t in term_ids if t not in got]
    if missing:
        got.update(_scan_term_meta(di, missing))
    return got


def _df_of_terms(di: DiskIndex, term_ids: list[int]) -> dict[int, int]:
    """Per-term df (0 for absent terms), LRU-cached. A miss runs the
    metadata scan (``_scan_term_meta``), which also fills the prune
    metadata the executor top-k plans read next."""
    cache = di.df_cache
    got = {t: v for t in term_ids if (v := cache.get(t)) is not None}
    missing = [t for t in term_ids if t not in got]
    if missing:
        got.update((t, m.df) for t, m in _scan_term_meta(di, missing).items())
    return got


# Pruning margin protecting the oracle's 6-dp tie ordering: a block is
# skipped only when its best possible total is MORE than one rounding
# quantum below theta, so a pruned doc's true score rounds strictly below
# the k-th winner's and can never tie into the oracle's top k.
PRUNE_EPS = 1e-6

# Segment rows with at most this many postings ship their block metadata
# (block_last and block_max_tf) to the driver, which computes their kept
# block ranges; a term whose rows sum to at most this many is SMALL: its
# block doc ranges gate its help to other terms' blocks, so hot terms'
# blocks only receive "help" from a rare term where the rare term
# actually has postings. Bigger terms contribute their max help
# unconditionally (their idf — hence their help — is small by
# construction), and bigger rows keep blocks by a SQL filter over their
# own block_max_tf. A row of df postings has ceil(df/128) blocks, so its
# arrays hold at most 4096 blocks, 16 bytes each in ``_TermMeta``: ~64 KB
# per row (a small term also holds its sorted copy), bounded by the
# rows per term (salts × generations), independent of corpus size.
SMALL_TERM_POSTINGS = 524_288


@dataclass
class _OverlapMeta:
    """Doc-range metadata of one SMALL query term, for the existence test
    "does term t' have any posting in doc range [lo, hi]?": block
    intervals sorted by end; ``Lsuf[j]`` = min start over intervals j..n.
    Overlap with [lo, hi] ⇔ j = first interval with H >= lo exists and
    Lsuf[j] <= hi."""

    H: np.ndarray  # block_last, sorted asc (across generations)
    Lsuf: np.ndarray
    ub: float  # the term's max single-posting contribution


def _keep_rule(
    ub: np.ndarray,
    lo: np.ndarray,
    hi: np.ndarray,
    rest: float,
    helpers: list[_OverlapMeta],
    theta: float,
) -> np.ndarray:
    """The block keep rule of the pruned scoring plan and of the
    void-probe check: block [lo, hi] of term t, with single-posting bound
    ``ub``, is kept iff::

        ub + rest + Σ_{h ∈ helpers, h has a block overlapping [lo, hi]} h.ub
          >= theta − PRUNE_EPS

    ``rest`` is the unconditional help of t's big co-terms (``big_rest``)
    and ``helpers`` the overlap metadata of its small co-terms, in term-id
    order so every caller sums in the same order."""
    helpv = np.full(hi.size, float(rest))
    for om in helpers:
        if om.H.size == 0:
            continue
        j = np.searchsorted(om.H, lo, side="left")
        ex = j < om.H.size
        ex &= om.Lsuf[np.minimum(j, om.H.size - 1)] <= hi
        helpv += np.where(ex, om.ub, 0.0)
    return (ub + helpv) >= theta - PRUNE_EPS


@dataclass
class _Pruning:
    """One scoring plan's block selection and block counts. ``ranges``:
    a partly kept small row, named by (term_id, block_last[0]) — a term's
    rows hold disjoint doc sets — → its kept [1-based start, length]
    posting ranges. ``min_tf``: term → the least block_max_tf its bigger
    rows keep, in SQL. ``kept`` counts the kept blocks the driver knows:
    every row's, or only the small rows' when ``observed`` counts the
    bigger rows' as the plan runs."""

    total: int
    kept: int
    ranges: dict = field(default_factory=dict)
    min_tf: dict = field(default_factory=dict)
    observed: Observation | None = None

    def stats(self) -> dict:
        """The plan's ``blocks_total`` / ``blocks_decoded`` (its kept
        blocks); read once the plan has run."""
        kept = self.kept
        if self.observed is not None:
            kept += int(self.observed.get["kept"] or 0)
        return {"blocks_total": self.total, "blocks_decoded": kept}


def _prune(
    sc: _Scorer,
    meta: dict[int, _TermMeta],
    idfs: dict[int, float],
    term_specs: dict[int, list[dict]],
    overlap: dict[int, _OverlapMeta],
) -> _Pruning:
    """The block selection of the scoring plan for a set of queries (one
    or many). Block b of term t (doc range [lo_b, hi_b] from the
    block_last sidecar, lo widened by ``_block_lo``) is kept iff ANY
    query using t still needs it::

        keep_t[b] = ∨_{q ∋ t} [ ub_t(b) + big_rest_q[t]
                      + Σ_{t' ∈ small(q), t'≠t, t' overlaps [lo_b, hi_b]} ub_{t'}
                      >= theta_q − PRUNE_EPS ]

    i.e. a doc in the block could reach q's running k-th score given the
    help actually available in its doc range: rare terms' help is gated
    on a metadata-only overlap test (``_OverlapMeta``), hot terms' (whose
    idf — hence help — is small) is granted unconditionally (big_rest).
    The driver evaluates it on every row whose block arrays the metadata
    scan shipped (df ≤ ``SMALL_TERM_POSTINGS``). A bigger row is filtered
    in SQL over its own block_max_tf with every small co-term's help
    granted: a superset of the rule's blocks.

    ``term_specs[t]`` lists one spec per query using t: ``{"theta",
    "big_rest": {t: float}, "small": [t, ...]}`` (small in term-id order).
    A spec with theta = −inf (single-term query, or a probe
    ``_plan_probe`` rules out) keeps every block of its terms.

    Soundness, per query: a doc's true total is bounded by its own
    block's term bound plus, per other term, that term's max
    contribution IF it overlaps the block's range (a term with no
    posting in the range contributes 0). So any doc with true total >=
    theta_q keeps every one of its blocks under q's own criterion and its
    sum stays exact, while a doc that lost a block for q has true total
    < theta_q − ε and sorts (and 6-dp-rounds) strictly below q's k-th
    winner even on its partial sum. Blocks kept only because ANOTHER
    query needs them add candidates to q, but only ones that rank below
    q's winners: the OR is a superset of each query's own keep set. (The
    reference read path, search.go:187-273, scores exhaustively; the
    pruning is the north-rule upgrade at cluster scale.)
    """
    prune = _Pruning(sum(m.blocks for m in meta.values()), 0)
    big_blocks = 0
    for t, m in meta.items():
        specs = term_specs.get(t, [])
        big = m.blocks - sum(h.size for h, _ in m.rows)
        big_blocks += big
        if not specs or any(not math.isfinite(s["theta"]) for s in specs):
            prune.kept += m.blocks - big
            continue

        def keep_of(ub, lo, hi, t=t, specs=specs):
            keep = np.zeros(hi.size, bool)
            for spec in specs:
                keep |= _keep_rule(
                    ub, lo, hi, spec["big_rest"][t],
                    [overlap[t2] for t2 in spec["small"] if t2 != t], spec["theta"],
                )
                if keep.all():
                    break
            return keep

        for blast, bmax in m.rows:
            keep = keep_of(sc.block_bound(bmax, idfs[t]), _block_lo(blast), blast)
            prune.kept += int(keep.sum())
            if not keep.all():
                edges = np.flatnonzero(np.diff(np.concatenate([[0], keep, [0]]).astype(np.int8)))
                prune.ranges[(t, int(blast[0]))] = [
                    [int(b0) * BLOCK_SIZE + 1, int(b1 - b0) * BLOCK_SIZE]
                    for b0, b1 in zip(edges[::2], edges[1::2])
                ] or [[1, 0]]
        if big:
            # every help granted: each helper overlaps [0, max]
            tfs = np.arange(1, m.max_tf + 1)
            ends = np.full(tfs.size, np.iinfo(np.int64).max)
            keep = keep_of(sc.block_bound(tfs, idfs[t]), np.zeros_like(tfs), ends)
            prune.min_tf[t] = int(np.argmax(keep)) + 1 if keep.any() else m.max_tf + 1
    if not prune.min_tf:
        prune.kept += big_blocks
    return prune


def _postings(seg_rows: DataFrame, prune: _Pruning | None = None) -> DataFrame:
    """Segment rows → (term_id, doc_id, tf) postings, as JVM expressions
    over the rows' arrays: ``inline(arrays_zip(doc_ids, tf))``, tf being
    the doc's position count for the term (the reference's tf,
    search.go:423). With a ``prune``, each row's kept postings are
    ``slice`` ranges of its arrays: the driver's ``ranges`` for a small
    row; for a bigger one a range per block, empty where its block_max_tf
    is below the term's ``min_tf``, counted by ``prune.observed``."""
    zipped = "arrays_zip(doc_ids, tf)"
    if prune is not None and (prune.ranges or prune.min_tf):
        r = "array(array(1, size(doc_ids)))"
        if prune.ranges:
            ranges = "map({})".format(", ".join(
                f"named_struct('t', {sql_literal(t, 'bigint')}, 'b', {sql_literal(b, 'bigint')}),"
                f" {sql_literal(kept, 'array<array<int>>')}"
                for (t, b), kept in sorted(prune.ranges.items())
            ))
            row = "named_struct('t', term_id, 'b', block_last[0])"
            r = f"coalesce(element_at({ranges}, {row}), {r})"
        big = f"df > {sql_literal(SMALL_TERM_POSTINGS, 'bigint')}"
        if prune.min_tf:
            min_tf = f"coalesce(element_at({sql_map(prune.min_tf, 'bigint', 'int')}, term_id), 0)"
            r = (
                f"CASE WHEN {big} THEN transform(block_max_tf, (m, b) -> array("
                f"b * {BLOCK_SIZE} + 1, IF(m >= {min_tf}, {BLOCK_SIZE}, 0))) ELSE {r} END"
            )
        seg_rows = seg_rows.selectExpr("term_id", "df", "doc_ids", "tf", f"{r} AS _r")
        if prune.min_tf:
            prune.observed = Observation()
            seg_rows = seg_rows.observe(
                prune.observed,
                F.expr(f"sum(IF({big}, size(filter(_r, r -> r[1] > 0)), 0))").alias("kept"),
            )
        zipped = "arrays_zip({})".format(", ".join(
            f"flatten(transform(_r, r -> slice({c}, r[0], r[1])))" for c in ("doc_ids", "tf")
        ))
    return seg_rows.selectExpr("term_id", f"inline({zipped}) AS (doc_id, tf)")


def _winner_positions(seg_rows: DataFrame, docs: np.ndarray) -> DataFrame:
    """Executor-side positions of a FIXED small doc set (the ≤50
    truncation winners) — (term_id, doc_id, title_end, positions). The
    JVM keeps only the rows holding a winner (``arrays_overlap``); per
    row, only the winners' position bytes are varint-decoded
    (``codec.decode_positions``), found from tf and the varint end bits.
    The one Python stage of executor search."""
    import pyarrow as pa

    cand = np.asarray(docs, np.int64)

    def kernel(batches):
        for batch in batches:
            out = [[], [], [], []]
            for i in range(batch.num_rows):
                docs_i, tf, te = (
                    batch.column(c)[i].values.to_numpy(zero_copy_only=False)
                    for c in ("doc_ids", "tf", "title_end")
                )
                idx = np.flatnonzero(np.isin(docs_i, cand, assume_unique=True))
                flat = codec.decode_positions(batch.column("blob")[i].as_py(), tf, te, idx)
                out[0] += [batch.column("term_id")[i].as_py()] * idx.size
                out[1] += docs_i[idx].tolist()
                out[2] += te[idx].tolist()
                out[3] += np.split(flat, np.cumsum(tf[idx])[:-1]) if idx.size else []
            if out[0]:
                yield pa.record_batch(
                    [
                        pa.array(values, typ)
                        for values, typ in zip(
                            out, (pa.int64(), pa.int64(), pa.int32(), pa.list_(pa.int64()))
                        )
                    ],
                    names=["term_id", "doc_id", "title_end", "positions"],
                )

    return (
        seg_rows.filter(f"arrays_overlap(doc_ids, array({sql_list(cand, 'bigint')}))")
        .select("term_id", "doc_ids", "tf", "title_end", "blob")
        .mapInArrow(kernel, "term_id long, doc_id long, title_end int, positions array<long>")
    )


def _search_segments_distributed(
    di: DiskIndex, pq, dfs: dict[int, int], per_shard: int, num_shards: int = 1
) -> DataFrame:
    """Executor-side twin of the driver query path — identical semantics,
    different physical plan:

    - candidate sets per keyword or exclusion: its own pruned scan →
      ``explode(doc_ids)`` → groupBy(doc_id) HAVING count = m — the
      shuffle is on doc_id, skew-free, and no Python runs;
    - AND / NOT folds: left_semi / left_anti joins;
    - ``site:``: pruned semi join against the doc store's parsed host
      (no driver-side doc-id collect);
    - truncation: orderBy(doc_id).limit(50) — Catalyst plans TakeOrdered,
      each partition contributes its 50 lowest, no global sort;
    - scoring: only the ≤50 winners' positions are decoded
      (``_winner_positions``) and collected, then scored by the driver
      route's ``_score_docs`` with the metadata df.

    Driver memory is O(candidates + winners' positions), never O(df).
    """
    empty = di.empty_result
    kw_tokens = [tokenize_query(kw) for kw in pq.keywords]
    ex_tokens = [tokenize_query(ex) for ex in pq.exclusions]
    for qt in kw_tokens:
        if not qt or any(dfs.get(t, 0) <= 0 for t, _ in qt):
            return empty()  # unanswerable keyword => empty (search.go:190-211)
    ex_tokens = [
        qt for qt in ex_tokens if qt and all(dfs.get(t, 0) > 0 for t, _ in qt)
    ]

    def cand(qt) -> DataFrame:
        # each side reads its own pruned scan: a filter above one shared
        # explode would not push down, and every side would read every term
        tids = sorted({t for t, _ in qt})
        return (
            _term_rows(di, tids)
            .selectExpr("explode(doc_ids) AS doc_id")
            .groupBy("doc_id")
            .agg(F.count("*").alias("_nt"))
            .filter(F.col("_nt") == len(tids))
            .select("doc_id")
        )

    base = cand(kw_tokens[0])
    for qt in kw_tokens[1:]:
        base = base.join(cand(qt), "doc_id", "left_semi")
    for qt in ex_tokens:
        base = base.join(cand(qt), "doc_id", "left_anti")
    if pq.site:
        from .search import host_of

        allowed = di.documents.filter(
            host_of(F.col("url")).endswith(pq.site)
        ).select("doc_id")
        base = base.join(allowed, "doc_id", "left_semi")

    if num_shards <= 1:
        winners = base.orderBy("doc_id").limit(per_shard).collect()
    else:
        from pyspark.sql import Window

        ws = Window.partitionBy(
            F.pmod(F.col("doc_id"), F.lit(num_shards))
        ).orderBy("doc_id")
        winners = (
            base.withColumn("_rn", F.row_number().over(ws))
            .filter(F.col("_rn") <= per_shard)
            .select("doc_id")
            .collect()
        )
    docs = np.array(sorted(r["doc_id"] for r in winners), np.int64)
    if docs.size == 0:
        return empty()

    k0_tids = sorted({t for t, _ in kw_tokens[0]})
    pos_rows = _winner_positions(_term_rows(di, k0_tids), docs).collect()
    # every winner holds every first-keyword term: each term's rows,
    # doc-sorted, line up with ``docs``
    by_term: dict[int, list] = {t: [] for t in k0_tids}
    for r in sorted(pos_rows, key=lambda r: r["doc_id"]):
        by_term[r["term_id"]].append(r)
    winners = {}
    for tid, rows in by_term.items():
        positions = [np.array(r["positions"], np.int64) for r in rows]
        tf = np.array([p.size for p in positions], np.int64)
        te = np.array([r["title_end"] for r in rows], np.int64)
        winners[tid] = (dfs[tid], tf, te, positions)
    return _score_docs(di, winners, pq.keywords[0], docs)


def _keyword_candidates(segs: dict[int, TermSegment], keyword: str) -> np.ndarray | None:
    """Conjunctive doc set for one keyword; None => keyword unanswerable."""
    qtokens = tokenize_query(keyword)
    if not qtokens:
        return None
    arrs = []
    for tid, _ in qtokens:
        if tid not in segs:
            return None
        arrs.append(segs[tid].doc_ids)
    arrs.sort(key=len)  # rarest-first (search.go:193-196)
    cand = arrs[0]
    for a in arrs[1:]:
        if cand.size == 0:
            break
        cand = cand[np.isin(cand, a, assume_unique=True)]
    return cand


def _score_docs(
    di: DiskIndex, winners: dict[int, tuple], keyword: str, docs: np.ndarray
) -> DataFrame:
    """Reference scoring for the given docs (search.go:248-267, 419-429),
    as (doc_id, score, rank) ranked score desc / doc_id asc: a pandas →
    Arrow LocalRelation, driver-local, no job. ``winners[t]`` is (df, tf,
    title_end, positions per doc) of term t, aligned with ``docs``."""
    qtokens = tokenize_query(keyword)
    term_ids = [t for t, _ in qtokens]
    cursors = [(tid, b) for tid, bases in qtokens for b in bases]
    # S = sum over distinct terms
    S = np.zeros(docs.size)
    for tid in term_ids:
        df, tf, _, _ = winners[tid]
        S += (1.0 + np.log(tf.astype(np.float64))) * math.log(di.meta.n_docs / df)
    scores = np.zeros(docs.size)
    for i in range(docs.size):
        for title in (True, False):
            aligned = None
            for tid, base in cursors:
                _, _, te, positions = winners[tid]
                p = positions[i]
                fpos = (p[: te[i]] if title else p[te[i] :]) - base
                aligned = fpos if aligned is None else np.intersect1d(aligned, fpos)
                if aligned.size == 0:
                    break
            pc = aligned.size if aligned is not None else 0
            part = S[i]
            if pc > 0:
                part *= 3.0 + math.log(pc)
            if title:
                part *= 3.0
            scores[i] += part
    import pandas as pd

    order = np.lexsort((docs, -scores))
    return di.spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": docs[order],
                "score": scores[order],
                "rank": np.arange(1, order.size + 1, dtype=np.int64),
            }
        )
    )


# Above this many total postings across the query's terms, the driver
# path (collect whole term blobs) is replaced by the executor-side path:
# candidates + truncation computed as a Spark plan, only the <=50 winners'
# positions ever reach the driver. Keeps driver memory bounded for a term
# with df ~ n_docs at 100 TB.
MAX_DRIVER_POSTINGS = 2_000_000

# The BM25 driver path additionally caches the whole dl column (16
# bytes/doc); above this corpus size the score-ordered queries always take
# the distributed plan, where dl stays a doc-partitioned sidecar joined
# executor-side (DiskIndex.doc_length_df) and the driver holds only the k
# winners.
MAX_DRIVER_DOCS = 2_000_000

# The driver ``site:`` path collects the site's whole doc-id set into an
# LRU (O(site) driver memory — a crawl of one large host at 100 TB could
# be millions of ids). Above this many docs for the site, the query takes
# the distributed route instead, where the site filter is a pruned semi
# join executor-side. The count itself is ONE aggregate job (a single
# long to the driver), cached per site (verdict r4 #4).
MAX_DRIVER_SITE_DOCS = 100_000


def _site_doc_count(di: DiskIndex, site: str) -> int:
    """Doc count of a site suffix — one metadata aggregate over the doc
    store (only a count crosses to the driver), LRU-cached per site so
    repeat queries on the same site pay it once per index handle."""
    cached = di.site_count_cache.get(site)
    if cached is not None:
        return cached
    from .search import host_of

    n = di.documents.filter(host_of(F.col("url")).endswith(site)).count()
    di.site_count_cache.put(site, n)
    return n


def search_segments(
    di: DiskIndex,
    query: str,
    per_shard: int = PER_SHARD_LIMIT,
    max_driver_postings: int = MAX_DRIVER_POSTINGS,
    num_shards: int = 1,
    max_driver_site_docs: int = MAX_DRIVER_SITE_DOCS,
) -> DataFrame:
    """Reference-semantics search over the compressed disk index.

    Returns a DataFrame (doc_id, score, rank) ranked score desc /
    doc_id asc after the 50-lowest-docId truncation (engine.go:65 →
    web/service/search.go:192-203, intended AND semantics SURVEY §7.4.4).

    Hot-term safety valve: when the query's terms sum to more than
    ``max_driver_postings`` postings (df column, checked via a pruned
    metadata scan), execution switches to ``_search_segments_distributed``
    — same semantics, executor-side decode/intersection/truncation.

    Hot-site safety valve (verdict r4 #4): a ``site:`` query whose site
    spans more than ``max_driver_site_docs`` documents (one cached count
    aggregate — never the id set) also routes distributed, where the
    site filter is an executor-side semi join; the driver path's
    O(site)-sized allowed-doc collect only runs for sites under the
    bound (or already LRU-resident)."""
    empty = di.empty_result
    pq = parse_query(query)
    if not pq.keywords:
        return empty()

    need: set[int] = set()
    for kw in pq.keywords + pq.exclusions:
        need.update(t for t, _ in tokenize_query(kw))
    need_sorted = sorted(need)
    dfs = None
    # size check skipped when every term's blob is already LRU-resident
    if not all(t in di.segment_cache for t in need_sorted):
        dfs = _df_of_terms(di, need_sorted)
        if sum(dfs.values()) > max_driver_postings:
            return _search_segments_distributed(di, pq, dfs, per_shard, num_shards)
    if (
        pq.site
        and di.site_cache.get(pq.site) is None
        and _site_doc_count(di, pq.site) > max_driver_site_docs
    ):
        if dfs is None:
            dfs = _df_of_terms(di, need_sorted)
        return _search_segments_distributed(di, pq, dfs, per_shard, num_shards)
    segs = fetch_term_segments(di, need_sorted)

    base = _keyword_candidates(segs, pq.keywords[0])
    if base is None:
        return empty()
    for kw in pq.keywords[1:]:
        nxt = _keyword_candidates(segs, kw)
        if nxt is None:
            return empty()
        base = base[np.isin(base, nxt, assume_unique=True)]
    for ex in pq.exclusions:
        drop = _keyword_candidates(segs, ex)
        if drop is not None:
            base = base[~np.isin(base, drop, assume_unique=True)]
    if pq.site:
        # per-site allowed-doc set, LRU-cached (the reference LRU-caches
        # doc→url lookups, boltdb-index.go:94-101; we cache the whole
        # site's doc set since the index is immutable). At corpus scale
        # the doc store would instead be written host-bucketed so this
        # scan prunes to the site's files.
        allowed = di.site_cache.get(pq.site)
        if allowed is None:
            from .search import host_of

            allowed = np.array(
                [
                    r["doc_id"]
                    for r in di.documents.filter(
                        host_of(F.col("url")).endswith(pq.site)
                    )
                    .select("doc_id")
                    .collect()
                ],
                np.int64,
            )
            di.site_cache.put(pq.site, allowed)
        base = base[np.isin(base, allowed)]
    if num_shards <= 1:
        base = base[:per_shard]  # candidates are docId-ascending already
    else:
        # multi-index-server emulation (engine.go:64-65): each shard
        # (doc_id % num_shards) keeps ITS 50 lowest docIds; fan-in is the
        # concatenation (web/service/search.go:147-151)
        parts = [base[base % num_shards == s][:per_shard] for s in range(num_shards)]
        base = np.sort(np.concatenate(parts)) if parts else base
    if base.size == 0:
        return empty()
    k0_tids = {t for t, _ in tokenize_query(pq.keywords[0])}
    winners = {t: (segs[t].df, *segs[t].winners(base)) for t in k0_tids}
    return _score_docs(di, winners, pq.keywords[0], base)


# --------------------------------------------------------------------------
# Score-ordered top-k (disjunctive S scoring; BM25 is the north-rule
# upgrade, selectable alongside the reference's TF-IDF)
# --------------------------------------------------------------------------

BM25_K1 = 1.2
BM25_B = 0.75


@dataclass(frozen=True)
class _Scorer:
    """The per-posting contribution c(t, d) of the score-ordered family,
    S(d) = Σ_t c(t, d), on one corpus:

    - TF-IDF (the reference's S, search.go:248-267):
      c = (1 + ln tf)·ln(N/df);
    - BM25: c = idf·tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)) with
      Lucene's idf (``_bm25_idf``).

    The expression trees match the DuckDB oracle's term for term, so
    float64 results agree bit for bit."""

    bm25: bool
    n_docs: int
    avgdl: float = 0.0

    @staticmethod
    def of(di: DiskIndex, scorer: str) -> _Scorer:
        if scorer == "bm25":
            return _Scorer(True, di.meta.n_docs, di.meta.avgdl)
        return _Scorer(False, di.meta.n_docs)

    def idf(self, df: int) -> float:
        if self.bm25:
            return _bm25_idf(self.n_docs, df)
        return math.log(self.n_docs / df)

    def contrib(self, tf: np.ndarray, idf: float, dl=0.0) -> np.ndarray:
        """c of postings with these tf (and, for BM25, dl) values."""
        tf = tf.astype(np.float64)
        if self.bm25:
            return idf * (
                tf * (BM25_K1 + 1.0)
                / (tf + BM25_K1 * (1.0 - BM25_B + BM25_B * (dl / self.avgdl)))
            )
        return (1.0 + np.log(tf)) * idf

    def block_bound(self, bmax: np.ndarray, idf: float) -> np.ndarray:
        """Single-posting bound of blocks from their block_max_tf sidecar:
        c increases in tf and (BM25) decreases in dl, so dl → 0 bounds
        every doc of a block — the same bound on the driver and the
        executor route; TF-IDF is exact in tf."""
        return self.contrib(bmax, idf)

    def scored_rows(
        self, di: DiskIndex, tf_rows: DataFrame, idfs: dict[int, float]
    ) -> DataFrame:
        """(term_id, doc_id, tf) rows → (term_id, doc_id, c), c as one
        SQL expression with idf a literal map over ``idfs`` (bit-exact
        doubles, ``functions/sqltext.py``). BM25 first joins the
        doc-partitioned dl sidecar (``DiskIndex.doc_length_df``, never
        collected). The operands keep ``contrib``'s association, each
        constant on the right of its operator, so the float64 results
        match it bit for bit."""
        idf = f"element_at({sql_map(idfs, 'bigint', 'double')}, term_id)"
        tf = "CAST(tf AS DOUBLE)"
        if self.bm25:
            tf_rows = tf_rows.join(di.doc_length_df(), "doc_id")
            dl = "CAST(dl AS DOUBLE)"
            k1, b, k1_1, one_b, avgdl = (
                sql_literal(v, "double")
                for v in (BM25_K1, BM25_B, BM25_K1 + 1.0, 1.0 - BM25_B, self.avgdl)
            )
            c = (
                f"{idf} * (({tf} * {k1_1})"
                f" / ({tf} + (((({dl} / {avgdl}) * {b}) + {one_b}) * {k1})))"
            )
        else:
            c = f"(ln({tf}) + 1.0D) * {idf}"
        return tf_rows.selectExpr("term_id", "doc_id", f"{c} AS c")


def _bm25_idf(n_docs: int, df: int) -> float:
    """Lucene-form BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)) — always
    positive, mirrored exactly in the SQL oracle."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def _route_distributed(di: DiskIndex, term_ids: list[int], max_driver_postings: int) -> bool:
    """True when the score-ordered query must leave the driver: corpus too
    big for the dl cache, or the query's terms exceed the postings valve.
    Terms already LRU-resident skip the metadata scan (same fast path as
    ``search_segments``)."""
    if di.meta.n_docs > MAX_DRIVER_DOCS:
        return True
    if all(t in di.segment_cache for t in term_ids):
        return False
    dfs = _df_of_terms(di, term_ids)
    return sum(dfs.values()) > max_driver_postings


def _topk_blockmax(
    di: DiskIndex, query: str, k: int, max_driver_postings: int, scorer: str
) -> tuple[list[tuple[int, float]], dict]:
    """The block-max loop of both driver entry points: (top k as
    [(doc_id, S)], pruning stats).

    Elementary doc ranges come from all terms' block boundaries, each
    bounded by the sum of its overlapping blocks' ``block_bound``. Ranges
    are visited in descending bound order, reading blocks lazily, until
    the best remaining bound cannot beat the running k-th score — every
    skipped block's postings are never scored. Above the driver valves (sum
    df > ``max_driver_postings`` or corpus > ``MAX_DRIVER_DOCS``) the
    query runs as the executor plan instead (``_executor_topk``): same
    result, driver memory O(k)."""
    tids = sorted({t for t, _ in tokenize_query(query)})
    if _route_distributed(di, tids, max_driver_postings):
        return _executor_topk(di, query, k, scorer)
    segs = fetch_term_segments(di, tids)
    if not segs:
        return [], {"blocks_total": 0, "blocks_decoded": 0}
    if scorer == "bm25":
        ids, dl = di.doc_lengths()
    sc = _Scorer.of(di, scorer)
    term_list = list(segs.values())
    idfs = {s.term_id: sc.idf(s.df) for s in term_list}

    # elementary doc-range segments from all block boundaries
    seg_hi = np.unique(np.concatenate([s.block_last for s in term_list]))  # inclusive
    seg_lo = np.empty_like(seg_hi)
    seg_lo[0] = 0
    seg_lo[1:] = seg_hi[:-1] + 1

    # per range, per term: overlapping block index (or -1)
    bounds = np.zeros(seg_hi.size)
    blk_of = {}
    for s in term_list:
        bi = np.searchsorted(s.block_last, seg_lo, side="left")
        in_range = bi < s.block_last.size
        bi_c = np.clip(bi, 0, s.block_last.size - 1)
        bounds[in_range] += sc.block_bound(s.block_max_tf[bi_c[in_range]], idfs[s.term_id])
        blk_of[s.term_id] = np.where(in_range, bi_c, -1)

    order = np.argsort(-bounds, kind="mergesort")
    top: list[tuple[float, int]] = []  # (score, doc)
    theta = -math.inf
    read: set[tuple[int, int]] = set()
    blocks_total = int(sum(s.block_last.size for s in term_list))

    for r in order:
        if bounds[r] < theta and len(top) >= k:
            break  # every remaining range is strictly bounded below theta
        lo, hi = int(seg_lo[r]), int(seg_hi[r])
        doc_acc: dict[int, float] = {}
        for s in term_list:
            b = int(blk_of[s.term_id][r])
            if b < 0:
                continue
            read.add((s.term_id, b))
            doc_ids = s.doc_ids[b * BLOCK_SIZE : (b + 1) * BLOCK_SIZE]
            npos = s.tf[b * BLOCK_SIZE : (b + 1) * BLOCK_SIZE]
            m = (doc_ids >= lo) & (doc_ids <= hi)
            if not m.any():
                continue
            d_sel = doc_ids[m]
            dld = dl[np.searchsorted(ids, d_sel)].astype(np.float64) if sc.bm25 else 0.0
            contrib = sc.contrib(npos[m], idfs[s.term_id], dld)
            for d, c in zip(d_sel.tolist(), contrib.tolist()):
                doc_acc[d] = doc_acc.get(d, 0.0) + c
        top.extend((v, d) for d, v in doc_acc.items())
        if len(top) > k:
            top.sort(key=lambda x: (-x[0], x[1]))
            del top[k:]
        if len(top) >= k:
            theta = top[-1][0]
    top.sort(key=lambda x: (-x[0], x[1]))
    stats = {"blocks_total": blocks_total, "blocks_decoded": len(read)}
    return [(d, score) for score, d in top[:k]], stats


def topk_wand(
    di: DiskIndex,
    query: str,
    k: int = 10,
    max_driver_postings: int = MAX_DRIVER_POSTINGS,
) -> list[tuple[int, float]]:
    """Block-max pruned TF-IDF top-k: [(doc_id, S)] — equals the
    exhaustive sum in ``tests/exhaustive.py``. Records pruning stats on
    the function attribute ``last_stats``: blocks_total / blocks_decoded
    on either route, plus ``"path": "distributed"`` and the query's
    ``theta`` on the executor route (``_executor_topk``)."""
    top, topk_wand.last_stats = _topk_blockmax(
        di, query, k, max_driver_postings, "tfidf"
    )
    return top


def topk_bm25_wand(
    di: DiskIndex,
    query: str,
    k: int = 10,
    max_driver_postings: int = MAX_DRIVER_POSTINGS,
) -> list[tuple[int, float]]:
    """Block-max pruned BM25 top-k — equals the exhaustive sum in
    ``tests/exhaustive.py``. The block bound needs only the block_max_tf
    sidecar (``_Scorer.block_bound``, dl → 0); on the executor route dl
    is joined executor-side. Records ``last_stats`` like topk_wand."""
    top, topk_bm25_wand.last_stats = _topk_blockmax(
        di, query, k, max_driver_postings, "bm25"
    )
    return top


def _collect_prune_meta(
    meta: dict[int, _TermMeta],
    tids: list[int],
    idfs: dict[int, float],
    sc: _Scorer,
) -> tuple[dict[int, float], dict[int, _OverlapMeta]]:
    """Shared prune metadata, folded from the cached term metadata the
    query's df lookup already collected (``_scan_term_meta``) — no job of
    its own. Returns (ub, overlap):

    - ub[t], the term's max single-posting contribution, from its largest
      block_max_tf;
    - overlap[t], for SMALL terms (df ≤ ``SMALL_TERM_POSTINGS``), the
      block doc-range intervals as an ``_OverlapMeta``, so hot terms'
      blocks only get a small term's help where it actually has postings.

    ub is query-independent (idf depends only on (N, df)), so a query set
    computes this ONCE for the union of its terms."""
    ub = {
        t: float(sc.block_bound(np.array([meta[t].max_tf]), idfs[t])[0])
        for t in tids
    }
    overlap = {
        t: _OverlapMeta(
            H=m.hi, Lsuf=np.minimum.accumulate(m.lo[::-1])[::-1], ub=ub[t]
        )
        for t in tids
        if (m := meta[t]).hi is not None
    }
    return ub, overlap


def _plan_probe(
    tids: list[int],
    k: int,
    meta: dict[int, _TermMeta],
    idfs: dict[int, float],
    ub: dict[int, float],
    overlap: dict[int, _OverlapMeta],
    sc: _Scorer,
) -> tuple[dict[int, float], int | None]:
    """Per-query half of the prune setup: (big_rest, probe term).

    ``big_rest[t]`` = Σ ub of t's co-terms too big to ship ranges for:
    their help is granted unconditionally (high df ⇒ low idf ⇒ small
    help). The probe term is the rarest query term, or None when the
    theta probe provably cannot prune, so the plan skips it (theta = −inf)
    with identical results:

    - the probe returns −inf below k postings;
    - otherwise its theta is one contribution of the rarest term, so it
      never exceeds ub[rarest], and the keep rule only keeps more blocks
      as theta falls. If ``_keep_rule`` keeps every block of every query
      term at theta = ub[rarest], it keeps them all at the probed theta.
      Small terms are checked block by block from their cached arrays; a
      big term through its weakest block's bound and big_rest alone (its
      overlap help is ≥ 0, so leaving it out keeps fewer blocks: sound).
    """
    big_rest = {
        t: sum(ub[u] for u in tids if u != t and u not in overlap) for t in tids
    }
    rarest = min(tids, key=lambda t: meta[t].df)
    if meta[rarest].df < k:
        return big_rest, None
    one = np.zeros(1, np.int64)
    for t in tids:
        m = meta[t]
        if t in overlap:
            keep = _keep_rule(
                sc.block_bound(m.bmax, idfs[t]),
                m.lo,
                m.hi,
                big_rest[t],
                [overlap[u] for u in tids if u != t and u in overlap],
                ub[rarest],
            )
        else:
            keep = _keep_rule(
                sc.block_bound(np.array([m.min_tf]), idfs[t]),
                one,
                one,
                big_rest[t],
                [],
                ub[rarest],
            )
        if not keep.all():
            return big_rest, rarest
    return big_rest, None


def _theta_probe_many(
    di: DiskIndex,
    sc: _Scorer,
    seg_rows: DataFrame,
    probe_tids: list[int],
    idfs: dict[int, float],
    k: int,
) -> dict[int, float]:
    """Theta seed of every probe term in one job: the k-th largest
    single-term contribution of each (the per-query rarest terms,
    deduped). Returns {term_id: theta}; terms with fewer than k postings
    map to −inf (no pruning possible for queries probing through them).

    Valid lower bound: those k docs' true totals are ≥ their probe
    contributions, so the query's true k-th best total is ≥ theta. The
    per-term rank window sorts only that term's contributions — bounded
    by the probe term's df, each query's MINIMUM df by construction. With
    one probe term, TakeOrdered hands the window k rows in one partition,
    so the window needs no exchange."""
    from pyspark.sql import Window

    tf_rows = _postings(seg_rows.filter(f"term_id IN ({sql_list(probe_tids, 'bigint')})"))
    scored = sc.scored_rows(di, tf_rows, {t: idfs[t] for t in probe_tids})
    if len(probe_tids) == 1:
        scored = scored.orderBy(F.desc("c")).limit(k)
    w = Window.partitionBy("term_id").orderBy(F.desc("c"))
    rows = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == k)
        .collect()
    )
    thetas = {t: -math.inf for t in probe_tids}
    for r in rows:
        thetas[int(r["term_id"])] = float(r["c"])
    return thetas


def _batched_prune_setup(
    di: DiskIndex,
    queries: list[tuple[str, str]],
    k: int,
    sc: _Scorer,
):
    """Front half of the executor top-k plan: tokenize every query,
    resolve df/idf for the UNION of terms from ONE metadata scan (none
    when cached), build the pruned scan, and assemble the per-query prune
    specs (shared metadata, one theta probe job for the queries
    ``_plan_probe`` cannot rule out; none when it rules out all).

    Returns None when no query has an indexed term, else
    (per_q, idfs, seg_rows, prune, thetas) where ``prune`` is the scoring
    plan's ``_Pruning`` (it keeps every block when every query is
    single-term, void or thinner than k), and ``thetas`` maps each qid to
    its theta (−inf where it keeps every block)."""
    per_q = {
        qid: sorted({t for t, _ in tokenize_query(q)}) for qid, q in queries
    }
    meta = _term_meta(di, sorted({t for tids in per_q.values() for t in tids}))
    per_q = {qid: [t for t in tids if meta[t].df > 0] for qid, tids in per_q.items()}
    union = sorted({t for tids in per_q.values() for t in tids})
    if not union:
        return None
    idfs = {t: sc.idf(meta[t].df) for t in union}
    seg_rows = _term_rows(di, union)
    # single-term queries keep all their blocks (theta = -inf): their
    # probe WOULD be the whole job
    multi = {qid: tids for qid, tids in per_q.items() if len(tids) > 1}
    thetas: dict[str, float] = {qid: -math.inf for qid in per_q}
    term_specs: dict[int, list[dict]] = {}
    overlap: dict[int, _OverlapMeta] = {}
    if multi:
        ub, overlap = _collect_prune_meta(meta, union, idfs, sc)
        plans = {
            qid: _plan_probe(tids, k, meta, idfs, ub, overlap, sc)
            for qid, tids in multi.items()
        }
        probes = sorted({p for _, p in plans.values() if p is not None})
        probed = _theta_probe_many(di, sc, seg_rows, probes, idfs, k) if probes else {}
        for qid, tids in per_q.items():
            big_rest, probe = plans.get(qid, ({}, None))
            thetas[qid] = -math.inf if probe is None else probed[probe]
            spec = {
                "theta": thetas[qid],
                "big_rest": big_rest,
                "small": [t for t in tids if t in overlap],
            }
            for t in tids:
                term_specs.setdefault(t, []).append(spec)
    prune = _prune(sc, {t: meta[t] for t in union}, idfs, term_specs, overlap)
    return per_q, idfs, seg_rows, prune, thetas


def _topk_plan(
    di: DiskIndex, queries: list[tuple[str, str]], k: int, scorer: str
) -> tuple[DataFrame | None, dict[str, float], _Pruning | None]:
    """The executor top-k plan with RAW scores, (qid, doc_id, score,
    rank), each qid's theta and the plan's ``_Pruning`` (its block
    counts). The plan is None when no query has an indexed term. See
    ``topk_scores_many``."""
    from pyspark.sql import Window

    sc = _Scorer.of(di, scorer)
    setup = _batched_prune_setup(di, queries, k, sc)
    if setup is None:
        return None, {}, None
    per_q, idfs, seg_rows, prune, thetas = setup
    scored = sc.scored_rows(di, _postings(seg_rows, prune), idfs)
    # k-boundary ties are ordered by ROUND(score, 6) DESC, doc_id — the
    # oracle's tie semantics — not by raw float: partial-agg order in the
    # sum is nondeterministic, so raw scores can differ in the last ulp
    # from the oracle's fixed-order fold, flipping which of two 6-dp-tied
    # docs survives the cut (ADVICE r3).
    order = [F.round(F.col("score"), 6).desc(), F.asc("doc_id")]
    live = [qid for qid, tids in per_q.items() if tids]
    if len(live) == 1:
        # TakeOrdered emits its k rows sorted, in one partition, so a
        # row's position there is its rank
        return (
            scored.groupBy("doc_id")
            .agg(F.sum("c").alias("score"))
            .orderBy(*order)
            .limit(k)
            .select(
                F.lit(live[0]).alias("qid"),
                "doc_id",
                "score",
                (F.monotonically_increasing_id() + 1).alias("rank"),
            )
        ), thetas, prune
    # tf rows route by the query's INDEX in the set (a number the engine
    # made, so the route map is SQL text); the qid strings come back from
    # one JSON constant on the k rows per query that survive the window
    qids = list(per_q)
    routes: dict[int, list[int]] = {}
    for qi, tids in enumerate(per_q.values()):
        for t in tids:
            routes.setdefault(t, []).append(qi)
    route = F.expr(
        f"explode(element_at({sql_map(routes, 'bigint', 'array<int>')}, term_id))"
    )
    agg = (
        scored.select(route.alias("qid"), "doc_id", "c")
        .groupBy("qid", "doc_id")
        .agg(F.sum("c").alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(*order)
    qid = F.element_at(
        F.from_json(F.lit(json.dumps(qids)), "array<string>"), F.col("qid") + 1
    )
    return agg.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    ).select(qid.alias("qid"), "doc_id", "score", "rank"), thetas, prune


def _executor_topk(
    di: DiskIndex, query: str, k: int, scorer: str
) -> tuple[list[tuple[int, float]], dict]:
    """The executor route of the driver entry points: the executor top-k
    plan on a one-query set, collected with RAW scores in rank order —
    the driver holds k rows. Its stats are the scoring plan's own block
    counts (``_Pruning.stats``; the theta probe's rows are not in them)
    and the query's theta."""
    plan, thetas, prune = _topk_plan(di, [("q", query)], k, scorer)
    rows = [] if plan is None else sorted(plan.collect(), key=lambda r: r["rank"])
    stats = {
        **(prune.stats() if prune else {"blocks_total": 0, "blocks_decoded": 0}),
        "theta": thetas.get("q", -math.inf),
        "path": "distributed",
    }
    return [(int(r["doc_id"]), float(r["score"])) for r in rows], stats


def topk_scores_many(
    di: DiskIndex,
    queries: list[tuple[str, str]],
    k: int = 10,
    scorer: str = "bm25",
) -> DataFrame:
    """Executor-side disjunctive top-k: (qid, doc_id, score, rank) for
    EVERY query in ``queries`` (a [(qid, query_string), ...] list) in ONE
    pass over the postings — the only executor top-k plan. The driver
    entry points run it on a one-query set above their valves; a query
    set is the offline-evaluation shape at cluster scale (relevance
    sweeps, the reference's query-set regression run as one job instead
    of Q). The driver sees k rows per query.

    - Before the plan, ONE shuffle-free metadata scan
      (``_scan_term_meta``) serves the df, idfs and prune metadata of the
      union of the queries' terms; none runs when they are cached.
    - Pruned segment scan (bucket isin ∪buckets + term_id isin ∪terms —
      partition pruning + predicate pushdown) → BLOCK-MAX-PRUNED postings
      (term_id, doc_id, tf) as JVM expressions over the rows' arrays
      (``_postings``), once per term: each query q gets a theta_q from a
      rarest-term probe (one job for all queries; skipped when
      ``_plan_probe`` proves it cannot prune), and block b of term t is
      kept iff ANY query using t could still place a doc from b in its
      top k (``_prune`` — the result stays EXACT, see its soundness
      note). Nothing to prune → every row's arrays are zipped whole.
    - The contribution as one Column expression (``_Scorer.scored_rows``):
      BM25 joins the doc-partitioned dl sidecar ONCE, per posting, before
      any per-query fan-out.
    - One query: groupBy(doc_id).sum → orderBy(round(score,6) desc,
      doc_id).limit(k), a TakeOrdered: each partition emits its local k
      and the rank window sees k rows in one partition.
    - Several queries: tf rows route to queries through a literal
      term_id → [query index] map (explode, no routing table to
      broadcast), then groupBy(qid, doc_id).sum — one shuffle keyed by
      the PRODUCT key, so queries sharing a hot term don't concentrate on
      one reducer — and a row_number ≤ k window per query. Spark plans
      that limit as WindowGroupLimit Partial below the qid exchange, so at
      most k·partitions rows per query reach the final window, where each
      index turns back into its qid string.

    Every literal collection of the plan (term and bucket filters, idf
    and route maps) is one SQL expression (``functions/sqltext.py``), so
    building the plan costs a fixed number of Py4J round trips however
    many terms or queries it carries; qids never enter SQL text.

    No Python stage runs in the plan. Ties at the k boundary use the
    oracle's (round(score,6) DESC, doc_id) order, and scores come out
    rounded to 6 dp. Queries whose tokens match no indexed term
    contribute no rows. Query operators (``-x``/``site:``) are not
    interpreted — the score-ordered family ranks the raw token bag, like
    the driver ``topk_*`` entry points.

    Records ``last_stats = {"theta": {qid: theta}, "blocks": prune}`` on
    the function attribute: ``prune.stats()`` gives the plan's block
    counts once it has been collected (``prune`` is None when no query has
    an indexed term)."""
    plan, thetas, prune = _topk_plan(di, queries, k, scorer)
    topk_scores_many.last_stats = {"theta": thetas, "blocks": prune}
    if plan is None:
        return di.empty_result().select(
            F.lit("").alias("qid"), "doc_id", "score", "rank"
        )
    return plan.withColumn("score", F.round("score", 6))

