"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator family from SURVEY.md §2
plus the training-data pipeline operators (dedup / similarity / text
analysis / windowed events) over the driver testdata tables; each has a
value-exact DuckDB oracle in ``oracle_sql()`` (scores rounded to 6 dp on
both sides; identical column names).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark.operators import dedup as D
from search_engine_spark.operators import sampling as SAMP
from search_engine_spark.operators import events as E
from search_engine_spark.operators import multimodal as MM
from search_engine_spark.operators import similarity as SIM
from search_engine_spark.operators import textstats as TS
from search_engine_spark.operators.postings import build_documents_from_testdata
from search_engine_spark.operators.highlight import enrich_ranked
from search_engine_spark.operators.search import paginate
from search_engine_spark.operators.segments import (
    DiskIndex,
    empty_result_df,
    index_stats,
    load_index,
    write_index,
)
from search_engine_spark.operators.wand import (
    fetch_term_segments,
    search_segments,
    topk_bm25_wand,
    topk_scores_many,
)
from search_engine_spark.functions.tokenizer import term_to_id
from search_engine_spark.oracle import sqlgen

_DISK_CACHE: dict[str, DiskIndex] = {}


def _disk_index(spark: SparkSession, sf_dir: str) -> DiskIndex:
    """Compressed on-disk segment index (columnar segment rows +
    manifest), built once per sf_dir under /tmp, and built again over a
    directory of an older segment format (its shards are not resumed)."""
    if sf_dir not in _DISK_CACHE:
        import hashlib

        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        path = f"/tmp/seg_index_{tag}"
        try:
            _DISK_CACHE[sf_dir] = load_index(spark, path)
        except (FileNotFoundError, ValueError):  # not built yet, or an older format
            docs = build_documents_from_testdata(spark, sf_dir)
            write_index(docs, path, n_buckets=16, n_shards=2, n_salts=4, salt_threshold=1000)
            _DISK_CACHE[sf_dir] = load_index(spark, path)
    return _DISK_CACHE[sf_dir]


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _rounded_rank(r: DataFrame) -> DataFrame:
    """Re-rank on the 6-dp-rounded score (doc_id tiebreak) so exact score
    ties — broken only by sub-ULP float-sum-order noise — rank identically
    in any engine. The rows are a ranked result (at most 50 per shard),
    so they are ranked on the driver: an unpartitioned Window would move
    them to one partition with a warning per query."""
    import pandas as pd

    rows = sorted(
        r.select("doc_id", F.round("score", 6).alias("score")).collect(),
        key=lambda x: (-x["score"], x["doc_id"]),
    )
    if not rows:
        return empty_result_df(r.sparkSession)
    return r.sparkSession.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [x["doc_id"] for x in rows],
                "score": [x["score"] for x in rows],
                "rank": range(1, len(rows) + 1),
            }
        ),
        "doc_id long, score double, rank long",
    )


def _search_q(query: str):
    """Reference-semantics search over the compressed disk index
    (segment arrays + numpy intersection/scoring)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _rounded_rank(search_segments(_disk_index(spark, sf_dir), query))

    return run


def _dist_search_q(query: str):
    """Same query FORCED through the executor-side hot-term plan
    (max_driver_postings=0): explode of the doc-id arrays, doc_id-grouped
    intersection, join folds, TakeOrdered truncation — checked against
    the SAME oracle SQL as the driver routes."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _rounded_rank(
            search_segments(_disk_index(spark, sf_dir), query, max_driver_postings=0)
        )

    return run


def _search_enriched_q(query: str, k: int = 10):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        di = _disk_index(spark, sf_dir)
        r = _rounded_rank(search_segments(di, query)).filter(F.col("rank") <= k)
        docs = di.documents.select("doc_id", "url")
        return r.join(docs, "doc_id").select("doc_id", "url", "score", "rank")

    return run


def _lexicon_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _disk_index(spark, sf_dir).lexicon.select("term", "df", "ctf")


def _corpus_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return index_stats(_disk_index(spark, sf_dir)).select(
        "n_docs", "n_terms", "n_postings"
    )


def _index_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 monitor stats (reference /monitor, index/api/api.go:31-40):
    gauges served from index metadata only (meta.json + manifest.jsonl +
    lexicon + dl sidecar — no posting blob touched); the oracle recounts
    every one of them from the raw documents table. Projected to the
    corpus-derivable columns; layout/codec gauges (blob_bytes, avgdl,
    shards_complete) are pinned by tests/test_segments.py instead."""
    return index_stats(_disk_index(spark, sf_dir)).select(
        "n_docs", "n_terms", "n_postings", "total_ctf", "max_df", "total_dl"
    )


def _postings_term_q(term: str):
    """One term's posting list: doc ids and tf from the segment row's
    arrays, first/last positions from the doc's own slice of the decoded
    flat position array."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import numpy as np
        import pandas as pd

        tid = term_to_id(term)
        seg = fetch_term_segments(_disk_index(spark, sf_dir), [tid]).get(tid)
        if seg is None:
            doc_ids = npos = first = last = np.empty(0, np.int64)
        else:
            from search_engine_spark.functions.codec import decode_positions

            doc_ids, npos = seg.doc_ids, seg.tf.astype(np.int64)
            flat = decode_positions(seg.blob, seg.tf, seg.title_end)
            starts = np.cumsum(npos) - npos
            first, last = flat[starts], flat[starts + npos - 1]
        return spark.createDataFrame(
            pd.DataFrame(
                {"doc_id": doc_ids, "tf": npos, "first_pos": first, "last_pos": last}
            ),
            "doc_id long, tf long, first_pos long, last_pos long",
        )

    return run


def _bm25_topk_q(query: str, k: int = 10, force_distributed: bool = False):
    """Block-max-pruned BM25 top-k (north-rule scorer) — the pruned result
    is exact, so it value-checks against the exhaustive SQL oracle.
    ``force_distributed`` drops the driver-postings valve to 0, forcing
    the executor-side plan (arrays→dl-sidecar-join→sum→TakeOrdered) —
    checked against the SAME oracle SQL."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import pandas as pd

        di = _disk_index(spark, sf_dir)
        if force_distributed:
            rows = topk_bm25_wand(di, query, k, max_driver_postings=0)
        else:
            rows = topk_bm25_wand(di, query, k)
        pdf = pd.DataFrame(
            {
                "doc_id": [d for d, _ in rows],
                "score": [s for _, s in rows],
            }
        )
        if not len(pdf):
            return di.empty_result()
        return _rounded_rank(spark.createDataFrame(pdf))

    return run


def _tfidf_topk_q(query: str, k: int = 10, force_distributed: bool = False):
    """Block-max-pruned disjunctive TF-IDF top-k (topk_wand) — pruning is
    lossless, so it value-checks against the exhaustive SQL oracle
    (sqlgen.tfidf_topk_sql). ``force_distributed`` drops the valve to 0,
    running the executor-side plan against the SAME oracle."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        import pandas as pd

        from search_engine_spark.operators.wand import topk_wand

        di = _disk_index(spark, sf_dir)
        if force_distributed:
            rows = topk_wand(di, query, k, max_driver_postings=0)
        else:
            rows = topk_wand(di, query, k)
        pdf = pd.DataFrame(
            {
                "doc_id": [d for d, _ in rows],
                "score": [s for _, s in rows],
            }
        )
        if not len(pdf):
            return di.empty_result()
        return _rounded_rank(spark.createDataFrame(pdf))

    return run


# Batched-eval query set for the multi-query top-k entries: plain keyword
# queries (the score-ordered family ranks the raw token bag), including a
# no-hit query so the no-rows path rides the same oracle.
# Stratified-sampling rates for the sampling entries: cap the dominant
# language, keep more of the rarer ones (the 100-TB downsampling shape).
SAMPLE_FRACTIONS = {"en": 0.25, "zh": 0.8, "es": 0.5}

TOPK_MANY_QUERIES = [
    ("q1", "table"),
    ("q2", "table spark"),
    ("q3", "dup spark"),
    ("q4", "qqqq"),
]


def _topk_many_q(scorer: str, k: int = 10):
    """All TOPK_MANY_QUERIES scored in ONE pass over the postings
    (wand.topk_scores_many) — one pruned scan + one read per term +
    one product-keyed shuffle for the whole query set; the oracle is the
    per-query exhaustive SQL UNION ALL'd, so the batched plan must match
    Q independent single-query folds row-for-row."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        di = _disk_index(spark, sf_dir)
        return topk_scores_many(di, TOPK_MANY_QUERIES, k=k, scorer=scorer)

    return run


def _search_highlight_q(query: str, k: int = 10):
    """The H1-H4 highlight pipeline served from the compressed disk index
    (ranking via segment blobs, enrichment via the index's doc store)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from search_engine_spark.functions.tokenizer import tokenize_query
        from search_engine_spark.operators.search import parse_query

        di = _disk_index(spark, sf_dir)
        ranked = _rounded_rank(search_segments(di, query)).filter(F.col("rank") <= k)
        pq = parse_query(query)
        term_ids = [t for t, _ in tokenize_query(pq.keywords[0])] if pq.keywords else []
        return enrich_ranked(di, ranked, term_ids).select(
            "doc_id", "score", "rank", "url", "abstract"
        )

    return run


def _ivf_assign_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    cents = SIM.ivf_train_centroids(emb, n_centroids=8, n_iter=2)
    return SIM.ivf_assign(emb, centroids=cents)


def _ivf_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _embeddings(spark, sf_dir)
    cents = SIM.ivf_train_centroids(emb, n_centroids=8, n_iter=2)
    return SIM.ivf_topk(emb, query_vec_id=0, centroids=cents)


def _media_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media feature vectors with the array projected to scalar columns
    (f0..f7) so the driver canonicalizer can sort/hash the rows."""
    feat = MM.extract_features(MM.synthesize_media(spark, 64), dim=8)
    return feat.select(
        "media_id",
        *[F.round(F.col("feat")[i], 6).alias(f"f{i}") for i in range(8)],
        "n_bytes",
        "ok",
    )


def _media_thumbs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail block-mean pool with the 8x8 mean grid projected to
    scalar columns m0..m63 (exact int-sum/float64 math, same keystream
    oracle as the other media_* rows)."""
    th = MM.thumbnail_stats(MM.synthesize_media(spark, 64), thumb=8)
    return th.select(
        "media_id",
        "thumb_w",
        "thumb_h",
        *[F.round(F.col("thumb_mean")[i], 6).alias(f"m{i}") for i in range(64)],
        "ok",
    )


def _media_frames_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    fr = MM.sample_frames(MM.synthesize_media(spark, 64), every_ms=500, dim=4)
    return fr.select(
        "media_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("frame_ms").cast("long").alias("frame_ms"),
        *[F.round(F.col("frame_feat")[i], 6).alias(f"f{i}") for i in range(4)],
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: multi-keyword AND search, enriched with URLs, on sf0.001."""
    return _search_enriched_q("table spark")(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- fulltext index + query core (SURVEY §2.3-2.8) -----------------
        "lexicon": _lexicon_q,
        "corpus_stats": _corpus_stats_q,
        # A7 monitor: same gauges, but served from the written index's
        # control-plane metadata (manifest/meta/lexicon) — the /monitor path
        "index_stats": _index_stats_q,
        "postings_ta": _postings_term_q("ta"),
        "search_table": _search_q("table"),
        "search_and": _search_q("table spark"),
        "search_not": _search_q("table -dup"),
        "search_site": _search_q("table site:src3"),
        "search_rare": _search_q("dup"),
        # P9 pagination: page 2 of the ranked result (rank 11..20)
        "search_page2": lambda s, d: paginate(
            _rounded_rank(search_segments(_disk_index(s, d), "table")), 2
        ),
        "search_absent": _search_q("qqqq"),
        "search_enriched": _search_enriched_q("spark"),
        "seg_search_table": _search_q("table"),
        "seg_search_and": _search_q("table spark"),
        "seg_search_not": _search_q("table -dup"),
        "seg_search_site": _search_q("table site:src3"),
        # executor-side hot-term plan, forced — same oracle as seg_search_*
        "dist_search_and": _dist_search_q("table spark"),
        "dist_search_site": _dist_search_q("table site:src3"),
        # BM25 top-k through block-max pruning (north-rule scorer; the
        # pruning is lossless so the exhaustive SQL oracle value-checks it)
        "search_bm25_topk": _bm25_topk_q("table spark", k=10),
        # BM25 top-k FORCED through the executor-side plan (pruned scan →
        # doc-id/tf arrays zipped → dl sidecar join → sum → TakeOrdered; the
        # driver holds k rows) — same exhaustive SQL oracle
        "dist_search_bm25_topk": _bm25_topk_q(
            "table spark", k=10, force_distributed=True
        ),
        # disjunctive TF-IDF top-k (the score-ordered family's other
        # scorer) through the driver block-max route and the forced
        # executor-side plan — both against the same exhaustive SQL
        "search_tfidf_topk": _tfidf_topk_q("table spark", k=10),
        "dist_search_tfidf_topk": _tfidf_topk_q(
            "table spark", k=10, force_distributed=True
        ),
        # batched multi-query top-k: the whole query set in ONE pass over
        # the postings (one scan, one read per term, one product-keyed
        # shuffle) — checked against Q independent single-query oracles
        "search_bm25_topk_many": _topk_many_q("bm25", k=10),
        "search_tfidf_topk_many": _topk_many_q("tfidf", k=10),
        # highlight/abstract enrichment (H1-H4) — full value oracle: the
        # interval-merge/window/abstract arithmetic is reproduced in DuckDB
        # SQL (sqlgen.search_highlight_sql); ranking feeds the kernel at
        # 6 dp so ties rank identically in both engines
        "search_highlight": _search_highlight_q("table", k=10),
        # the same H1-H4 pipeline through the compressed disk-index path
        "seg_search_highlight": _search_highlight_q("table", k=10),
        # --- training-data pipeline: dedup ---------------------------------
        "dedup_exact": lambda s, d: D.exact_dedup(_documents(s, d)),
        "dedup_jaccard": lambda s, d: D.ngram_jaccard_pairs(_documents(s, d)),
        "dedup_minhash": lambda s, d: D.minhash_candidate_pairs(_documents(s, d)),
        "dedup_simhash": lambda s, d: D.simhash(_documents(s, d)),
        # --- similarity search ---------------------------------------------
        "embed_knn": lambda s, d: SIM.cosine_topk(_embeddings(s, d), query_vec_id=0),
        "embed_lsh_buckets": lambda s, d: SIM.lsh_buckets(_embeddings(s, d)),
        "embed_neardup": lambda s, d: SIM.embedding_neardup_pairs(_embeddings(s, d)),
        # bucket-pruned approximate top-k (the partition-pruned scan path)
        "embed_lsh_topk": lambda s, d: SIM.lsh_topk(_embeddings(s, d), query_vec_id=0),
        # IVF coarse-quantizer path (the second scale path next to LSH);
        # round-3: the codebook is Lloyd-TRAINED (2 deterministic
        # iterations, rounded means) and the oracle runs the same unrolled
        # training — centroids are cross-engine data, not shared math
        "embed_ivf_assign": _ivf_assign_q,
        "embed_ivf_topk": _ivf_topk_q,
        # --- deterministic sampling / dataset splits -------------------------
        # membership is a pure function of (seed, doc_id) via the portable
        # md5 bucket — reproducible across engines and repartitionings
        "sample_hash_split": lambda s, d: SAMP.hash_split(_documents(s, d)),
        "sample_stratified": lambda s, d: SAMP.stratified_sample(
            _documents(s, d), SAMPLE_FRACTIONS, default_fraction=0.1
        ),
        # --- text analysis ---------------------------------------------------
        "text_lang_id": lambda s, d: TS.lang_id(_documents(s, d)),
        "text_quality": lambda s, d: TS.quality_score(_documents(s, d)),
        "text_tokens": lambda s, d: TS.token_counts(_documents(s, d)),
        "text_fingerprint": lambda s, d: TS.fingerprint(_documents(s, d)),
        # --- event windowing --------------------------------------------------
        "events_hourly": lambda s, d: E.hourly_event_stats(_events(s, d)),
        "events_sessionize": lambda s, d: E.sessionize(_events(s, d)),
        # --- multimodal plumbing (binary payloads; feature vectors are
        # projected to scalar per-dimension columns — exact int-sum/float64
        # math, value-checked against the sha256-keystream DuckDB oracle) ----
        "media_features": _media_features_q,
        "media_frames": _media_frames_q,
        "media_thumbs": _media_thumbs_q,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "lexicon": sqlgen.lexicon_sql(),
        "corpus_stats": sqlgen.corpus_stats_sql(),
        "index_stats": sqlgen.index_stats_sql(),
        "postings_ta": sqlgen.postings_term_sql("ta"),
        "search_table": sqlgen.search_sql("table"),
        "search_and": sqlgen.search_sql("table spark"),
        "search_not": sqlgen.search_sql("table -dup"),
        "search_site": sqlgen.search_sql("table site:src3"),
        "search_rare": sqlgen.search_sql("dup"),
        "search_page2": sqlgen.search_page_sql("table", 2),
        "search_absent": sqlgen.search_sql("qqqq"),
        "search_enriched": sqlgen.search_enriched_sql("spark"),
        "seg_search_table": sqlgen.search_sql("table"),
        "seg_search_and": sqlgen.search_sql("table spark"),
        "seg_search_not": sqlgen.search_sql("table -dup"),
        "seg_search_site": sqlgen.search_sql("table site:src3"),
        "search_highlight": sqlgen.search_highlight_sql("table", 10),
        "seg_search_highlight": sqlgen.search_highlight_sql("table", 10),
        "search_bm25_topk": sqlgen.bm25_topk_sql("table spark", 10),
        "dist_search_bm25_topk": sqlgen.bm25_topk_sql("table spark", 10),
        "search_tfidf_topk": sqlgen.tfidf_topk_sql("table spark", 10),
        "dist_search_tfidf_topk": sqlgen.tfidf_topk_sql("table spark", 10),
        "search_bm25_topk_many": sqlgen.topk_many_sql(
            TOPK_MANY_QUERIES, 10, "bm25"
        ),
        "search_tfidf_topk_many": sqlgen.topk_many_sql(
            TOPK_MANY_QUERIES, 10, "tfidf"
        ),
        "dist_search_and": sqlgen.search_sql("table spark"),
        "dist_search_site": sqlgen.search_sql("table site:src3"),
        "sample_hash_split": sqlgen.hash_split_sql(),
        "sample_stratified": sqlgen.stratified_sample_sql(
            SAMPLE_FRACTIONS, default_fraction=0.1
        ),
        "dedup_exact": sqlgen.dedup_exact_sql(),
        "dedup_jaccard": sqlgen.dedup_jaccard_sql(),
        "dedup_minhash": sqlgen.dedup_minhash_sql(),
        "dedup_simhash": sqlgen.dedup_simhash_sql(),
        "embed_knn": sqlgen.embed_knn_sql(),
        "embed_lsh_buckets": sqlgen.embed_lsh_buckets_sql(),
        "embed_neardup": sqlgen.embed_neardup_sql(),
        "embed_lsh_topk": sqlgen.embed_lsh_topk_sql(query_vec_id=0, k=10),
        "embed_ivf_assign": sqlgen.embed_ivf_assign_sql(),
        "embed_ivf_topk": sqlgen.embed_ivf_topk_sql(),
        "text_lang_id": sqlgen.lang_id_sql(),
        "text_quality": sqlgen.quality_sql(),
        "text_tokens": sqlgen.token_counts_sql(),
        "text_fingerprint": sqlgen.fingerprint_sql(),
        "events_hourly": sqlgen.events_hourly_sql(),
        "events_sessionize": sqlgen.sessionize_sql(),
        "media_features": sqlgen.media_features_sql(),
        "media_frames": sqlgen.media_frames_sql(),
        "media_thumbs": sqlgen.media_thumbs_sql(),
    }
