"""Document tables and the map-side postings build.

Reference pipeline (index/core/indexer.go:224-283): 5 tokenizer workers →
1 merger goroutine folding per-doc maps, flushing every 1000 docs → 5 flush
workers doing read-merge-write upserts into BoltDB.

Spark re-architecture: ONE mapInArrow pass tokenizes each doc and groups
its tokens into packed postings rows (the per-doc textToInvertedIndex,
indexer.go:85-94); the merger's fold-and-flush becomes the per-term
segment encode shuffle in ``segments.build_segments``. Workers ⇢
partitions; channels ⇢ shuffle boundaries; the flush threshold ⇢ Arrow
batch size. No read-merge-write: segment files are immutable.

Schemas (FIXTURES.md §2):
  documents: doc_id long, url string, title string, body string, content_sha256 string
  postings:  term_id long, doc_id long, title_end int, npos int, pos_blob binary
             -- pos_blob = title rune-offsets then body rune-offsets
             -- (each field 0-based, indexer.go:129-134), delta+varint
             -- packed per field
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .docids import assign_doc_ids
from .parse import parse_html_documents


def build_documents_from_corpus(corpus: DataFrame) -> DataFrame:
    """Corpus contract table -> documents table.

    HTML rows go through the reference parser semantics (no-<title> docs
    dropped, parser.go:26-28); non-HTML source files keep their raw content
    as body with an empty title (the reference only ever ingests HTML; this
    is the documented extension for source-code corpora).
    ``content_sha256`` is carried through — the per-row invariant — and
    DERIVED here when the input doesn't ship it (the BASELINE.json
    input_hint table is exactly ``(repo, path, commit, lang, content)``;
    only our synthetic generator pre-computes the column).
    """
    if "content_sha256" not in corpus.columns:
        corpus = corpus.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    html = parse_html_documents(corpus.filter(F.col("lang") == "html"))
    plain = (
        corpus.filter(F.col("lang") != "html")
        .withColumn("title", F.lit(""))
        .withColumn("body", F.col("content"))
    )
    url = F.concat_ws("", F.col("repo"), F.lit("/"), F.col("path"), F.lit("@"), F.col("commit"))
    docs = html.unionByName(plain).withColumn("url", url)
    docs = assign_doc_ids(docs)
    return docs.select("doc_id", "url", "repo", "title", "body", "content_sha256")


def build_documents_from_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver testdata ``documents.parquet`` (doc_id, text, lang, source,
    n_chars) -> engine documents shape: text is the body, title empty,
    ``source`` plays the site/host role."""
    # The local testdata is ONE parquet file → one input split; repartition
    # to the session's parallelism so the tokenize/shingle map stages use
    # every core. (On a real multi-file corpus the scan already yields
    # thousands of splits and this shuffle is a near-no-op rebalance.)
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )
    return raw.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("source").alias("url"),
        F.lit("").alias("title"),
        F.col("text").alias("body"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
    )


def build_postings_packed(documents: DataFrame) -> DataFrame:
    """documents -> packed postings (term_id, doc_id, title_end, npos,
    pos_blob).

    One mapInArrow pass, no shuffle: each doc's tokens are sorted and
    run-length grouped in numpy, and positions leave the map side already
    delta+varint packed (the blob layout's per-doc pdelta section), so
    the index-build shuffle moves compact bytes and the reduce-side
    encode splices instead of re-encoding.
    """
    from ..functions.tokenizer import postings_batches_arrow_packed

    return documents.select("doc_id", "title", "body").mapInArrow(
        postings_batches_arrow_packed,
        schema="doc_id long, term_id long, title_end int, npos int, pos_blob binary",
    )


def term_str_expr(term_id: F.Column) -> F.Column:
    """term_id -> 2-char term string as a JVM column expression (no
    Python worker): the two 21-bit code points become four hex digits
    each and decode as UTF-16BE. Exact for every indexed character
    (``[一-龥A-Za-z0-9]``), all in the Basic Multilingual Plane; equal to
    ``tokenizer.ids_to_terms`` there."""

    def _hex4(cp: F.Column) -> F.Column:
        return F.lpad(F.hex(cp), 4, "0")

    hi = F.shiftright(term_id, 21).bitwiseAND(0x1FFFFF)
    lo = term_id.bitwiseAND(0x1FFFFF)
    return F.decode(F.unhex(F.concat(_hex4(hi), _hex4(lo))), "UTF-16BE")
