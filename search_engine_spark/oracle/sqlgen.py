"""ANSI-SQL (DuckDB) oracle generators for the driver's correctness gate.

Each generator returns a self-contained SQL string over the driver's
pre-registered views (``documents``, ``embeddings``, ``events``) that
reproduces the corresponding engine DataFrame query *value-exactly*
(scores rounded to 6 dp on both sides; identical column names/types).

The search oracle reimplements the full reference scoring semantics
(SURVEY §2.6-2.7) in SQL: char-bigram positions via a character-level
lateral unnest, conjunctive candidate sets, TF-IDF with natural log,
phrase-alignment counts, the 3x title pass (title is empty in the
testdata documents table, so B_title = 1), the 50-lowest-docId
truncation, and score-desc/doc_id-asc ranking.
"""

from __future__ import annotations

from ..functions.tokenizer import bigram_split

# Character-level bigram positions over documents.text (body field; the
# testdata documents table has no title). p is the 0-based char offset.
POS_CTE = """
pos AS (
  SELECT doc_id, i - 1 AS p, substring(text, i, 2) AS term
  FROM documents,
       LATERAL (SELECT unnest(range(1, length(text)::BIGINT)) AS i) gen
  WHERE regexp_matches(substring(text, i, 2), '^[一-龥A-Za-z0-9]{2}$')
)
""".strip()

STATS_CTE = "stats AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM pos GROUP BY term)"
NDOCS_CTE = "nd AS (SELECT COUNT(*)::DOUBLE AS n_docs FROM documents)"

# Word n-gram shingle CTEs shared by the dedup oracles (n=3).
SHINGLE_CTES = """
words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM words, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) gen
)
""".strip()


def _qtokens(keyword: str) -> tuple[list[str], list[tuple[str, int]]]:
    """Distinct terms (insertion order) + per-occurrence cursors."""
    terms: list[str] = []
    cursors: list[tuple[str, int]] = []
    for term, base in bigram_split(keyword):
        if term not in terms:
            terms.append(term)
        cursors.append((term, base))
    return terms, cursors


def _keyword_ctes(tag: str, keyword: str, score: bool) -> tuple[list[str], str | None]:
    """CTEs for one keyword: candidates (and score if requested).

    Returns (cte_list, final_score_cte_name or cand_cte_name).
    """
    terms, cursors = _qtokens(keyword)
    if not terms:
        return [], None
    inlist = ", ".join(f"'{t}'" for t in terms)
    m = len(terms)
    ctes = [
        f"{tag}_tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM pos "
        f"WHERE term IN ({inlist}) GROUP BY 1, 2)",
        f"{tag}_cand AS (SELECT doc_id FROM {tag}_tf GROUP BY doc_id HAVING COUNT(*) = {m})",
    ]
    if not score:
        return ctes, f"{tag}_cand"
    mc = len(cursors)
    values = ", ".join(f"('{t}', {b}, {j})" for j, (t, b) in enumerate(cursors))
    ctes += [
        f"""{tag}_s AS (
  SELECT t.doc_id, SUM((1 + ln(t.tf)) * ln(nd.n_docs / s.df)) AS s
  FROM {tag}_tf t JOIN stats s USING (term) CROSS JOIN nd
  WHERE t.doc_id IN (SELECT doc_id FROM {tag}_cand)
  GROUP BY t.doc_id
)""",
        f"""{tag}_phr AS (
  SELECT doc_id, COUNT(*) AS pc FROM (
    SELECT p.doc_id
    FROM pos p JOIN (VALUES {values}) AS c(term, base, j) ON p.term = c.term
    WHERE p.doc_id IN (SELECT doc_id FROM {tag}_cand)
    GROUP BY p.doc_id, p.p - c.base
    HAVING COUNT(DISTINCT c.j) = {mc}
  ) al GROUP BY doc_id
)""",
        f"""{tag}_score AS (
  SELECT s.doc_id,
         3 * s.s + s.s * (CASE WHEN ph.pc > 0 THEN 3 + ln(ph.pc) ELSE 1 END) AS score
  FROM {tag}_s s LEFT JOIN {tag}_phr ph USING (doc_id)
)""",
    ]
    return ctes, f"{tag}_score"


def search_sql(query: str, per_shard: int = 50) -> str:
    """Full search pipeline oracle → (doc_id, score, rank)."""
    from ..operators.search import parse_query

    pq = parse_query(query)
    ctes: list[str] = [POS_CTE, STATS_CTE, NDOCS_CTE]
    empty = (
        "SELECT doc_id::BIGINT AS doc_id, 0.0::DOUBLE AS score, 0::BIGINT AS rank "
        "FROM documents WHERE 1 = 0"
    )
    if not pq.keywords:
        return f"WITH {', '.join(ctes)} {empty}"

    base_ctes, base_name = _keyword_ctes("k0", pq.keywords[0], score=True)
    if base_name is None:
        return f"WITH {', '.join(ctes)} {empty}"
    ctes += base_ctes

    conds: list[str] = []
    for i, kw in enumerate(pq.keywords[1:], start=1):
        kctes, kname = _keyword_ctes(f"k{i}", kw, score=False)
        if kname is None:
            return f"WITH {', '.join(ctes)} {empty}"
        ctes += kctes
        conds.append(f"doc_id IN (SELECT doc_id FROM {kname})")
    for i, ex in enumerate(pq.exclusions):
        ectes, ename = _keyword_ctes(f"e{i}", ex, score=False)
        if ename is None:
            continue  # untokenizable/absent exclusion removes nothing
        ctes += ectes
        conds.append(f"doc_id NOT IN (SELECT doc_id FROM {ename})")
    if pq.site:
        # host(url) suffix match, mirroring operators/search.host_of
        host = (
            "regexp_replace(regexp_extract(source, "
            "'^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/]*)', 1), ':[^:]*$', '')"
        )
        conds.append(
            f"doc_id IN (SELECT doc_id FROM documents WHERE {host} LIKE '%{pq.site}')"
        )
    where = (" WHERE " + " AND ".join(conds)) if conds else ""
    ctes.append(
        f"shard AS (SELECT doc_id, score FROM {base_name}{where} "
        f"ORDER BY doc_id LIMIT {per_shard})"
    )
    return (
        f"WITH {', '.join(ctes)}\n"
        "SELECT doc_id::BIGINT AS doc_id, ROUND(score, 6) AS score,\n"
        "       ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id)::BIGINT AS rank\n"
        "FROM shard"
    )


def search_page_sql(query: str, pn: int, page_size: int = 10) -> str:
    """P9 pagination oracle: page ``pn`` (1-based) of the ranked result."""
    pn = max(1, min(10, pn))
    lo, hi = (pn - 1) * page_size, pn * page_size
    inner = search_sql(query)
    return (
        f"WITH r AS ({inner})\n"
        f"SELECT doc_id, score, rank FROM r WHERE rank > {lo} AND rank <= {hi}"
    )


def search_enriched_sql(query: str, k: int = 10) -> str:
    """Top-k search joined to the document store → (doc_id, url, score, rank)."""
    inner = search_sql(query)
    return (
        f"WITH r AS ({inner})\n"
        f"SELECT r.doc_id, d.source AS url, r.score, r.rank\n"
        f"FROM r JOIN documents d USING (doc_id) WHERE r.rank <= {k}"
    )


def search_highlight_sql(query: str, k: int = 10) -> str:
    """Top-k search + H1-H3 abstract oracle → (doc_id, score, rank, url,
    abstract).

    Reproduces the engine's highlight semantics (operators/highlight.py,
    reference search.go:342-403,108-141) in SQL:

    - H1 interval merge: positions of the FIRST keyword's bigram tokens in
      the body, grouped while the consecutive delta ≤ 2 (lag + running
      sum); interval = [first, last+1].
    - H2 window select: the longest interval (first on ties) if its length
      ≤ 100, else ALL intervals (the reference's actual ``> 100`` loop).
    - H3 abstract: Go-truncated-division padding, start clamp, the
      reference's already-clamped end-branch; span injection via ordered
      string_agg with lag-derived gap text; no-highlight fallback =
      first 100 chars.

    Not modeled: a single merged interval longer than 100 chars with
    negative padding (reference-bug territory — Go would slice negative
    indices); no testdata doc triggers it.
    """
    from ..operators.search import parse_query

    pq = parse_query(query)
    terms, _ = _qtokens(pq.keywords[0]) if pq.keywords else ([], [])
    inner = search_sql(query)
    inlist = ", ".join(f"'{t}'" for t in terms)
    pre = "<span style=''color:red''>"
    suf = "</span>"
    return f"""
WITH {POS_CTE},
r AS ({inner}),
top AS (SELECT doc_id, score, rank FROM r WHERE rank <= {k}),
hp AS (
  SELECT pos.doc_id, pos.p FROM pos JOIN top USING (doc_id)
  WHERE pos.term IN ({inlist})
),
o AS (
  SELECT doc_id, p,
         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 2
              THEN 0 ELSE 1 END AS brk
  FROM hp
),
grp AS (
  SELECT doc_id, p,
         SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
                        ROWS UNBOUNDED PRECEDING) AS gid
  FROM o
),
iv AS (SELECT doc_id, gid, MIN(p) AS h0, MAX(p) + 1 AS h1 FROM grp GROUP BY 1, 2),
iv2 AS (
  SELECT doc_id, h0, h1, h1 - h0 + 1 AS ln,
         MAX(h1 - h0 + 1) OVER (PARTITION BY doc_id) AS mx
  FROM iv
),
iv3 AS (
  SELECT *, MIN(CASE WHEN ln = mx THEN h0 END) OVER (PARTITION BY doc_id) AS mh0
  FROM iv2
),
sel AS (SELECT doc_id, h0, h1 FROM iv3 WHERE mx > 100 OR (ln = mx AND h0 = mh0)),
wb AS (SELECT doc_id, MIN(h0) AS s0, MAX(h1) AS e0 FROM sel GROUP BY 1),
pb AS (
  SELECT w.doc_id, s0, e0, length(d.text) AS blen,
         CASE WHEN 100 - (e0 - s0 + 1) >= 0 THEN (100 - (e0 - s0 + 1)) // 2
              ELSE -((-(100 - (e0 - s0 + 1))) // 2) END AS pad
  FROM wb w JOIN documents d USING (doc_id)
),
ab AS (
  SELECT doc_id, blen, pad, e0, GREATEST(s0 - pad, 0) AS ns FROM pb
),
ab2 AS (
  SELECT doc_id, ns,
         CASE WHEN ns - pad >= 0 THEN LEAST(blen, e0 + pad)
              ELSE LEAST(blen, e0 + pad - ns) END AS ne
  FROM ab
),
pieces AS (
  SELECT s.doc_id, s.h0, s.h1, a.ns, a.ne, d.text,
         COALESCE(lag(s.h1) OVER (PARTITION BY s.doc_id ORDER BY s.h0) + 1,
                  a.ns) AS pe
  FROM sel s JOIN ab2 a USING (doc_id) JOIN documents d USING (doc_id)
),
frag AS (
  SELECT doc_id,
         string_agg(
           substring(text, pe + 1, h0 - pe) || '{pre}' ||
           substring(text, h0 + 1, h1 - h0 + 1) || '{suf}',
           '' ORDER BY h0) AS hl,
         MAX(h1) AS lh1, MAX(ne) AS ne, MAX(text) AS text
  FROM pieces GROUP BY doc_id
),
abst AS (
  SELECT doc_id,
         hl || (CASE WHEN lh1 + 1 < ne
                     THEN substring(text, lh1 + 2, ne - lh1 - 1)
                     ELSE '' END) AS abstract
  FROM frag
)
SELECT t.doc_id::BIGINT AS doc_id, t.score, t.rank, d.source AS url,
       COALESCE(a.abstract, substring(d.text, 1, 100)) AS abstract
FROM top t JOIN documents d USING (doc_id)
LEFT JOIN abst a USING (doc_id)
""".strip()


def bm25_topk_sql(query: str, k: int = 10) -> str:
    """Disjunctive BM25 top-k oracle → (doc_id, score, rank).

    Mirrors operators/wand.topk_bm25_* term-for-term: Lucene-form idf
    ln(1 + (N - df + 0.5)/(df + 0.5)); tf term tf·(k1+1)/(tf + k1·(1 − b
    + b·dl/avgdl)) with k1=1.2, b=0.75 written as the same expression
    tree (same IEEE evaluation order); dl = per-doc bigram count; avgdl
    = Σdl / n_docs (zero-token docs count in the denominator).
    """
    from ..functions.tokenizer import bigram_split
    from ..operators.search import parse_query as _pq

    terms: list[str] = []
    for kw in _pq(query).keywords:
        for t, _ in bigram_split(kw):
            if t not in terms:
                terms.append(t)
    inlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {POS_CTE},
{NDOCS_CTE},
dlt AS (SELECT doc_id, COUNT(*) AS dl FROM pos GROUP BY 1),
ad AS (SELECT SUM(dl)::DOUBLE / MAX(nd.n_docs) AS avgdl FROM dlt CROSS JOIN nd),
{STATS_CTE},
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM pos
  WHERE term IN ({inlist}) GROUP BY 1, 2
),
sc AS (
  SELECT t.doc_id,
         SUM(
           ln(1.0 + (nd.n_docs - s.df + 0.5) / (s.df + 0.5)) *
           (t.tf * (1.2 + 1.0) /
            (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * (d.dl / a.avgdl))))
         ) AS score
  FROM tf t
  JOIN stats s USING (term)
  JOIN dlt d USING (doc_id)
  CROSS JOIN nd CROSS JOIN ad a
  GROUP BY t.doc_id
)
SELECT doc_id::BIGINT AS doc_id, ROUND(score, 6) AS score,
       ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id)::BIGINT AS rank
FROM sc ORDER BY ROUND(score, 6) DESC, doc_id LIMIT {k}
""".strip()


def tfidf_topk_sql(query: str, k: int = 10) -> str:
    """Disjunctive TF-IDF top-k oracle → (doc_id, score, rank).

    Mirrors operators/wand.topk_wand (and the exhaustive sum in
    tests/exhaustive.py) term-for-term:
    S(d) = Σ_t (1+ln tf_t)·ln(N/df_t) over the query's distinct matched
    terms, tf = combined title+body occurrence count (the reference's tf,
    search.go:423), no phrase/title boosts (the score-ordered family's
    ranking score). DuckDB's ``/`` on integers is float division, same
    as the engine's ``math.log(n_docs / df)``.
    """
    from ..functions.tokenizer import bigram_split
    from ..operators.search import parse_query as _pq

    terms: list[str] = []
    for kw in _pq(query).keywords:
        for t, _ in bigram_split(kw):
            if t not in terms:
                terms.append(t)
    inlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH {POS_CTE},
{NDOCS_CTE},
{STATS_CTE},
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM pos
  WHERE term IN ({inlist}) GROUP BY 1, 2
),
sc AS (
  SELECT t.doc_id,
         SUM((1.0 + ln(t.tf)) * ln(nd.n_docs / s.df)) AS score
  FROM tf t
  JOIN stats s USING (term)
  CROSS JOIN nd
  GROUP BY t.doc_id
)
SELECT doc_id::BIGINT AS doc_id, ROUND(score, 6) AS score,
       ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id)::BIGINT AS rank
FROM sc ORDER BY ROUND(score, 6) DESC, doc_id LIMIT {k}
""".strip()


def topk_many_sql(
    queries: list[tuple[str, str]], k: int = 10, scorer: str = "bm25"
) -> str:
    """Batched multi-query top-k oracle → (qid, doc_id, score, rank):
    the per-query exhaustive oracle (``bm25_topk_sql`` /
    ``tfidf_topk_sql``) tagged with its qid and UNION ALL'd — Q
    independent single-query folds, the semantics
    ``operators/wand.topk_scores_many`` must reproduce from its ONE
    shared postings pass. Queries with no bigram tokens are skipped
    (the engine yields no rows for them)."""
    from ..functions.tokenizer import bigram_split
    from ..operators.search import parse_query as _pq

    gen = bm25_topk_sql if scorer == "bm25" else tfidf_topk_sql
    parts = []
    for qid, q in queries:
        if not any(True for kw in _pq(q).keywords for _ in bigram_split(kw)):
            continue
        parts.append(
            f"SELECT '{_sqlq(qid)}' AS qid, doc_id, score, rank FROM ({gen(q, k)})"
        )
    if not parts:
        return (
            "SELECT '' AS qid, 0::BIGINT AS doc_id, 0.0 AS score, "
            "0::BIGINT AS rank WHERE FALSE"
        )
    return "\nUNION ALL\n".join(parts)


def _sqlq(v: str) -> str:
    """Escape a caller-supplied string for use inside a single-quoted SQL
    literal (ADVICE r4: qids / split names / stratum keys were
    interpolated raw, so a value containing a quote produced broken
    oracle SQL)."""
    return str(v).replace("'", "''")


def _bucket_sql(seed: int) -> str:
    """DuckDB mirror of operators/sampling._bucket: porthash60 of
    "<seed>:<doc_id>" mod 10000."""
    return (
        f"(('0x' || substring(md5('{seed}:' || doc_id::VARCHAR), 1, 15))::BIGINT"
        " % 10000)::INT"
    )


def hash_split_sql(weights: dict[str, float] | None = None, seed: int = 0) -> str:
    """Oracle for operators/sampling.hash_split → (doc_id, bucket, split):
    same seeded md5 bucket, same cumulative-threshold CASE."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    names = list(weights)
    acc = 0.0
    arms = []
    for name in names[:-1]:
        acc += weights[name]
        arms.append(f"WHEN bucket < {int(round(acc * 10000))} THEN '{_sqlq(name)}'")
    case = (
        "CASE " + " ".join(arms) + f" ELSE '{_sqlq(names[-1])}' END"
        if arms
        else f"'{_sqlq(names[-1])}'"
    )
    return f"""
WITH b AS (
  SELECT doc_id::BIGINT AS doc_id, {_bucket_sql(seed)} AS bucket FROM documents
)
SELECT doc_id, bucket, {case} AS split FROM b
""".strip()


def stratified_sample_sql(
    fractions: dict[str, float],
    default_fraction: float = 0.0,
    seed: int = 0,
    stratum_col: str = "lang",
) -> str:
    """Oracle for operators/sampling.stratified_sample → (doc_id,
    stratum, bucket): per-stratum bucket threshold, same hash."""
    arms = " ".join(
        f"WHEN {stratum_col} = '{_sqlq(k)}' THEN {int(round(v * 10000))}"
        for k, v in fractions.items()
    )
    thr = (
        f"CASE {arms} ELSE {int(round(default_fraction * 10000))} END"
        if arms
        else str(int(round(default_fraction * 10000)))
    )
    return f"""
WITH b AS (
  SELECT doc_id::BIGINT AS doc_id, {stratum_col} AS stratum,
         {_bucket_sql(seed)} AS bucket, {thr} AS _thr
  FROM documents
)
SELECT doc_id, stratum, bucket FROM b WHERE bucket < _thr
""".strip()


def lexicon_sql() -> str:
    return """
WITH runs AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[一-龥A-Za-z0-9]+')) AS run
  FROM documents
)
SELECT substring(run, i, 2) AS term,
       COUNT(DISTINCT doc_id)::BIGINT AS df,
       COUNT(*)::BIGINT AS ctf
FROM runs, LATERAL (SELECT unnest(range(1, length(run)::BIGINT)) AS i) gen
GROUP BY 1
""".strip()


def corpus_stats_sql() -> str:
    return f"""
WITH {POS_CTE}
SELECT (SELECT COUNT(*) FROM documents)::BIGINT AS n_docs,
       (SELECT COUNT(DISTINCT term) FROM pos)::BIGINT AS n_terms,
       (SELECT COUNT(*) FROM (SELECT DISTINCT doc_id, term FROM pos) dp)::BIGINT AS n_postings
""".strip()


def index_stats_sql() -> str:
    """A7 monitor-stats oracle: a FULL recount from the raw documents
    table of every corpus-derivable gauge the Spark side serves off
    monitor metadata (meta.json / manifest.jsonl / lexicon). total_dl ==
    total_ctf by construction here (testdata docs have an empty title, so
    the dl column counts exactly the body bigram emissions the pos CTE
    enumerates) — the point is that the Spark side computes them from two
    INDEPENDENT artifacts (lexicon ctf vs doc-store dl sidecar)."""
    return f"""
WITH {POS_CTE},
{STATS_CTE}
SELECT (SELECT COUNT(*) FROM documents)::BIGINT AS n_docs,
       (SELECT COUNT(*) FROM stats)::BIGINT AS n_terms,
       (SELECT SUM(df) FROM stats)::BIGINT AS n_postings,
       (SELECT COUNT(*) FROM pos)::BIGINT AS total_ctf,
       (SELECT MAX(df) FROM stats)::BIGINT AS max_df,
       (SELECT COUNT(*) FROM pos)::BIGINT AS total_dl
""".strip()


def postings_term_sql(term: str) -> str:
    return f"""
WITH {POS_CTE}
SELECT doc_id::BIGINT AS doc_id, COUNT(*)::BIGINT AS tf,
       MIN(p)::BIGINT AS first_pos, MAX(p)::BIGINT AS last_pos
FROM pos WHERE term = '{term}' GROUP BY doc_id
""".strip()


def dedup_exact_sql() -> str:
    return (
        "SELECT md5(text) AS text_md5, COUNT(*)::BIGINT AS n_copies, "
        "MIN(doc_id)::BIGINT AS canonical_doc_id FROM documents GROUP BY 1"
    )


def dedup_jaccard_sql(threshold: float = 0.6, max_shingle_df: int | None = None) -> str:
    if max_shingle_df is None:
        from ..operators.dedup import DEFAULT_MAX_SHINGLE_DF

        max_shingle_df = DEFAULT_MAX_SHINGLE_DF
    return f"""
WITH {SHINGLE_CTES},
sh_k AS (
  SELECT s.* FROM sh s
  WHERE s.shingle NOT IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {max_shingle_df}
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh_k GROUP BY 1),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
  FROM sh_k a JOIN sh_k b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b,
       ROUND(n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = common.doc_a
JOIN sizes sb ON sb.doc_id = common.doc_b
WHERE n_common::DOUBLE / (sa.n_sh + sb.n_sh - n_common) >= {threshold}
""".strip()


def dedup_minhash_sql(
    num_hashes: int = 16, band_size: int = 4, max_band_df: int | None = 128
) -> str:
    # max_band_df default mirrors operators/dedup.DEFAULT_MAX_BAND_DF
    # (round-5 API change): the driver's dedup_minhash row compares the
    # capped engine default against this capped oracle.
    # Same seeded-hash family as operators/dedup.py: one md5 per shingle
    # split into two 28-bit ints, hash_s = (a + s*b) mod (2^31 - 1).
    # The Spark plan exact-dedups texts before the band join (skew guard);
    # for max_band_df=None the output is row-identical to this direct
    # self-join, so the uncapped oracle keeps the simpler form.
    if max_band_df is None:
        return f"""
WITH {SHINGLE_CTES},
ab AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 7))::BIGINT AS a,
         ('0x' || substring(md5(shingle), 8, 7))::BIGINT AS b
  FROM sh
),
mh AS (
  SELECT doc_id, s, MIN((a + s * b) % 2147483647) AS h
  FROM ab CROSS JOIN (SELECT unnest(range(0, {num_hashes})) AS s) seeds
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, (s // {band_size})::INT AS band,
         md5(string_agg(h::VARCHAR, ',' ORDER BY s)) AS bh
  FROM mh GROUP BY doc_id, (s // {band_size})::INT
)
SELECT a.doc_id::BIGINT AS doc_a, b.doc_id::BIGINT AS doc_b, COUNT(*)::BIGINT AS n_bands
FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
GROUP BY 1, 2
""".strip()
    # capped mirror of the exact-first plan: band buckets with more than
    # max_band_df DISTINCT texts are dropped at the representative level;
    # exact-duplicate (intra-group) pairs are kept regardless
    return f"""
WITH grp AS (SELECT doc_id, md5(text) AS g FROM documents),
reps AS (SELECT g, MIN(doc_id) AS rep FROM grp GROUP BY g),
mem AS (SELECT grp.doc_id, reps.rep FROM grp JOIN reps ON grp.g = reps.g),
rdocs AS (
  SELECT r.rep AS doc_id, d.text FROM reps r JOIN documents d ON d.doc_id = r.rep
),
words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM rdocs),
sh AS (
  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
  FROM words, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) gen
),
ab AS (
  SELECT doc_id,
         ('0x' || substring(md5(shingle), 1, 7))::BIGINT AS a,
         ('0x' || substring(md5(shingle), 8, 7))::BIGINT AS b
  FROM sh
),
mh AS (
  SELECT doc_id, s, MIN((a + s * b) % 2147483647) AS h
  FROM ab CROSS JOIN (SELECT unnest(range(0, {num_hashes})) AS s) seeds
  GROUP BY 1, 2
),
bands AS (
  SELECT doc_id, (s // {band_size})::INT AS band,
         md5(string_agg(h::VARCHAR, ',' ORDER BY s)) AS bh
  FROM mh GROUP BY doc_id, (s // {band_size})::INT
),
kept AS (
  SELECT * FROM bands QUALIFY COUNT(*) OVER (PARTITION BY band, bh) <= {max_band_df}
),
rep_pairs AS (
  SELECT a.doc_id AS ra, b.doc_id AS rb, COUNT(*) AS nb
  FROM kept a JOIN kept b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
inter AS (
  SELECT LEAST(ma.doc_id, mb.doc_id) AS doc_a,
         GREATEST(ma.doc_id, mb.doc_id) AS doc_b, p.nb AS n_bands
  FROM rep_pairs p JOIN mem ma ON ma.rep = p.ra JOIN mem mb ON mb.rep = p.rb
),
rwb AS (SELECT DISTINCT doc_id AS rep FROM bands),
intra AS (
  SELECT ga.doc_id AS doc_a, gb.doc_id AS doc_b,
         {num_hashes // band_size} AS n_bands
  FROM mem ga JOIN mem gb ON ga.rep = gb.rep AND ga.doc_id < gb.doc_id
  JOIN rwb ON rwb.rep = ga.rep
)
SELECT doc_a::BIGINT AS doc_a, doc_b::BIGINT AS doc_b, n_bands::BIGINT AS n_bands
FROM (SELECT * FROM inter UNION ALL SELECT * FROM intra)
""".strip()


def dedup_simhash_sql(bits: int = 16) -> str:
    return f"""
WITH wtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
wh AS (
  SELECT doc_id, ('0x' || substring(md5(w), 1, 15))::BIGINT AS h
  FROM wtok WHERE w <> ''
),
votes AS (
  SELECT doc_id, b, SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS v
  FROM wh CROSS JOIN (SELECT unnest(range(0, {bits})) AS b) bb
  GROUP BY 1, 2
)
SELECT doc_id::BIGINT AS doc_id,
       SUM(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY 1
""".strip()


def embed_knn_sql(query_vec_id: int = 0, k: int = 10) -> str:
    return f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {query_vec_id}),
flat AS (
  SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> {query_vec_id}
),
z AS (
  SELECT vec_id,
         SUM(x::DOUBLE * y::DOUBLE) AS dot,
         SUM(x::DOUBLE * x::DOUBLE) AS na,
         SUM(y::DOUBLE * y::DOUBLE) AS nb
  FROM flat GROUP BY 1
)
SELECT vec_id::BIGINT AS vec_id, ROUND(dot / sqrt(na * nb), 6) AS cos_sim
FROM z ORDER BY dot / sqrt(na * nb) DESC, vec_id LIMIT {k}
""".strip()


def embed_lsh_buckets_sql(n_planes: int = 8, dim: int = 64) -> str:
    from ..operators.similarity import hyperplane_signs

    signs = hyperplane_signs(n_planes, dim)
    bits = []
    for i, row in enumerate(signs):
        terms = " + ".join(
            f"({float(s)} * embedding[{j + 1}]::DOUBLE)" for j, s in enumerate(row)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(bits)
    return (
        f"SELECT vec_id::BIGINT AS vec_id, ({bucket})::BIGINT AS bucket FROM embeddings"
    )


def embed_lsh_topk_sql(
    query_vec_id: int = 0, k: int = 10, n_planes: int = 8, dim: int = 64
) -> str:
    """LSH-pruned approximate top-k oracle: exact cosine among the vectors
    sharing the query's hyperplane bucket (mirrors similarity.lsh_topk —
    same deterministic ±1 planes as embed_lsh_buckets_sql)."""
    from ..operators.similarity import hyperplane_signs

    signs = hyperplane_signs(n_planes, dim)
    bits = []
    for i, row in enumerate(signs):
        terms = " + ".join(
            f"({float(s)} * embedding[{j + 1}]::DOUBLE)" for j, s in enumerate(row)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(bits)
    return f"""
WITH b AS (SELECT vec_id, embedding, ({bucket}) AS bucket FROM embeddings),
qb AS (SELECT bucket FROM b WHERE vec_id = {query_vec_id}),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {query_vec_id}),
cand AS (
  SELECT b.vec_id, b.embedding FROM b JOIN qb USING (bucket)
  WHERE b.vec_id <> {query_vec_id}
),
flat AS (
  SELECT c.vec_id, unnest(c.embedding) AS x, unnest(q.qe) AS y
  FROM cand c CROSS JOIN q
),
z AS (
  SELECT vec_id,
         SUM(x::DOUBLE * y::DOUBLE) AS dot,
         SUM(x::DOUBLE * x::DOUBLE) AS na,
         SUM(y::DOUBLE * y::DOUBLE) AS nb
  FROM flat GROUP BY 1
)
SELECT vec_id::BIGINT AS vec_id, ROUND(dot / sqrt(na * nb), 6) AS cos_sim
FROM z ORDER BY dot / sqrt(na * nb) DESC, vec_id LIMIT {k}
""".strip()


def embed_neardup_sql(
    threshold: float = 0.35, n_planes: int = 4, dim: int = 64
) -> str:
    from ..operators.similarity import hyperplane_signs

    signs = hyperplane_signs(n_planes, dim)
    bits = []
    for i, row in enumerate(signs):
        terms = " + ".join(
            f"({float(s)} * embedding[{j + 1}]::DOUBLE)" for j, s in enumerate(row)
        )
        bits.append(f"(CASE WHEN ({terms}) > 0 THEN {1 << i} ELSE 0 END)")
    bucket = " + ".join(bits)
    return f"""
WITH b AS (SELECT vec_id, embedding, ({bucket}) AS bucket FROM embeddings),
p AS (
  SELECT a.vec_id AS va, b2.vec_id AS vb,
         unnest(a.embedding) AS x, unnest(b2.embedding) AS y
  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
),
z AS (
  SELECT va, vb,
         SUM(x::DOUBLE * y::DOUBLE) AS dot,
         SUM(x::DOUBLE * x::DOUBLE) AS na,
         SUM(y::DOUBLE * y::DOUBLE) AS nb
  FROM p GROUP BY 1, 2
)
SELECT va::BIGINT AS vec_a, vb::BIGINT AS vec_b,
       ROUND(dot / sqrt(na * nb), 6) AS cos_sim
FROM z WHERE dot / sqrt(na * nb) >= {threshold}
""".strip()


IVF_ROUND_DP = 9  # mirror of operators/similarity.IVF_ROUND_DP


def _ivf_train_ctes(n_centroids: int, n_iter: int, dim: int) -> tuple[str, str]:
    """Unrolled Lloyd-iteration CTEs mirroring similarity.ivf_train_centroids.

    Returns (cte_block, final_centroid_cte) where the final CTE has shape
    (cid, d, cv): centroid components as DATA — every distance and every
    per-dim mean is ROUND()ed exactly like the engine, so the trained
    codebook is bit-identical across engines.
    """
    dp = IVF_ROUND_DP
    dims = f"LATERAL (SELECT unnest(range(1, {dim + 1})) AS d) dd"
    ctes = [
        f"""cf0 AS (
  SELECT vec_id AS cid, d, embedding[d]::DOUBLE AS cv
  FROM embeddings, {dims}
  WHERE vec_id < {n_centroids}
)"""
    ]
    cur = "cf0"
    for it in range(1, n_iter + 1):
        ctes.append(
            f"""d{it} AS (
  SELECT e.vec_id, c.cid,
         ROUND(SUM((e.embedding[c.d]::DOUBLE - c.cv) * (e.embedding[c.d]::DOUBLE - c.cv)), {dp}) AS dist
  FROM embeddings e CROSS JOIN {cur} c
  GROUP BY 1, 2
)"""
        )
        ctes.append(
            f"""a{it} AS (
  SELECT vec_id, cid AS centroid FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d{it}
  ) rr WHERE rn = 1
)"""
        )
        ctes.append(
            f"""cf{it} AS (
  SELECT g.cid, g.d, COALESCE(m.cv, g.cv) AS cv
  FROM {cur} g LEFT JOIN (
    SELECT a.centroid AS cid, dd.d, ROUND(AVG(e.embedding[dd.d]::DOUBLE), {dp}) AS cv
    FROM embeddings e JOIN a{it} a USING (vec_id), {dims}
    GROUP BY 1, 2
  ) m ON m.cid = g.cid AND m.d = g.d
)"""
        )
        cur = f"cf{it}"
    return ",\n".join(ctes), cur


def embed_ivf_assign_sql(n_centroids: int = 8, n_iter: int = 2, dim: int = 64) -> str:
    """IVF list assignment oracle under the LLOYD-TRAINED codebook:
    ``n_iter`` unrolled training iterations from the lowest-vec_id seeds,
    then argmin of the rounded squared L2 (ties -> lowest cid) — the same
    arithmetic, rounding, and empty-cluster fallback as the engine's
    ``ivf_train_centroids`` + ``ivf_assign``."""
    train, cur = _ivf_train_ctes(n_centroids, n_iter, dim)
    dp = IVF_ROUND_DP
    return f"""
WITH {train},
dfin AS (
  SELECT e.vec_id, c.cid,
         ROUND(SUM((e.embedding[c.d]::DOUBLE - c.cv) * (e.embedding[c.d]::DOUBLE - c.cv)), {dp}) AS dist
  FROM embeddings e CROSS JOIN {cur} c
  GROUP BY 1, 2
),
r AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM dfin
)
SELECT vec_id::BIGINT AS vec_id, cid::BIGINT AS centroid FROM r WHERE rn = 1
""".strip()


def embed_ivf_topk_sql(
    query_vec_id: int = 0,
    k: int = 10,
    n_centroids: int = 8,
    n_probe: int = 2,
    n_iter: int = 2,
    dim: int = 64,
) -> str:
    """IVF-pruned cosine top-k oracle: candidates = vectors assigned to the
    ``n_probe`` trained centroids nearest the query vector."""
    assign = embed_ivf_assign_sql(n_centroids, n_iter, dim)
    train, cur = _ivf_train_ctes(n_centroids, n_iter, dim)
    dp = IVF_ROUND_DP
    return f"""
WITH a AS ({assign}),
{train},
qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = {query_vec_id}),
qd AS (
  SELECT c.cid,
         ROUND(SUM((q.qe[c.d]::DOUBLE - c.cv) * (q.qe[c.d]::DOUBLE - c.cv)), {dp}) AS dist
  FROM {cur} c CROSS JOIN qv q
  GROUP BY 1
),
probes AS (SELECT cid FROM qd ORDER BY dist, cid LIMIT {n_probe}),
cand AS (
  SELECT a.vec_id FROM a
  WHERE a.centroid IN (SELECT cid FROM probes) AND a.vec_id <> {query_vec_id}
),
flat AS (
  SELECT e.vec_id, unnest(e.embedding) AS x, unnest(q.qe) AS y
  FROM embeddings e JOIN cand USING (vec_id) CROSS JOIN qv q
),
z AS (
  SELECT vec_id,
         SUM(x::DOUBLE * y::DOUBLE) AS dot,
         SUM(x::DOUBLE * x::DOUBLE) AS na,
         SUM(y::DOUBLE * y::DOUBLE) AS nb
  FROM flat GROUP BY 1
)
SELECT vec_id::BIGINT AS vec_id, ROUND(dot / sqrt(na * nb), 6) AS cos_sim
FROM z ORDER BY dot / sqrt(na * nb) DESC, vec_id LIMIT {k}
""".strip()


def lang_id_sql() -> str:
    return r"""
SELECT doc_id::BIGINT AS doc_id,
       len(regexp_extract_all(text, '[一-龥]'))::BIGINT AS n_cjk,
       len(regexp_extract_all(text, '[A-Za-z]'))::BIGINT AS n_latin,
       CASE WHEN len(regexp_extract_all(text, '[一-龥]')) > len(regexp_extract_all(text, '[A-Za-z]')) THEN 'cjk'
            WHEN len(regexp_extract_all(text, '[A-Za-z]')) > 0 THEN 'en'
            ELSE 'unknown' END AS lang_guess
FROM documents
""".strip()


def quality_sql() -> str:
    stop = ", ".join(f"'{w}'" for w in ("a", "the", "of", "and", "to", "in", "is"))
    return f"""
WITH b AS (
  SELECT doc_id, length(text) AS n_chars, len(string_split(text, ' ')) AS n_words,
         len(list_filter(string_split(text, ' '), w -> w IN ({stop}))) AS n_stop
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id, n_chars::BIGINT AS n_chars, n_words::BIGINT AS n_words,
       ROUND((n_chars - (n_words - 1))::DOUBLE / n_words, 6) AS avg_word_len,
       ROUND(n_stop::DOUBLE / n_words, 6) AS stop_ratio,
       ROUND(ln(1.0 + n_words) * (1.0 - n_stop::DOUBLE / n_words), 6) AS quality
FROM b
""".strip()


def token_counts_sql() -> str:
    return """
SELECT doc_id::BIGINT AS doc_id,
       len(list_filter(string_split(text, ' '), w -> w <> ''))::BIGINT AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z_][A-Za-z0-9_]*'))::BIGINT AS n_idents,
       len(regexp_extract_all(text, '[0-9]+'))::BIGINT AS n_numbers,
       len(regexp_extract_all(text, '[A-Za-z]{1,4}'))::BIGINT AS n_subwords
FROM documents
""".strip()


def fingerprint_sql() -> str:
    return f"""
WITH {SHINGLE_CTES}
SELECT d.doc_id::BIGINT AS doc_id,
       COALESCE(MIN(md5(sh.shingle)), md5(d.text)) AS fingerprint
FROM documents d LEFT JOIN sh ON sh.doc_id = d.doc_id
GROUP BY d.doc_id, d.text
""".strip()


# Byte table of the synthetic media corpus (multimodal.synthesize_media):
# payload byte j of media i = byte (j % 32) of sha256("{seed}:{i}:{j//32}").
# DuckDB's sha256() returns the same hex as hashlib, so the bytes — and
# every feature derived from them — are reproducible engine-side.
def _media_bytes_ctes(n_media: int, seed: int, payload_bytes: int) -> str:
    n_chunks = -(-payload_bytes // 32)
    return f"""
ids AS (SELECT unnest(range(0, {n_media}))::BIGINT AS media_id),
hx AS (
  SELECT media_id, c, sha256('{seed}:' || media_id::VARCHAR || ':' || c::VARCHAR) AS h
  FROM ids, LATERAL (SELECT unnest(range(0, {n_chunks})) AS c) cc
),
bytes AS (
  SELECT media_id, c * 32 + k AS j,
         ('0x' || substring(h, k * 2 + 1, 2))::BIGINT AS v
  FROM hx, LATERAL (SELECT unnest(range(0, 32)) AS k) kk
  WHERE c * 32 + k < {payload_bytes}
)
""".strip()


def media_features_sql(
    n_media: int = 64, seed: int = 42, payload_bytes: int = 4096, dim: int = 8
) -> str:
    """Oracle for multimodal.extract_features over synthesize_media:
    per-stripe byte means (exact integer sums / float64), stripes =
    np.array_split(payload, dim) — payload_bytes divisible by dim here."""
    w = payload_bytes // dim
    fcols = ",\n       ".join(
        f"ROUND(MAX(CASE WHEN s = {i} THEN mean END), 6) AS f{i}" for i in range(dim)
    )
    return f"""
WITH {_media_bytes_ctes(n_media, seed, payload_bytes)},
stripes AS (
  SELECT media_id, j // {w} AS s, SUM(v)::DOUBLE / {w}.0 AS mean
  FROM bytes GROUP BY 1, 2
)
SELECT media_id,
       {fcols},
       {payload_bytes}::BIGINT AS n_bytes, TRUE AS ok
FROM stripes GROUP BY media_id
""".strip()


def media_thumbs_sql(
    n_media: int = 64, seed: int = 42, payload_bytes: int = 4096, thumb: int = 8
) -> str:
    """Oracle for multimodal.thumbnail_stats over synthesize_media.

    Image rows (media_id % 3 == 0) with w = 64 + (id%8)*16 and
    h = 48 + (id%8)*16; the stub decode tiles the payload bytes, so pixel
    flat index k has value byte[k % payload_bytes]; the thumb×thumb block
    pool is exact because both dims are divisible by ``thumb`` — block
    cell of pixel (y, x) is (y // (h/thumb), x // (w/thumb)), and each
    cell mean is an exact integer byte sum / (bh*bw*3) in float64 —
    identical to the reshape-pool kernel."""
    cells = ",\n       ".join(
        f"ROUND(MAX(CASE WHEN cell = {c} THEN mean END), 6) AS m{c}"
        for c in range(thumb * thumb)
    )
    return f"""
WITH {_media_bytes_ctes(n_media, seed, payload_bytes)},
imgs AS (
  SELECT media_id,
         (64 + (media_id % 8) * 16)::BIGINT AS w,
         (48 + (media_id % 8) * 16)::BIGINT AS h
  FROM ids WHERE media_id % 3 = 0
),
px AS (
  SELECT i.media_id, i.w, i.h,
         ((k // (i.w * 3)) // (i.h // {thumb})) * {thumb}
           + ((k % (i.w * 3)) // 3) // (i.w // {thumb}) AS cell,
         b.v
  FROM imgs i,
       LATERAL (SELECT unnest(range(0, i.h * i.w * 3)) AS k) kk
  JOIN bytes b ON b.media_id = i.media_id AND b.j = k % {payload_bytes}
),
m AS (
  SELECT media_id, cell,
         SUM(v)::DOUBLE / (MAX(h // {thumb}) * MAX(w // {thumb}) * 3) AS mean
  FROM px GROUP BY 1, 2
)
SELECT media_id,
       {thumb} AS thumb_w, {thumb} AS thumb_h,
       {cells},
       TRUE AS ok
FROM m GROUP BY media_id
""".strip()


def media_frames_sql(
    n_media: int = 64,
    seed: int = 42,
    payload_bytes: int = 4096,
    every_ms: int = 500,
    dim: int = 4,
) -> str:
    """Oracle for multimodal.sample_frames: video rows (media_id % 3 == 2,
    duration 1000 + 250*media_id), one frame per every_ms, feature = means
    of the dim splits of the 64-byte window at (ms*37) % (payload-64)."""
    mod = max(payload_bytes - 64, 1)
    w = 64 // dim
    fcols = ",\n       ".join(
        f"ROUND(MAX(CASE WHEN s = {i} THEN mean END), 6) AS f{i}" for i in range(dim)
    )
    return f"""
WITH {_media_bytes_ctes(n_media, seed, payload_bytes)},
vids AS (
  SELECT media_id, (1000 + media_id * 250)::BIGINT AS dur
  FROM ids WHERE media_id % 3 = 2
),
fr AS (
  SELECT media_id, (ms // {every_ms})::BIGINT AS frame_idx, ms::BIGINT AS frame_ms,
         (ms * 37) % {mod} AS off
  FROM vids, LATERAL (SELECT unnest(range(0, dur, {every_ms})) AS ms) mm
),
win AS (
  SELECT f.media_id, f.frame_idx, f.frame_ms, (b.j - f.off) // {w} AS s, b.v
  FROM fr f JOIN bytes b
    ON b.media_id = f.media_id AND b.j >= f.off AND b.j < f.off + 64
),
m AS (
  SELECT media_id, frame_idx, frame_ms, s, SUM(v)::DOUBLE / {w}.0 AS mean
  FROM win GROUP BY 1, 2, 3, 4
)
SELECT media_id, frame_idx, frame_ms,
       {fcols}
FROM m GROUP BY 1, 2, 3
""".strip()


def events_hourly_sql() -> str:
    return """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       COUNT(*)::BIGINT AS n_events,
       ROUND(SUM(value), 6) AS sum_value,
       COUNT(DISTINCT user_id)::BIGINT AS n_users
FROM events GROUP BY 1, 2
""".strip()


def sessionize_sql(gap_minutes: int = 30) -> str:
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
WITH o AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {gap_us}
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS session_id
  FROM o
)
SELECT user_id::BIGINT AS user_id, session_id::BIGINT AS session_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*)::BIGINT AS n_events
FROM s GROUP BY 1, 2
""".strip()
