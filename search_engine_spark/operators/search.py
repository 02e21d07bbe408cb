"""Query parse and result paging — the query-language half of the engine.

Scoring and ranking run over the compressed segment index in
``wand.py`` (``search_segments`` and the block-max top-k family); this
module holds what every query path and the reference oracle share:

- query parse (query_preprocess.go:14-34): space-split; ``-x`` → NOT,
  ``site:x`` → site filter (first wins), else AND keyword.
- the blocked-substring gate (web/service/search.go:48-57).
- the site host rule (util.UrlToHost, util.go:34-44).
- pagination (web/service/search.go:165-203): page pn in 1..10,
  10 items/page.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PER_SHARD_LIMIT = 50  # engine.go:65
PAGE_SIZE = 10  # web/service/search.go:168


@dataclass
class ParsedQuery:
    keywords: list[str] = field(default_factory=list)
    exclusions: list[str] = field(default_factory=list)
    site: str = ""


def has_illegal_keywords(query: str, blocked: list[str] | None = None) -> bool:
    """Driver-side blocked-substring gate (web/service/search.go:48-57).

    The reference refreshes ``blocked`` from a MySQL config table every
    few seconds (base.go:46-60); here it's a plain list the caller loads
    from whatever config store backs the deployment."""
    if not blocked:
        return False
    return any(k in query for k in blocked)


def parse_query(query: str) -> ParsedQuery:
    """query_preprocess.go:14-34, exactly."""
    pq = ParsedQuery()
    for fragment in query.split(" "):
        if not fragment:
            continue
        if fragment.startswith("-"):
            pq.exclusions.append(fragment[1:])
        elif fragment.startswith("site:"):
            if not pq.site:
                pq.site = fragment[5:]
        else:
            pq.keywords.append(fragment)
    return pq


def host_of(url: Column) -> Column:
    """Host of a URL, matching the reference's util.UrlToHost
    (util.go:34-44): authority between ``scheme://`` and the first ``/``,
    with everything after the LAST ``:`` (the port) stripped. Deliberate
    divergence (documented, SURVEY §7.4.4): a bare scheme-less value is
    treated as a host (Go's url.Parse gives Host="" there, which would
    make ``site:`` match nothing on non-URL corpus ids)."""
    host = F.regexp_extract(url, r"^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/]*)", 1)
    return F.regexp_replace(host, r":[^:]*$", "")


def paginate(ranked: DataFrame, pn: int) -> DataFrame:
    """web/service/search.go:165-203: page pn in 1..10, 10 items/page."""
    pn = max(1, min(10, pn))
    lo, hi = (pn - 1) * PAGE_SIZE, pn * PAGE_SIZE
    return ranked.filter((F.col("rank") > lo) & (F.col("rank") <= hi))
