"""Seeded inputs for the benchmark: a contract-shape corpus and query streams.

The program under test only ever sees what this module writes: a parquet
table ``(repo, path, commit, lang, content)`` and plain query strings.
Everything is a pure function of the seed (numpy ``PCG64``), so one seed
always gives byte-identical inputs.

Corpus shape:

- identifiers drawn from a Zipf-skewed vocabulary, so a few bigrams are
  very hot and most are rare;
- one document in six is ``lang='html'`` with a ``<title>``, so the HTML
  parse and the title field are exercised;
- CJK comment runs (U+4E00..U+9FA5), digits and punctuation run breakers.

Query streams mix the FIXTURES §4 shapes: hot, mid and rare identifiers,
multi-keyword AND, ``-x`` exclusion, ``site:``, CJK and the empty query.
The df band of a query comes from the vocabulary rank of its identifier,
never from the built index.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ZIPF_S = 1.1
N_IDENTS = 2000
N_ORGS = 5
REPOS_PER_ORG = 6

_LANGS = ["go", "py", "java", "js", "md", "html"]
_PUNCT = [" ", "(", ")", "{", "}", ".", ",", ";", " = ", " := ", "//", "#", "->"]
_LETTERS = "abcdefghijklmnopqrstuvwxyz"
# a CJK word list drawn from the tokenizer's indexable range
_CJK_BASE = 0x4E00
_CJK_SPAN = 0x9FA5 - 0x4E00


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream) so the corpus and each
    query stream do not shift when another one changes."""
    h = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "big")
    return np.random.Generator(np.random.PCG64(h))


def vocabulary() -> list[str]:
    """Zipf-ranked identifier vocabulary (rank 0 is the most frequent).

    The same for every seed: the seed picks the documents and queries, not
    the language, so df bands and index size do not drift between seeds."""
    rng = _rng(0, "vocab")
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < N_IDENTS:
        n = int(rng.integers(3, 10))
        w = "".join(_LETTERS[i] for i in rng.integers(0, 26, n))
        if rng.random() < 0.3:  # camelCase: tokens are case-sensitive
            w = w[0].upper() + w[1:]
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def cjk_words(n: int = 200) -> list[str]:
    rng = _rng(0, "cjk")
    return [
        "".join(chr(_CJK_BASE + int(c)) for c in rng.integers(0, _CJK_SPAN, int(k)))
        for k in rng.integers(2, 5, n)
    ]


def _zipf_p(n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** ZIPF_S
    return p / p.sum()


def repos() -> list[str]:
    return [f"org{o}x/repo{r}" for o in range(N_ORGS) for r in range(REPOS_PER_ORG)]


def _docs(seed: int, n_docs: int, first: int):
    """Yield ``(i, repo, path, commit, lang, title, body)`` for rows
    ``first .. first+n_docs-1``; non-HTML rows have an empty title."""
    vocab = vocabulary()
    cjk = cjk_words()
    p_id = _zipf_p(len(vocab))
    p_cjk = _zipf_p(len(cjk))
    rng = _rng(seed, f"corpus:{first}")
    repo_names = repos()
    for i in range(first, first + n_docs):
        lang = _LANGS[int(rng.integers(0, len(_LANGS)))]
        repo = repo_names[int(rng.integers(0, len(repo_names)))]
        path = f"src/pkg{int(rng.integers(0, 40))}/f{i}.{lang}"
        n_tok = int(np.clip(rng.lognormal(3.6, 0.6), 8, 400))
        toks = rng.choice(len(vocab), n_tok, p=p_id)
        kinds = rng.random(n_tok)
        punct = rng.integers(0, len(_PUNCT), n_tok)
        parts: list[str] = []
        for t, kind, pu in zip(toks.tolist(), kinds.tolist(), punct.tolist()):
            if kind < 0.08:
                parts.append(cjk[int(rng.choice(len(cjk), p=p_cjk))])
            elif kind < 0.14:
                parts.append(str(t * 7 % 1000))
            else:
                parts.append(vocab[t])
            parts.append(_PUNCT[pu] if kind > 0.02 else "\n")
        title = ""
        if lang == "html":
            words = " ".join(vocab[int(j)] for j in rng.choice(len(vocab), 3, p=p_id))
            title = f"{words} {cjk[i % len(cjk)]}"
        commit = hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest()
        yield i, repo, path, commit, lang, title, "".join(parts)


def corpus_table(seed: int, n_docs: int, first: int = 0) -> pa.Table:
    """Rows ``first .. first+n_docs-1`` of the seeded corpus in the input
    contract shape ``(repo, path, commit, lang, content)``."""
    cols: dict[str, list[str]] = {k: [] for k in ("repo", "path", "commit", "lang", "content")}
    for _i, repo, path, commit, lang, title, body in _docs(seed, n_docs, first):
        if lang == "html":
            body = f"<html><head><title>{title}</title></head><body><p>{body}</p></body></html>"
        for k, v in zip(cols, (repo, path, commit, lang, body)):
            cols[k].append(v)
    return pa.table({k: pa.array(v, pa.string()) for k, v in cols.items()})


def documents_table(seed: int, n_docs: int, first: int = 0) -> pa.Table:
    """The same rows already in the engine's documents shape ``(doc_id,
    url, title, body, content_sha256)``, doc ids ``first+1 ..``: the
    arrival files of the streaming ingest."""
    cols: dict[str, list] = {k: [] for k in ("doc_id", "url", "title", "body", "content_sha256")}
    for i, repo, path, commit, _lang, title, body in _docs(seed, n_docs, first):
        cols["doc_id"].append(i + 1)
        cols["url"].append(f"{repo}/{path}@{commit}")
        cols["title"].append(title)
        cols["body"].append(body)
        cols["content_sha256"].append(hashlib.sha256(body.encode()).hexdigest())
    types = {"doc_id": pa.int64()}
    return pa.table({k: pa.array(v, types.get(k, pa.string())) for k, v in cols.items()})


def text_bytes(table: pa.Table) -> int:
    """UTF-8 bytes of the document text: ``content``, or title + body."""
    import pyarrow.compute as pc

    cols = ["content"] if "content" in table.column_names else ["title", "body"]
    return sum(int(pc.sum(pc.binary_length(table[c])).as_py() or 0) for c in cols)


def write_table(table: pa.Table, path: str) -> int:
    """Write ``table`` as one parquet file; returns its text bytes."""
    pq.write_table(table, path)
    return text_bytes(table)


# query shapes (FIXTURES §4): a stream repeats them in this order, so every
# run of a stream has the same mix and only the words depend on the seed
SHAPES = ["hot", "mid", "rare", "and", "not", "site", "cjk", "empty"]


def _band(rng: np.random.Generator, vocab: list[str], band: str) -> str:
    lo, hi = {"hot": (0, 8), "mid": (30, 200), "rare": (800, len(vocab))}[band]
    return vocab[int(rng.integers(lo, hi))]


def query_stream(seed: int, n: int, stream: str = "serve") -> list[str]:
    """``n`` seeded queries cycling through ``SHAPES`` in order."""
    vocab = vocabulary()
    cjk = cjk_words()
    rng = _rng(seed, f"queries:{stream}")
    out: list[str] = []
    for i in range(n):
        shape = SHAPES[i % len(SHAPES)]
        if shape in ("hot", "mid", "rare"):
            q = _band(rng, vocab, shape)
        elif shape == "and":
            q = f"{_band(rng, vocab, 'hot')} {_band(rng, vocab, 'mid')}"
        elif shape == "not":
            q = f"{_band(rng, vocab, 'hot')} -{_band(rng, vocab, 'mid')}"
        elif shape == "site":
            q = f"{_band(rng, vocab, 'mid')} site:org{int(rng.integers(0, N_ORGS))}x"
        elif shape == "cjk":
            q = cjk[int(rng.integers(0, 20))]
        else:
            q = ""
        out.append(q)
    return out


def topk_queries(seed: int, n: int) -> list[str]:
    """Score-ordered (BM25 top-k) queries: one or two mid/rare identifiers,
    so every query matches some documents and its postings stay small."""
    vocab = vocabulary()
    rng = _rng(seed, "queries:topk")
    out = []
    for i in range(n):
        a = _band(rng, vocab, "mid")
        out.append(a if i % 2 == 0 else f"{a} {_band(rng, vocab, 'rare')}")
    return out
