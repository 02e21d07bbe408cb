"""One benchmark workload, run in its own process by ``run.py``.

    python3 perfbench/workload.py --workload NAME --seed N --seconds S \
        --trace 0|1 --root DIR

Writes its raw state (set-up timings, per-op latencies, check results,
spans and CPU samples when traced) to ``DIR/state.json`` before ops (at
most once a second), when timing starts and at the end, so the parent can
report a run that hangs or dies part-way.
Metrics are computed from that state by ``report.py``.

All workloads are closed-loop with one client: the next op starts when the
previous one returns.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import threading
import time
import traceback
from contextlib import nullcontext

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

BUILD_DOCS = 4000
SERVE_DOCS = 2500
INGEST_DOCS_PER_FILE = 500
ROUNDS_PER_BUILD = 1
# a write cycle (one build) outlasts --seconds; a run times this many, the
# fewest that give the determinism check two builds of one seed
WRITE_CYCLES = 2
# a serve cycle takes about this long on a 4-vCPU host. A run times a fixed
# number of cycles, --seconds of work at that rate, so a faster or slower
# host changes the timings, not the number of samples behind them
SERVE_CYCLE_S = 10.0
# every shard costs a few seconds of fixed Spark job overhead; two shards
# keep the shard loop, salting and layout while two builds fit a run
BUILD_SHARDS = 2
# Terms with df above this take the salted encode path. The library
# default (250 000) salts nothing at the sizes a run can build, while
# write_index's own notes say every bigram term is hot at corpus scale; 0
# salts every term, so the built index has the production layout. The
# salted shares of terms and postings are measured on every build.
SALT_THRESHOLD = 0
OPEN_REPEATS = 3
OP_TIMEOUT_S = 60.0
# distinct queries resident on the warm index handle, and how many of them
# run (round robin) after each cold search of a cycle
WARM_QUERIES = 32
WARM_PER_STOP = 8
TOPK_K = 10
ORACLE_QUERIES = 2


class Run:
    """Workload context: Spark session, state file, tracer and op timer."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.root = args.root
        self.state: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": bool(args.trace),
            "phase": "setup",
            "setup": {},
            "ops": {},
            "items": {},
            "attempted": 0,
            "failed": 0,
            "failures": [],
            "checks": {},
            "layers": {},
        }
        self._last_flush = 0.0
        self.spark = None
        self.tracer = None
        self.sampler = None

    # -- state -------------------------------------------------------------
    def flush(self, force: bool = False) -> None:
        now = time.monotonic()
        if not force and now - self._last_flush < 1.0:
            return
        self._last_flush = now
        if self.tracer is not None:
            self.state["spans"] = self.tracer.spans
        if self.sampler is not None:
            self.state["cpu_samples"] = self.sampler.samples
        path = os.path.join(self.root, "state.json")
        with open(path + ".tmp", "w") as f:
            json.dump(self.state, f)
        os.replace(path + ".tmp", path)

    def layer(self, name: str, value) -> None:
        self.state["layers"].setdefault(name, []).append(value)

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    # -- ops ---------------------------------------------------------------
    def op(self, kind: str, fn, items: int = 1):
        """Run one timed op. A raise or a timeout (Spark jobs cancelled by a
        watchdog) counts as a failed op and returns None."""
        self.state["attempted"] += 1
        self.state["in_flight"] = kind
        self.flush()
        timer = threading.Timer(OP_TIMEOUT_S, self.spark.sparkContext.cancelAllJobs)
        timer.start()
        try:
            with self.span(f"op:{kind}"):
                t = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t
        except Exception as e:  # a failing op is a measurement, not a crash
            self.fail(f"{kind}: {type(e).__name__}: {e}"[:300])
            return None
        finally:
            timer.cancel()
            self.state["in_flight"] = None
        self.state["ops"].setdefault(kind, []).append(dt * 1000.0)
        self.state["items"][kind] = self.state["items"].get(kind, 0) + items
        return out

    def fail(self, msg: str) -> None:
        self.state["failed"] += 1
        self.state["failures"].append(msg)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """An output check outside the timed region; a failed check counts
        as a failed op."""
        self.state["attempted"] += 1
        self.state["checks"][name] = {"ok": bool(ok), "detail": detail[:300]}
        if not ok:
            self.fail(f"check {name}: {detail}"[:300])

    def start_measure(self) -> None:
        self.state["phase"] = "measure"
        self.flush(force=True)


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def index_digest(index_dir: str) -> tuple[str, str]:
    """(lexicon digest over sorted (term_id, df, ctf), segment digest over
    every segment row including the blob bytes)."""
    import pyarrow.parquet as pq

    lex = pq.read_table(os.path.join(index_dir, "lexicon"), columns=["term_id", "df", "ctf"])
    rows = sorted(zip(*(lex[c].to_pylist() for c in ("term_id", "df", "ctf"))))
    h_lex = hashlib.sha256(repr(rows).encode()).hexdigest()
    seg = pq.read_table(os.path.join(index_dir, "segments"))
    cols = ["term_id", "salt", "bucket", "df", "ctf", "blob", "block_last", "block_max_tf", "block_offsets"]
    srows = sorted(zip(*(seg[c].to_pylist() for c in cols)), key=lambda r: (r[0], r[1]))
    h = hashlib.sha256()
    for r in srows:
        h.update(repr(r).encode())
    return h_lex, h.hexdigest()


def rounded(rows) -> list[tuple[int, float]]:
    return [(int(d), round(float(s), 6)) for d, s in rows]


def oracle_topk(docs_dir: str, queries: list[str], k: int) -> dict[str, list[tuple[int, float]]]:
    """BM25 top-k from ``oracle/sqlgen.bm25_topk_sql`` on DuckDB, over a
    ``documents(doc_id, text := title || ' ' || body)`` view of the doc
    store the program wrote."""
    import duckdb

    from search_engine_spark.oracle.sqlgen import bm25_topk_sql

    con = duckdb.connect()
    try:
        src = os.path.join(docs_dir, "**", "*.parquet")
        con.execute(
            "CREATE TABLE documents AS SELECT doc_id, title || ' ' || body AS text "
            f"FROM read_parquet('{src}')"
        )
        return {
            q: [(int(d), round(float(s), 6)) for d, s, _r in con.execute(bm25_topk_sql(q, k)).fetchall()]
            for q in queries
        }
    finally:
        con.close()


def start_session(run: Run) -> None:
    from search_engine_spark.session import get_spark

    cpus = os.environ["SPARK_GRAFT_CPUS"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run.root, "warehouse"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    t = time.perf_counter()
    run.spark = get_spark(
        app_name=f"perfbench-{run.args.workload}",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        extra_conf=conf,
    )
    run.state["setup"]["session_s"] = time.perf_counter() - t
    if run.tracer is not None:
        run.tracer.sc = run.spark.sparkContext


def gen_corpus(run: Run, n_docs: int) -> str:
    path = os.path.join(run.root, "corpus.parquet")
    t = time.perf_counter()
    run.state["setup"]["text_bytes"] = gen.write_table(gen.corpus_table(run.args.seed, n_docs), path)
    run.state["setup"]["gen_s"] = time.perf_counter() - t
    run.state["setup"]["n_docs"] = n_docs
    return path


def open_index(run: Run, index_dir: str):
    """``load_index`` + ``prime()``, repeated; the median goes to setup_s."""
    from search_engine_spark.operators import segments

    times, di = [], None
    for _ in range(OPEN_REPEATS):
        t = time.perf_counter()
        di = segments.load_index(run.spark, index_dir)
        di.prime()
        times.append(time.perf_counter() - t)
    run.state["setup"]["open_s"] = times
    return di


def record_index(run: Run, index_dir: str) -> None:
    """Bytes on disk per part, and the shares of terms and postings that
    took the salted encode path (lexicon df above the threshold)."""
    import pyarrow.parquet as pq

    for part in ("documents", "segments", "lexicon"):
        p = os.path.join(index_dir, part)
        run.layer(f"bytes.{part}", dir_bytes(p) if os.path.isdir(p) else 0)
    run.layer("bytes.index", dir_bytes(index_dir))
    df = pq.read_table(os.path.join(index_dir, "lexicon"), columns=["df"])["df"].to_numpy()
    hot = df > SALT_THRESHOLD
    run.layer("salted_term_share", float(hot.mean()))
    run.layer("salted_posting_share", float(df[hot].sum() / df.sum()))


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


def build_once(run: Run, corpus: str, index_dir: str, n_docs: int, **kw):
    from search_engine_spark.operators import postings, segments

    docs = postings.build_documents_from_corpus(run.spark.read.parquet(corpus))
    return segments.write_index(
        docs, index_dir, salt_threshold=SALT_THRESHOLD, **kw
    )


def w_write(run: Run) -> None:
    """The write path. Each cycle times one batch build (corpus -> doc
    store -> ``write_index`` with library defaults but ``n_shards`` and
    ``salt_threshold``, into a fresh dir), then one streaming ingest
    round (it drains one new seeded arrival file through
    ``start_incremental_index(available_now=True)``), then ``load_index``
    and one fresh cold query. No query layer runs in the builds."""
    from search_engine_spark.operators import segments, wand
    from search_engine_spark.streaming import ingest

    corpus = gen_corpus(run, BUILD_DOCS)
    staging = os.path.join(run.root, "arrivals_staging")
    src = os.path.join(run.root, "arrivals")
    stream_dir = os.path.join(run.root, "stream_index")
    os.makedirs(staging)
    os.makedirs(src)
    t = time.perf_counter()
    for r in range(1 + WRITE_CYCLES * ROUNDS_PER_BUILD):
        gen.write_table(
            gen.documents_table(run.args.seed, INGEST_DOCS_PER_FILE, first=r * INGEST_DOCS_PER_FILE),
            os.path.join(staging, f"r{r:03d}.parquet"),
        )
    run.state["setup"]["gen_s"] += time.perf_counter() - t

    def drain(r: int):
        os.replace(os.path.join(staging, f"r{r:03d}.parquet"), os.path.join(src, f"r{r:03d}.parquet"))
        q = ingest.start_incremental_index(ingest.stream_documents(run.spark, src), stream_dir)
        q.awaitTermination()
        return q.recentProgress

    # the first Spark jobs of a process pay JIT and worker start-up; the
    # first drain pays them, and the streaming index exists before timing
    t = time.perf_counter()
    drain(0)
    run.state["setup"]["prep_s"] = time.perf_counter() - t
    probes = gen.query_stream(run.args.seed, 64, stream="fresh")
    run.start_measure()
    digests = []
    r = 1
    for i in range(WRITE_CYCLES):
        d = os.path.join(run.root, f"build{i}")
        meta = run.op("build", lambda: build_once(run, corpus, d, BUILD_DOCS, n_shards=BUILD_SHARDS), items=BUILD_DOCS)
        if meta is not None:
            record_index(run, d)
            run.layer("n_docs_indexed", meta.n_docs)
            if len(digests) < 2:
                digests.append(index_digest(d))
        shutil.rmtree(d, ignore_errors=True)
        for _ in range(ROUNDS_PER_BUILD):
            progress = run.op("ingest_round", lambda: drain(r), items=INGEST_DOCS_PER_FILE)
            for p in progress or []:
                dur = p.get("durationMs", {})
                run.layer("trigger_ms", dur.get("triggerExecution", 0))
                run.layer("addbatch_ms", dur.get("addBatch", 0))
                run.layer("batch_docs", p.get("numInputRows", 0))
            r += 1
        t = time.perf_counter()
        di = segments.load_index(run.spark, stream_dir)
        run.layer("load_ms", (time.perf_counter() - t) * 1000)
        q = probes[i % len(probes)]
        run.op("fresh_query", lambda: wand.search_segments(di, q).collect())
    run.state["phase"] = "checks"
    run.layer("live_gens", sum(1 for d in os.listdir(os.path.join(stream_dir, "segments")) if d.startswith("gen=")))
    with open(os.path.join(stream_dir, "manifest.jsonl")) as f:
        run.layer("compactions", sum(1 for line in f if '"compact"' in line))
    n_ok = run.state["layers"].get("n_docs_indexed", [])
    run.check("build_docs_indexed", bool(n_ok) and all(n == BUILD_DOCS for n in n_ok),
              f"n_docs {n_ok} != {BUILD_DOCS}")
    run.check("build_deterministic_lexicon", len(digests) == 2 and digests[0][0] == digests[1][0],
              "lexicon (term_id, df, ctf) rows differ between two builds of one seed")
    run.check("build_deterministic_segments", len(digests) == 2 and digests[0][1] == digests[1][1],
              "segment rows/blobs differ between two builds of one seed")
    di = segments.load_index(run.spark, stream_dir)
    run.check("ingest_doc_count", di.meta.n_docs == r * INGEST_DOCS_PER_FILE,
              f"streaming index n_docs {di.meta.n_docs} != {r * INGEST_DOCS_PER_FILE} ingested")
    want = oracle_topk(os.path.join(stream_dir, "documents"), gen.topk_queries(run.args.seed, 1), TOPK_K)
    for q, rows in want.items():
        got = rounded(wand.topk_bm25_wand(di, q, k=TOPK_K))
        run.check(f"ingest_bm25_equals_oracle[{q}]", got == rows, f"engine {got[:3]} vs oracle {rows[:3]}")


def serve_cycles(seconds: float) -> int:
    return max(1, round(seconds / SERVE_CYCLE_S))


def query_terms(query: str) -> list[int]:
    from search_engine_spark.functions.tokenizer import tokenize_query
    from search_engine_spark.operators.search import parse_query

    pq = parse_query(query)
    return [t for kw in pq.keywords + pq.exclusions for t, _ in tokenize_query(kw)]


def w_serve(run: Run) -> None:
    """Serving over one built index (n_shards=1), through two handles.
    The cold handle's caches are cleared before every op on it, because
    the segment LRU holds more terms than the whole bigram lexicon. The
    warm handle is primed in set-up with a working set of
    ``WARM_QUERIES`` distinct queries that fits its LRUs, so a query on
    it runs no Spark job. A run times ``serve_cycles(--seconds)``
    cycles; each cycle is, per query shape (hot, mid and rare df bands,
    AND, ``-x``, ``site:``, CJK, empty):

    - one cold ``search_segments``;
    - ``WARM_PER_STOP`` warm queries, round robin over the working set;

    and, spread between the shapes so that every op kind's samples span
    the cycle rather than one burst of it:

    - ``topk_bm25_wand`` on the default (driver) route;
    - the same query with ``max_driver_postings=0``: the executor route
      every query takes at corpus scale;
    - one ``topk_scores_many`` batch of four queries, that one included.
    """
    from search_engine_spark.operators import segments, wand

    corpus = gen_corpus(run, SERVE_DOCS)
    index_dir = os.path.join(run.root, "index")
    t = time.perf_counter()
    build_once(run, corpus, index_dir, SERVE_DOCS, n_shards=1)
    run.state["setup"]["prep_s"] = time.perf_counter() - t
    record_index(run, index_dir)
    di = open_index(run, index_dir)
    # a cold search runs about half again slower until the JVM has compiled
    # its plans once; a long-running server pays that once, so one untimed
    # pass of every shape is set-up
    t = time.perf_counter()
    for q in gen.query_stream(run.args.seed, len(gen.SHAPES), stream="warmup"):
        di.clear_caches()
        wand.search_segments(di, q).collect()
    n_shapes = len(gen.SHAPES)
    queries = gen.query_stream(run.args.seed, 64 * n_shapes, stream="cold")
    # the working set holds the first cycle's cold queries, so warm and
    # cold results can be compared, and more of every shape
    warm_q = queries[:n_shapes] + gen.query_stream(run.args.seed, WARM_QUERIES - n_shapes, stream="warm")
    dw = segments.load_index(run.spark, index_dir)
    dw.prime()
    wand.fetch_term_segments(dw, sorted({t for q in warm_q for t in query_terms(q)}))
    for q in warm_q:  # loads the site doc sets
        wand.search_segments(dw, q).collect()
    run.state["setup"]["prep_s"] += time.perf_counter() - t
    n_warm = 0
    topk_q = gen.topk_queries(run.args.seed, 256)
    run.start_measure()
    cold: dict[str, list] = {}
    warm: dict[str, list] = {}
    driver: dict[str, list] = {}
    execr: dict[str, list] = {}
    batch: dict[str, list] = {}
    blocks = [0, 0]

    def topk_driver(qs: list[str]) -> None:
        di.clear_caches()
        res = run.op("topk_driver", lambda: wand.topk_bm25_wand(di, qs[0], k=TOPK_K))
        if res is not None:
            driver[qs[0]] = res
            st = getattr(wand.topk_bm25_wand, "last_stats", {})
            blocks[0] += st.get("blocks_decoded", 0)
            blocks[1] += st.get("blocks_total", 0)
        if run.tracer is not None:  # the df lookup alone: prime(term_ids) on cleared caches
            di.clear_caches()
            tids = sorted(set(query_terms(qs[0])))
            t = time.perf_counter()
            di.prime(tids)
            run.layer("df_lookup_ms", (time.perf_counter() - t) * 1000)

    def topk_exec(qs: list[str]) -> None:
        di.clear_caches()
        res = run.op("topk_exec", lambda: wand.topk_bm25_wand(di, qs[0], k=TOPK_K, max_driver_postings=0))
        if res is not None:
            execr[qs[0]] = res

    def topk_batch(qs: list[str]) -> None:
        di.clear_caches()
        rows = run.op(
            "topk_batch",
            lambda: wand.topk_scores_many(di, [(f"q{j}", q) for j, q in enumerate(qs)], k=TOPK_K).collect(),
            items=len(qs),
        )
        if rows is not None:
            for j, q in enumerate(qs):
                got = sorted((x["rank"], x["doc_id"], x["score"]) for x in rows if x["qid"] == f"q{j}")
                batch[q] = [(d, s) for _r, d, s in got]

    # after the shape at this position of a cycle, run this top-k op
    topk_after = {2: topk_driver, 5: topk_exec, n_shapes - 1: topk_batch}
    for c in range(serve_cycles(run.args.seconds)):
        qs = topk_q[4 * c:4 * c + 4]
        for i, q in enumerate(queries[c * n_shapes:(c + 1) * n_shapes]):
            di.clear_caches()
            rows = run.op("cold_search", lambda: wand.search_segments(di, q).collect())
            if rows is not None:
                cold.setdefault(q, [(x["doc_id"], x["score"]) for x in rows])
            for _ in range(WARM_PER_STOP):
                wq = warm_q[n_warm % WARM_QUERIES]
                n_warm += 1
                rows = run.op("warm", lambda: wand.search_segments(dw, wq).collect())
                if rows is not None:
                    warm.setdefault(wq, [(x["doc_id"], x["score"]) for x in rows])
            if i in topk_after:
                topk_after[i](qs)
    run.layer("blocks_decoded", blocks[0])
    run.layer("blocks_total", blocks[1])
    run.state["phase"] = "checks"
    for q, res in warm.items():
        if q in cold:
            run.check(f"warm_equals_cold[{q}]", rounded(res) == rounded(cold[q]),
                      f"{len(res)} warm rows vs {len(cold[q])} cold rows")
    for name, other in (("exec", execr), ("batch", batch)):
        for q, res in other.items():
            if q in driver:
                run.check(f"driver_equals_{name}[{q}]", rounded(driver[q]) == rounded(res),
                          f"driver {rounded(driver[q])[:3]} vs {name} {rounded(res)[:3]}")
    oq = list(driver)[:ORACLE_QUERIES]
    for q, want in oracle_topk(os.path.join(index_dir, "documents"), oq, TOPK_K).items():
        run.check(f"bm25_equals_oracle[{q}]", rounded(driver[q]) == want,
                  f"engine {rounded(driver[q])[:3]} vs oracle {want[:3]}")
    run.check("cold_results_nonempty", sum(1 for v in cold.values() if v) >= 2,
              "fewer than 2 cold queries matched any document")


WORKLOADS = {"write": w_write, "serve": w_serve}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--scale", type=float, default=1.0, help="corpus size multiplier (smoke tests)")
    args = ap.parse_args(argv)
    global BUILD_DOCS, SERVE_DOCS, INGEST_DOCS_PER_FILE
    BUILD_DOCS = max(int(BUILD_DOCS * args.scale), 50)
    SERVE_DOCS = max(int(SERVE_DOCS * args.scale), 50)
    INGEST_DOCS_PER_FILE = max(int(INGEST_DOCS_PER_FILE * args.scale), 20)
    run = Run(args)
    if args.trace:
        import tracing as tr

        run.tracer = tr.Tracer()
        run.sampler = tr.CpuSampler().start()
        tr.install_wrappers(run.tracer)
    try:
        run.flush(force=True)
        start_session(run)
        WORKLOADS[args.workload](run)
        run.state["phase"] = "done"
    except Exception:  # report the run instead of losing it; run.py counts the cut
        run.state["failures"].append("workload aborted: " + traceback.format_exc()[-1500:])
    finally:
        if run.sampler is not None:
            run.sampler.stop()
        run.flush(force=True)
        if run.spark is not None:
            t = time.perf_counter()
            run.spark.stop()
            run.state["stop_s"] = time.perf_counter() - t
            run.flush(force=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
