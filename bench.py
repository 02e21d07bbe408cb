"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE COMPACT JSON line (the last stdout line):
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {"q1": sec, ...}, "sf": ..., "docs_per_sec": ...,
   "unhealthy": [names], "query_p50_ms": ..., "query_p95_ms": ...}

and writes the FULL artifact — per-entry rep arrays, spin probes,
/proc/stat steal shares, per-query p50 — to ``BENCH.json`` next to this
script (verdict r4 #1: the round-4 single-line full dump defeated the
driver's parser; the compact line is what the driver records, BENCH.json
is the evidence trail).

Extra keys (informational): docs_per_sec for the index build, n_docs,
query_p50_ms / query_p95_ms (the FIXTURES.md §4 reference query set,
warm serving latency — same workload as tools/scale_bench.py), and the
self-certification block below (BENCH.json only).

**Self-certifying timings** (round-3 verdict #1): this host shows
multi-second CPU-steal storms (spin rate 5.8-18.9 Mop/s on identical
code — BASELINE.md host-noise protocol), so a recorded number without
evidence of a clean window is meaningless. Every timed rep is now
bracketed by a pure-Python spin probe; the JSON embeds per-entry
``entries[name] = {secs, reps, probes, probe_min, healthy}`` where
``healthy`` means the winning rep's probes sit inside the documented
healthy band (>= --healthy-mops, default 11 Mop/s) AND the /proc/stat
steal share across the rep is <= --max-steal-pct (round 4: the spin
probe is single-threaded, so it can read clean while the hypervisor
throttles the other 31 vCPUs mid-parallel-stage — measured 27→73 s
build swings with clean spin probes; the kernel's steal jiffies account
for exactly that). ``unhealthy`` lists entries whose best rep never
landed in a clean window — those numbers are upper bounds, not
measurements. Reps continue (max 4-6) until a stable pair lands with
healthy probes.

Every timed entry is an adaptive min-of-N (stop when two consecutive
samples agree within 30% of each other and of the running best, AND the
best rep is probe-certified). Index queries are reported twice: ``q_*``
= COLD (DiskIndex LRUs cleared before every rep) and ``q_*_warm`` =
cached steady-state serving latency (ADVICE r2).

Run: python bench.py  [--sf-dir DIR] [--cpus N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument(
        "--healthy-mops",
        type=float,
        default=float(os.environ.get("SPARK_GRAFT_HEALTHY_MOPS", "11.0")),
        help="spin-probe floor (Mop/s) below which a window counts as "
        "steal-degraded (BASELINE.md: healthy ~12-17 on this host)",
    )
    ap.add_argument(
        "--max-steal-pct",
        type=float,
        default=float(os.environ.get("SPARK_GRAFT_MAX_STEAL_PCT", "5.0")),
        help="/proc/stat steal share (%% of NON-IDLE CPU time during the "
        "rep) above which a window counts as contended — catches "
        "PARALLEL-phase throttling the single-thread spin probe can't "
        "see. Steal is a STRAGGLER AMPLIFIER on barrier stages (each of "
        "32 tasks must finish before the stage ends), so a few %% of "
        "steal multiplies wall time: measured on this host, the same "
        "build is 12.6 s at 4.3%% steal-of-busy and 36.5 s at 11.5%%.",
    )
    ap.add_argument(
        "--p50-docs",
        type=int,
        default=int(os.environ.get("SPARK_GRAFT_P50_DOCS", "40000")),
        help="synthetic-corpus size for the FIXTURES p50/p95 block "
        "(matches tools/scale_bench.py's default)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from search_engine_spark.operators import dedup as D
    from search_engine_spark.operators import similarity as SIM
    from search_engine_spark.operators import textstats as TS
    from search_engine_spark.operators.postings import build_documents_from_testdata
    from search_engine_spark.session import get_spark

    spark = get_spark(
        app_name="bench",
        master=f"local[{args.cpus}]",
        shuffle_partitions=int(args.cpus),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sf = args.sf_dir.rstrip("/").split("sf")[-1]
    timings: dict[str, float] = {}
    entries: dict[str, dict] = {}  # per-entry self-certification block

    def spin_probe(n: int = 1_000_000) -> float:
        t0 = time.time()
        x = 0
        for i in range(n):
            x += i * i
        return round(n / (time.time() - t0) / 1e6, 2)

    def cpu_stat() -> list[int] | None:
        # /proc/stat first line: user nice system idle iowait irq softirq
        # steal — cumulative jiffies over ALL cpus
        try:
            with open("/proc/stat") as f:
                return [int(v) for v in f.readline().split()[1:9]]
        except Exception:
            return None

    def steal_pct(a: list[int] | None, b: list[int] | None) -> float | None:
        """Host-steal share of NON-IDLE CPU time between two /proc/stat
        snapshots. The single-thread spin probe misses PARALLEL-phase
        contention (one spinning thread can run clean while the other 31
        vCPUs are being throttled — measured on this host: 27→73 s build
        swings with healthy spin probes on both ends); steal jiffies are
        the hypervisor's own account of exactly that. Normalized by busy
        (total − idle − iowait) rather than total time so the signal
        means the same thing for a 1-wide query rep and a 32-wide build
        (steal only accrues against runnable vCPUs — 1% of TOTAL time is
        ~a third of a single busy core but noise for 32 busy cores)."""
        if a is None or b is None:
            return None
        d = [y - x for x, y in zip(a, b)]
        busy = sum(d) - d[3] - d[4]
        return round(100.0 * d[7] / busy, 2) if busy > 0 else None

    probe_before = spin_probe()

    # every timed() call registers itself here so the second-chance pass
    # at the end of the suite can re-time entries a steal burst left
    # uncertified (the burst is usually gone by then)
    timed_specs: dict = {}

    def timed(name: str, fn, max_reps: int = 4, reset=None, min_reps: int = 2):
        timed_specs[name] = (fn, max_reps, reset, min_reps)
        # adaptive min with per-rep probe certification (verdict r3 #1):
        # every rep is bracketed by spin probes; the stop rule requires a
        # stable consecutive pair (within 30% of each other AND of the
        # running best) PLUS healthy probes on the winning rep — a
        # SUSTAINED steal storm produces consecutive samples that agree
        # with each other while all being inflated (measured: two ~57 s
        # samples of a 2 s query), and the probes are what expose it.
        # ``reset`` (untimed) runs before EVERY rep — for index queries it
        # clears the DiskIndex LRUs so each sample is a COLD query; without
        # it, reps 2+ would hit segment/df caches and report warm-cache
        # latencies as if they were cold (ADVICE r2).
        best, best_i, prev, out = None, -1, None, None
        reps: list[float] = []
        probes: list[list[float]] = []
        steals: list[float | None] = []
        for i in range(max_reps):
            if reset is not None:
                reset()
            pb = spin_probe()
            cs0 = cpu_stat()
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            cs1 = cpu_stat()
            # a heavy (>5 s, 32-wide) entry leaves the JVM briefly busy
            # after fn returns (GC, executor-thread teardown); that
            # self-inflicted tail depresses the closing spin probe and
            # mis-reads as weather. Let it settle: the rep's own steal
            # account (cs0→cs1) already certifies the timed region
            # against TRUE external contention.
            if dt > 5:
                time.sleep(1.0)
            pa = spin_probe()
            reps.append(round(dt, 3))
            probes.append([pb, pa])
            steals.append(steal_pct(cs0, cs1))
            if best is None or dt < best:
                best, best_i = dt, i
            best_healthy = min(probes[best_i]) >= args.healthy_mops and (
                steals[best_i] is None or steals[best_i] <= args.max_steal_pct
            )
            stable_pair = (
                prev is not None
                and abs(dt - prev) <= 0.3 * max(dt, prev)
                and dt <= 1.3 * best
            )
            # min_reps=1: one probe-certified rep suffices (used for the
            # expensive streaming build, where min-of-2 costs 30+ s and a
            # healthy bracket already certifies the window)
            if best_healthy and (stable_pair or (min_reps == 1 and i + 1 >= min_reps)):
                break
            prev = dt
        timings[name] = round(best, 3)
        entries[name] = {
            "secs": round(best, 3),
            "reps": reps,
            "probes": probes,
            "steal_pct": steals,
            "probe_min": min(probes[best_i]),
            "healthy": min(probes[best_i]) >= args.healthy_mops
            and (steals[best_i] is None or steals[best_i] <= args.max_steal_pct),
        }
        return out

    # --- index build: the full persisted product (tokenize -> map-side
    # postings -> salted segments + manifest + lexicon on disk) ------------
    import shutil
    import tempfile

    from search_engine_spark.operators.segments import (
        index_stats,
        load_index,
        write_index,
    )
    from search_engine_spark.operators.wand import search_segments, topk_wand

    docs = build_documents_from_testdata(spark, args.sf_dir).cache()
    n_docs = docs.count()

    # JIT warmup: a miniature build compiles the codegen stages and spins
    # up the Python worker pool before the timed reps — sustained
    # throughput is the metric (a long-lived cluster doesn't re-JIT per
    # job; same rationale as tools/scale_bench.py's warmup build, and the
    # measured cause of the r3 30.8 s artifact: first-plan execution runs
    # largely interpreted while the C2 compile queue drains).
    warm_d = tempfile.mkdtemp(prefix="bench_warm_") + "/idx"
    write_index(docs.limit(500), warm_d, n_buckets=32, n_shards=1,
                n_salts=4, salt_threshold=max(n_docs // 8, 100))
    shutil.rmtree(os.path.dirname(warm_d), ignore_errors=True)

    build_dirs: list[str] = []

    def build_once():
        # fresh dir each rep (manifest resume would skip shards)
        d = tempfile.mkdtemp(prefix="bench_index_") + "/idx"
        build_dirs.append(d)
        write_index(
            docs,
            d,
            n_buckets=32,
            n_shards=2,
            n_salts=4,
            salt_threshold=max(n_docs // 8, 100),
        )

    timed("index_build", build_once, max_reps=6)
    index_dir = build_dirs[0]
    for d in build_dirs[1:]:
        shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    di = load_index(spark, index_dir)
    n_postings = int(index_stats(di).collect()[0]["n_postings"])

    # --- query side: compressed blob path (the product query engine) -------
    # Protocol (ADVICE r2): cold and warm are timed SEPARATELY. q_* = cold
    # (the DiskIndex LRUs are cleared before every rep, so min-of-N never
    # reads a prior rep's segment/df cache); q_*_warm = the same query with
    # the caches primed (the steady-state serving latency, the number the
    # reference's LRU-fronted read path reports). Round-1/2 q_* values mixed
    # the two (warm reps inside min-of-N), closest to today's _warm column.
    search_segments(di, "table").collect()  # JVM/codegen warmup (then cleared)

    def timed_query(name: str, fn):
        timed(name, fn, reset=di.clear_caches)  # cold: LRUs dropped per rep
        timed(f"{name}_warm", fn)  # warm: caches left primed from above

    for qname, q in [
        ("q_single", "table"),
        ("q_and", "table spark"),
        ("q_not", "table -dup"),
        ("q_site", "spark site:src3"),
        ("q_rare", "dup"),
    ]:
        timed_query(qname, lambda q=q: search_segments(di, q).collect())
    # cold-query floor (verdict r4 #7): same cold q_single but with the
    # df metadata primed at "load time" (one untimed job in the reset),
    # so the timed region is the blob-fetch job alone — the before/after
    # pair the verdict asks BENCH_r05 to record
    timed(
        "q_single_primed",
        lambda: search_segments(di, "table").collect(),
        reset=lambda: (di.clear_caches(), di.prime()),
    )
    timed_query("q_wand_topk", lambda: topk_wand(di, "customer query", 10))
    from search_engine_spark.operators.wand import topk_bm25_wand

    timed_query("q_bm25_topk", lambda: topk_bm25_wand(di, "customer query", 10))
    # executor-side plans, forced — the latency an off-driver-budget query
    # pays (everything stays in Spark; driver holds only the winners)
    timed_query(
        "q_dist_and",
        lambda: search_segments(di, "table spark", max_driver_postings=0).collect(),
    )
    timed_query(
        "q_dist_bm25_topk",
        lambda: topk_bm25_wand(di, "customer query", 10, max_driver_postings=0),
    )
    # batched multi-query plan vs the same 8 queries as 8 independent
    # jobs (verdict r4 missing #1 / wrong #2): one pruned scan + one
    # decode per term + one product-keyed shuffle vs 8× the single-query
    # path. All cold (LRUs cleared per rep) — the offline query-set
    # sweep is a cold workload by nature. TWO loop twins, because the
    # single-query router has two tiers: the driver-LRU route (wins at
    # sf0.1 — tiny postings, 5 distinct terms shared across the 8
    # queries stay hot in the segment LRU; this is WHY the router
    # exists) and the executor-side route (what every query becomes at
    # corpus scale, where per-term postings exceed the driver valve —
    # the apples-to-apples twin for the batched DataFrame plan).
    from search_engine_spark.operators.wand import topk_scores_many

    MANY8 = [
        ("m1", "customer query"),
        ("m2", "table spark"),
        ("m3", "table dup"),
        ("m4", "customer table"),
        ("m5", "spark query"),
        ("m6", "dup query"),
        ("m7", "customer spark"),
        ("m8", "table query"),
    ]
    timed(
        "q_topk_many8",
        lambda: topk_scores_many(di, MANY8, 10).collect(),
        max_reps=3,
        reset=di.clear_caches,
    )
    timed(
        "q_topk_loop8_driver",
        lambda: [topk_bm25_wand(di, q, 10) for _, q in MANY8],
        max_reps=3,
        reset=di.clear_caches,
    )
    timed(
        "q_topk_loop8_dist",
        lambda: [
            topk_bm25_wand(di, q, 10, max_driver_postings=0) for _, q in MANY8
        ],
        max_reps=2,
        reset=di.clear_caches,
    )

    # --- FIXTURES.md §4 query latency percentiles (verdict r3 #7) -------
    # Same workload as tools/scale_bench.py (REFERENCE_QUERY_SET over the
    # synthetic source-code corpus, warm serving latency), so the p50 that
    # BASELINE.md's scaling tables report in prose is machine-readable
    # here next to the build number.
    import statistics

    from search_engine_spark.corpus import REFERENCE_QUERY_SET, generate_corpus
    from search_engine_spark.operators.postings import build_documents_from_corpus

    fx_root = tempfile.mkdtemp(prefix="bench_fixtures_")
    fx_docs_dir = fx_root + "/documents"
    build_documents_from_corpus(
        generate_corpus(spark, args.p50_docs, n_partitions=128)
    ).write.parquet(fx_docs_dir)
    fx_idx = fx_root + "/idx"
    write_index(
        spark.read.parquet(fx_docs_dir),
        fx_idx,
        n_buckets=128,
        n_shards=1,
        n_salts=8,
        salt_threshold=max(args.p50_docs // 8, 1000),
    )
    fx_di = load_index(spark, fx_idx)
    for _, q in REFERENCE_QUERY_SET:  # warmup (JIT + parquet footer cache)
        search_segments(fx_di, q).collect()
    # the whole percentile block is one ~30 s contiguous region, so a
    # single mid-block steal burst uncertifies it; measure up to 3 times
    # and keep the first certified block (the per-attempt probes/steal
    # of the kept attempt are what's recorded)
    for _fx_attempt in range(3):
        p50_probe_before = spin_probe()
        fx_cs0 = cpu_stat()
        lat: dict[str, list[float]] = {qid: [] for qid, _ in REFERENCE_QUERY_SET}
        for _ in range(7):
            for qid, q in REFERENCE_QUERY_SET:
                t1 = time.time()
                search_segments(fx_di, q).collect()
                lat[qid].append((time.time() - t1) * 1000)
        fx_cs1 = cpu_stat()
        p50_probe_after = spin_probe()
        fx_steal = steal_pct(fx_cs0, fx_cs1)
        all_lat = [v for vs in lat.values() for v in vs]
        query_p50_ms = round(statistics.median(all_lat), 2)
        query_p95_ms = round(sorted(all_lat)[int(len(all_lat) * 0.95)], 2)
        per_query_p50_ms = {
            qid: round(statistics.median(vs), 2) for qid, vs in lat.items()
        }
        entries["fixtures_query_block"] = {
            "secs": None,
            "probes": [[p50_probe_before, p50_probe_after]],
            "steal_pct": [fx_steal],
            "probe_min": min(p50_probe_before, p50_probe_after),
            "healthy": min(p50_probe_before, p50_probe_after) >= args.healthy_mops
            and (fx_steal is None or fx_steal <= args.max_steal_pct),
        }
        if entries["fixtures_query_block"]["healthy"]:
            break
    shutil.rmtree(fx_root, ignore_errors=True)

    # --- training-data ops ----------------------------------------------------
    # repartition: the single-file local parquet otherwise pins every
    # narrow stage (shingle explode, token hash) to ONE core
    raw = (
        spark.read.parquet(f"{args.sf_dir}/documents.parquet")
        .repartition(int(args.cpus))
        .cache()
    )
    raw.count()
    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet").cache()
    emb.count()
    # Plan warmup on a tiny slice before each timed op: the index builds
    # above flood the C2 compile queue with generated classes, so the
    # FIRST execution of each new whole-stage-codegen plan runs largely
    # interpreted (measured: the shingle-explode stage 44 s cold vs 3 s
    # once JIT'd, in the same JVM). Steady-state is the metric (a
    # long-lived cluster doesn't re-JIT per job — same rationale as
    # tools/scale_bench.py's warmup build); the warmup is outside the
    # timed region.
    small = raw.limit(50).cache()
    small.count()
    ops = [
        ("dedup_minhash", lambda df=raw: D.minhash_candidate_pairs(df)),
        ("dedup_jaccard", lambda df=raw: D.ngram_jaccard_pairs(df)),
        ("dedup_simhash", lambda df=raw: D.simhash(df)),
        ("text_quality", lambda df=raw: TS.quality_score(df)),
    ]
    for _name, op in ops:
        op(small).collect()
    SIM.cosine_topk(emb.limit(50), query_vec_id=0).collect()
    for name, op in ops:
        timed(name, lambda op=op: op(raw).collect())
    timed("embed_knn", lambda: SIM.cosine_topk(emb, query_vec_id=0).collect())

    # --- streaming ingest throughput (informational, single rep: the
    # foreachBatch generations path over the same corpus in 4 arrivals) ---
    from search_engine_spark.operators.wand import search_segments as _ss
    from search_engine_spark.streaming.ingest import (
        start_incremental_index,
        stream_documents,
    )

    sroot = tempfile.mkdtemp(prefix="bench_stream_")
    arrivals = os.path.join(sroot, "arrivals")
    docs.repartition(4).write.parquet(arrivals)
    sdirs: list[str] = []

    def stream_once():
        # fresh index + checkpoint dir per rep (re-using one would let the
        # checkpoint mark every arrival already-processed)
        sdir = tempfile.mkdtemp(prefix="bench_stream_idx_", dir=sroot) + "/idx"
        sdirs.append(sdir)
        q = start_incremental_index(
            stream_documents(spark, arrivals), sdir, n_buckets=16, n_salts=2
        )
        q.awaitTermination(600)

    # min_reps=1: a single probe-certified rep suffices; retries happen
    # only when the bracket shows a degraded window (up to 3)
    timed("streaming_index_build", stream_once, max_reps=3, min_reps=1)
    _ss(load_index(spark, sdirs[-1]), "table").collect()  # searchable check

    # --- second-chance certification pass (weather robustness) ---------
    # A steal burst that spans every rep of ONE entry leaves it
    # uncertified even when the rest of the suite ran clean (observed:
    # three consecutive full runs, each with a DIFFERENT 1-2 entries
    # unhealthy). Re-time exactly those entries now that the burst has
    # usually passed: a retry that certifies replaces the original; a
    # retry still unhealthy keeps whichever best rep was faster.
    # fixtures_query_block is a composite (not a timed() entry), so it
    # is re-measured wholesale rather than per-entry — not retried here.
    for name in [
        n for n, e in entries.items() if not e["healthy"] and n in timed_specs
    ]:
        fn, mr, rs, mnr = timed_specs[name]
        old_t, old_e = timings[name], entries[name]
        timed(name, fn, max_reps=mr, reset=rs, min_reps=mnr)
        if not entries[name]["healthy"] and old_t <= timings[name]:
            timings[name], entries[name] = old_t, old_e
        else:
            entries[name]["second_chance"] = True
            entries[name]["first_pass"] = old_e  # keep the rejected evidence
    for d in build_dirs:
        if d != index_dir:
            shutil.rmtree(os.path.dirname(d), ignore_errors=True)
    shutil.rmtree(sroot, ignore_errors=True)

    shutil.rmtree(os.path.dirname(index_dir), ignore_errors=True)
    total = round(sum(timings.values()), 3)
    # Output protocol (verdict r4 #1): the round-4 single-line JSON with
    # per-rep probe/steal arrays for ~30 entries defeated the driver's
    # tail capture (BENCH_r04 `parsed: null`). The FULL self-certification
    # block now goes to BENCH.json on disk next to this script; stdout's
    # LAST line is a compact machine-readable summary — headline secs,
    # docs_per_sec, p50/p95, and the `unhealthy` list only.
    summary = {
        "metric": "index_build_plus_query_suite_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": n_docs,
        "n_postings": n_postings,
        # timings, not build_sec: a second-chance retry may have
        # re-certified index_build after build_sec was captured
        "docs_per_sec": round(n_docs / timings["index_build"], 1),
        "cpus": int(args.cpus),
        "timing_protocol": "adaptive_min_probe_certified",
        "healthy_band_mops": args.healthy_mops,
        "unhealthy": sorted(k for k, v in entries.items() if not v["healthy"]),
        "query_p50_ms": query_p50_ms,
        "query_p95_ms": query_p95_ms,
        "p50_corpus_docs": args.p50_docs,
        "detail": "BENCH.json",
    }
    full = dict(summary)
    full.update(
        {
            "noise_probe_mops": [probe_before, spin_probe()],
            "entries": entries,
            "per_query_p50_ms": per_query_p50_ms,
        }
    )
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH.json"
    )
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
