"""Two-cluster-size scaling benchmark (BASELINE.md measurement protocol).

One COLD run = one JVM. Invoke once per (cores, repetition):

    spark-submit --master local[8] \
        --py-files /tmp/search_engine_spark_pyfiles.zip \
        tools/scale_bench.py --cores 8 --n-docs 40000

(or ``python tools/scale_bench.py --cores 8 ...`` — the session factory
ships the package zip itself, the --py-files equivalent).

Prints ONE JSON line:
    {"cores": N, "n_docs": D, "build_sec": s, "docs_per_sec": r,
     "query_p50_ms": m, "query_p95_ms": m2, "per_query_p50_ms": {...}}

The corpus is the deterministic synthetic source-code table in the
input_hint shape (corpus.py — pure function of the row index, no external
data); queries are the FIXTURES.md §4 reference query set.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# FIXTURES.md §4 — single definition shared with bench.py so both artifacts
# describe the same workload.
from search_engine_spark.corpus import REFERENCE_QUERY_SET as QUERY_SET  # noqa: E402


def _noise_probe(duration: float = 0.5) -> float:
    """Single-thread spin rate (iterations/sec) — a host-contention probe.

    This sandbox VM shows up-to-3x swings in single-thread speed from
    host-side CPU steal; runs whose probes differ materially are not
    comparable. Reported alongside every measurement so degraded windows
    are identifiable."""
    t_end = time.time() + duration
    c = 0
    x = 0
    while time.time() < t_end:
        for i in range(10_000):
            x += i * i
        c += 1
    return round(c / duration, 1)


def _cpu_stat() -> list[int] | None:
    """/proc/stat first line (user nice system idle iowait irq softirq
    steal), cumulative jiffies over all cpus."""
    try:
        with open("/proc/stat") as f:
            return [int(v) for v in f.readline().split()[1:9]]
    except Exception:
        return None


def _steal_pct(a: list[int] | None, b: list[int] | None) -> float | None:
    """Hypervisor steal share of ALL cpu time between two snapshots — the
    contention signal the single-thread spin probe can't see during the
    32-way-parallel build phases (one spinning thread can run clean while
    the other vCPUs are throttled)."""
    if a is None or b is None:
        return None
    d = [y - x for x, y in zip(a, b)]
    tot = sum(d)
    return round(100.0 * d[7] / tot, 2) if tot > 0 else None


def _steal_of_busy_pct(a: list[int] | None, b: list[int] | None) -> float | None:
    """Steal as a share of NON-IDLE time — the number that compares
    across parallelism widths. Total-time steal under-reports contention
    for narrow runs: 1% total steal on a 32-vCPU host is ~32% of a
    1-core run's only busy core but ~4% of an 8-core run's budget. The
    hypervisor charges steal only against runnable vCPUs, so
    steal/(total − idle − iowait) is width-normalized."""
    if a is None or b is None:
        return None
    d = [y - x for x, y in zip(a, b)]
    busy = sum(d) - d[3] - d[4]
    return round(100.0 * d[7] / busy, 2) if busy > 0 else None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--n-docs", type=int, default=40_000)
    ap.add_argument("--reps", type=int, default=10, help="query repetitions")
    ap.add_argument(
        "--salt-threshold", type=int, default=0,
        help="0 = auto: n_docs//8 (salt only terms in >12.5%% of docs; a "
        "fixed small threshold would salt every common bigram at larger "
        "corpus sizes and blow up the merge pass)",
    )
    args = ap.parse_args()
    if args.salt_threshold <= 0:
        args.salt_threshold = max(args.n_docs // 8, 1000)

    from search_engine_spark.corpus import generate_corpus
    from search_engine_spark.operators.postings import build_documents_from_corpus
    from search_engine_spark.operators.segments import load_index, write_index
    from search_engine_spark.operators.wand import search_segments
    from search_engine_spark.session import get_spark

    spark = get_spark(
        app_name=f"scale_bench_{args.cores}",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # Identical logical job at every parallelism level: input partitioning
    # and index layout (n_buckets) are FIXED; only the core count varies.
    #
    # The INPUT (corpus → documents table) is materialized to parquet
    # OUTSIDE the timed region: the north metric is index-build
    # throughput — tokenize → postings → compress → merge over a given
    # documents table (the reference's docs/sec likewise starts from
    # documents arriving, not from synthesizing them). This also matches
    # bench.py, which builds from the driver's documents.parquet.
    docs_dir = tempfile.mkdtemp(prefix="scale_docs_") + "/documents"
    build_documents_from_corpus(
        generate_corpus(spark, args.n_docs, n_partitions=128)
    ).write.parquet(docs_dir)
    docs = spark.read.parquet(docs_dir)

    # Warmup: a miniature build spins up the Python worker pool (pandas
    # import × cores), JIT-compiles the codegen stages, and initializes
    # the parquet writer paths. Sustained-throughput scaling is the metric
    # (a long-lived cluster doesn't re-JIT per job), so warmup is outside
    # the timed region.
    warm_dir = tempfile.mkdtemp(prefix="scale_warm_") + "/idx"
    write_index(docs.limit(2000), warm_dir, n_buckets=128, n_shards=1,
                n_salts=8, salt_threshold=args.salt_threshold)
    shutil.rmtree(os.path.dirname(warm_dir), ignore_errors=True)

    index_dir = tempfile.mkdtemp(prefix=f"scale_idx_{args.cores}_") + "/idx"
    probe_before = _noise_probe()
    cs0 = _cpu_stat()
    t0 = time.time()
    write_index(
        docs,
        index_dir,
        n_buckets=128,
        n_shards=1,
        n_salts=8,
        salt_threshold=args.salt_threshold,
    )
    build_sec = time.time() - t0
    cs1 = _cpu_stat()
    probe_after = _noise_probe()

    di = load_index(spark, index_dir)
    for _, q in QUERY_SET:  # warmup (JIT + parquet footer cache)
        search_segments(di, q).collect()
    lat: dict[str, list[float]] = {qid: [] for qid, _ in QUERY_SET}
    for _ in range(args.reps):
        for qid, q in QUERY_SET:
            t1 = time.time()
            search_segments(di, q).collect()
            lat[qid].append((time.time() - t1) * 1000)
    all_lat = [v for vs in lat.values() for v in vs]
    out = {
        "cores": args.cores,
        "n_docs": args.n_docs,
        "build_sec": round(build_sec, 2),
        "docs_per_sec": round(args.n_docs / build_sec, 1),
        "noise_probe": [probe_before, probe_after],
        "build_steal_pct": _steal_pct(cs0, cs1),
        "build_steal_of_busy_pct": _steal_of_busy_pct(cs0, cs1),
        "query_p50_ms": round(statistics.median(all_lat), 2),
        "query_p95_ms": round(sorted(all_lat)[int(len(all_lat) * 0.95)], 2),
        "per_query_p50_ms": {
            qid: round(statistics.median(vs), 2) for qid, vs in lat.items()
        },
    }
    shutil.rmtree(os.path.dirname(index_dir), ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
