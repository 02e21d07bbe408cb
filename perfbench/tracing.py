"""Tracing for the benchmark's traced run: spans, process-tree CPU and the
Spark event log.

Spans are recorded from outside the program, around calls to its public
functions (``install_wrappers`` swaps module attributes for timing
wrappers). Each span carries its wall interval and the job group it ran
under; ``CpuSampler`` samples the CPU-seconds of the whole process tree
(driver Python, JVM, Python workers) so CPU can be charged to any
interval afterwards. ``parse_event_log`` reads Spark's JSON event log and
sums stages, tasks, task CPU, shuffle, spill and input records per job,
with the file paths its SQL plan scans; ``attribute`` hands each job to
the span that launched it.
"""

from __future__ import annotations

import functools
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


def session_procs(sid: int) -> list[tuple[int, list[str]]]:
    """``(pid, stat fields after the command name)`` of every process in
    session ``sid``, from ``/proc/<pid>/stat``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            out.append((int(name), fields))
    return out


def session_cpu_s() -> float:
    """CPU-seconds (user+sys, including reaped children) of every process
    in this process's session: the driver, the JVM and its Python workers."""
    ticks = sum(sum(int(x) for x in fields[11:15]) for _pid, fields in session_procs(os.getsid(0)))
    return ticks / _CLK


class CpuSampler:
    """Background sampler of the session's CPU-seconds, so CPU can be
    attributed to Spark job intervals taken from the event log."""

    def __init__(self, period_s: float = 0.05) -> None:
        self.samples: list[tuple[float, float]] = []
        self._period = period_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "CpuSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples.append((time.time(), session_cpu_s()))
            self._stop.wait(self._period)

    def stop(self) -> list[tuple[float, float]]:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.samples


def cpu_between(samples: list[tuple[float, float]], t0: float, t1: float) -> float:
    """CPU-seconds spent in [t0, t1], linearly interpolated between samples."""
    if not samples or t1 <= t0:
        return 0.0

    def at(t: float) -> float:
        import bisect

        i = bisect.bisect_left(samples, (t, -1.0))
        if i <= 0:
            return samples[0][1]
        if i >= len(samples):
            return samples[-1][1]
        (ta, ca), (tb, cb) = samples[i - 1], samples[i]
        return ca + (cb - ca) * ((t - ta) / (tb - ta) if tb > ta else 0.0)

    return max(at(t1) - at(t0), 0.0)


class Tracer:
    """Span recorder. Spans nest; a root span sets the Spark job group of
    the jobs launched inside it, so they can be found in the event log."""

    def __init__(self, spark_context=None) -> None:
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"id": len(self.spans), "name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        root = not self._stack
        rec["group"] = f"pb{rec['id']}" if root else self.spans[self._stack[0]]["group"]
        if root and self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if root and self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def install_wrappers(tracer: Tracer) -> None:
    """Wrap the program's public functions so every call records a span.

    Call sites inside the package resolve these names through the module
    that imported them, so both the defining module and the importing
    module get the wrapper."""
    from search_engine_spark.operators import postings, search, segments, wand
    from search_engine_spark.streaming import ingest

    def wrap(fn, name, before=None):
        @functools.wraps(fn)
        def inner(*a, **kw):
            attrs = before(*a, **kw) if before else {}
            with tracer.span(name, **attrs):
                return fn(*a, **kw)

        return inner

    def lru_probe(di, term_ids, *_a, **_k):
        hits = sum(1 for t in term_ids if t in di.segment_cache)
        return {"lru_hits": hits, "lru_lookups": len(term_ids)}

    targets = [
        ((postings,), "build_documents_from_corpus", "postings.build_documents_from_corpus", None),
        ((segments,), "write_index", "segments.write_index", None),
        ((segments,), "load_index", "segments.load_index", None),
        ((search, wand), "parse_query", "search.parse_query", None),
        ((wand,), "fetch_term_segments", "wand.fetch_term_segments", lru_probe),
        ((wand,), "search_segments", "wand.search_segments", None),
        ((wand,), "topk_bm25_wand", "wand.topk_bm25_wand", None),
        ((wand,), "topk_scores_many", "wand.topk_scores_many", None),
        ((ingest,), "start_incremental_index", "ingest.start_incremental_index", None),
    ]
    for mods, attr, name, before in targets:
        w = wrap(getattr(mods[0], attr), name, before)
        for m in mods:
            setattr(m, attr, w)
    prime = segments.DiskIndex.prime
    segments.DiskIndex.prime = wrap(prime, "segments.DiskIndex.prime")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def _event_files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if not f.startswith(("appstatus", "."))]
    return sorted(out)


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_LOCATION = re.compile(r"\[(.*)\]$")


def scan_paths(plan: dict) -> list[str]:
    """File paths read by the scans of a SQL plan (``sparkPlanInfo``),
    taken from each file scan's ``Location`` metadata."""
    out = []
    m = _LOCATION.search((plan.get("metadata") or {}).get("Location", ""))
    if m:
        out += [p.strip() for p in m.group(1).split(",") if p.strip()]
    for child in plan.get("children", []):
        out += scan_paths(child)
    return out


def parse_event_log(path: str) -> dict[int, dict]:
    """Job id -> {group, description, scans, t0, t1 (epoch s), stages,
    tasks, task_cpu_s, shuffle_write_bytes, shuffle_read_bytes,
    spill_bytes, input_records} from an uncompressed Spark JSON event log
    (file or directory). ``scans`` lists the file paths the job's SQL
    execution reads (empty for a job outside SQL). Every stage is charged
    to the first job that lists it: later jobs list an already-computed
    stage as skipped and run no tasks for it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    execs: dict[int, list[str]] = {}
    for fp in _event_files(path):
        with open(fp) as f:
            for line in f:
                if not line.strip():
                    continue
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:  # a torn last line of a killed run
                    continue
                ev = e.get("Event")
                if ev == _SQL_START:
                    execs[e["executionId"]] = scan_paths(e.get("sparkPlanInfo") or {})
                elif ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jid = e["Job ID"]
                    exec_id = props.get("spark.sql.execution.id")
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "description": props.get("spark.job.description"),
                        "scans": execs.get(int(exec_id), []) if exec_id is not None else [],
                        "t0": e["Submission Time"] / 1000.0,
                        "t1": None,
                        "stages": 0,
                        "tasks": 0,
                        "task_cpu_s": 0.0,
                        "shuffle_write_bytes": 0,
                        "shuffle_read_bytes": 0,
                        "spill_bytes": 0,
                        "input_records": 0,
                    }
                    for sid in e.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif ev == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
                elif ev == "SparkListenerTaskEnd":
                    tasks.append(e)
    ran_stages: dict[int, set] = defaultdict(set)
    for e in tasks:
        jid = stage_job.get(e["Stage ID"])
        m = e.get("Task Metrics")
        if jid is None or jid not in jobs or not m:
            continue
        j = jobs[jid]
        ran_stages[jid].add(e["Stage ID"])
        j["tasks"] += 1
        j["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        sw = m.get("Shuffle Write Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        j["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        j["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        j["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        j["input_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    for jid, j in jobs.items():
        j["stages"] = len(ran_stages[jid])
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return jobs


def attribute(spans: list[dict], jobs: dict[int, dict], slack_s: float = 0.002) -> dict[int, list[int]]:
    """Span id -> ids of the jobs it launched: the innermost span whose
    interval holds the job's submission time, among the spans of the job's
    group when the group is one of ours (jobs launched on other threads,
    such as Structured Streaming's, carry no group)."""
    groups = {s["group"] for s in spans}
    out: dict[int, list[int]] = defaultdict(list)
    for jid, j in sorted(jobs.items()):
        pool = [s for s in spans if s["group"] == j["group"]] if j["group"] in groups else spans
        holders = [
            s for s in pool if "t1" in s and s["t0"] - slack_s <= j["t0"] <= s["t1"] + slack_s
        ]
        if holders:
            out[max(holders, key=lambda s: s["t0"])["id"]].append(jid)
        elif pool is not spans:  # outside every interval: charge the group's root
            out[min(s["id"] for s in pool)].append(jid)
    return out


def subtree(spans: list[dict], root: int) -> list[int]:
    """Ids of ``root`` and all spans nested under it."""
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.get("parent") is not None:
            kids[s["parent"]].append(s["id"])
    out, todo = [], [root]
    while todo:
        i = todo.pop()
        out.append(i)
        todo += kids[i]
    return out
