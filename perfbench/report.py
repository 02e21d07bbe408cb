"""Metrics from a workload's raw state (``workload.py``) and, for a traced
run, from its spans, CPU samples and the Spark event log.

End-to-end metrics (every workload reports all of them):

- ``setup_s``: session start + input generation + workload preparation
  (``serve``: the index build and one untimed cold pass, plus the median
  of three index opens);
- ``op_p50_ms``: median latency of the workload's primary op (``write``:
  one batch build; ``serve``: one cold ``search_segments``);
- ``aux_p50_ms``: median latency of its secondary op (``write``: one
  streaming ingest round; ``serve``: one warm query);
- ``work_per_s``: items completed per second of op time (``write``:
  documents indexed by builds and ingest rounds; ``serve``: BM25 top-k
  queries answered by the driver, executor and batched routes). Every
  cycle of a workload runs each counted op once, so the ratio does not
  depend on how many cycles fit in a run;
- ``index_bytes_per_doc_byte``: bytes of the index on disk per byte of
  input document text (an exact count).
"""

from __future__ import annotations

import re

from stats import median, summary
from tracing import attribute, cpu_between, parse_event_log, subtree

# per workload: (op of op_p50_ms, op of aux_p50_ms, ops work_per_s counts)
OPS = {
    "write": ("build", "ingest_round", ["build", "ingest_round"]),
    "serve": ("cold_search", "warm", ["topk_driver", "topk_exec", "topk_batch"]),
}

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "aux_p50_ms": "ms",
    "work_per_s": "1/s",
    "index_bytes_per_doc_byte": "B/B",
}

# per-layer metric -> (unit, the end-to-end metric and workload it should move)
PER_LAYER = {
    "session.start_s": ("s", "setup_s, all"),
    "corpus.gen_s": ("s", "setup_s, all"),
    "segments.docstore.wall_s": ("s", "op_p50_ms, write"),
    "segments.docstore.cpu_s": ("s", "op_p50_ms, write"),
    "segments.encode.wall_s": ("s", "op_p50_ms, write"),
    "segments.encode.cpu_s": ("s", "op_p50_ms, write"),
    "segments.encode.shuffle_write_bytes": ("B", "op_p50_ms, write"),
    "segments.encode.spill_bytes": ("B", "op_p50_ms, write"),
    "segments.lexicon.wall_s": ("s", "op_p50_ms, write"),
    "segments.lexicon.cpu_s": ("s", "op_p50_ms, write"),
    "segments.build.jobs": ("count", "op_p50_ms, write"),
    "segments.build.tasks": ("count", "op_p50_ms, write"),
    "tokenizer.docstore_passes": ("count", "op_p50_ms, write"),
    "segments.salted.term_share": ("share", "op_p50_ms, all"),
    "segments.salted.posting_share": ("share", "op_p50_ms, all"),
    "segments.bytes.documents": ("B", "index_bytes_per_doc_byte, all"),
    "segments.bytes.segments": ("B", "index_bytes_per_doc_byte, all"),
    "segments.bytes.lexicon": ("B", "index_bytes_per_doc_byte, all"),
    "search.parse_us": ("us", "aux_p50_ms, serve"),
    "wand.fetch_warm_us": ("us", "aux_p50_ms, serve"),
    "wand.search_plan_ms": ("ms", "aux_p50_ms, serve"),
    "wand.collect_ms": ("ms", "aux_p50_ms, serve"),
    "wand.jobs_per_query.warm": ("count", "aux_p50_ms, serve"),
    "segments.lru.hit_share": ("share", "aux_p50_ms, serve"),
    "segments.df_lookup_ms": ("ms", "op_p50_ms, serve"),
    "wand.fetch_cold_ms": ("ms", "op_p50_ms, serve"),
    "wand.jobs_per_query.cold_search": ("count", "op_p50_ms, serve"),
    "wand.blocks_decoded_share": ("share", "work_per_s, serve"),
    "wand.jobs_per_query.exec_topk": ("count", "work_per_s, serve"),
    "wand.exec_topk.cpu_s": ("s", "work_per_s, serve"),
    "wand.exec_topk.shuffle_bytes": ("B", "work_per_s, serve"),
    "wand.batch.jobs": ("count", "work_per_s, serve"),
    "wand.batch.cpu_s": ("s", "work_per_s, serve"),
    "wand.batch.shuffle_bytes": ("B", "work_per_s, serve"),
    "ingest.trigger_ms": ("ms", "aux_p50_ms, write"),
    "ingest.addbatch_ms": ("ms", "aux_p50_ms, write"),
    "ingest.jobs_per_batch": ("count", "aux_p50_ms, write"),
    "ingest.cpu_s_per_batch": ("s", "aux_p50_ms, write"),
    "ingest.docstore_passes": ("count", "aux_p50_ms, write"),
    "ingest.compactions": ("count", "aux_p50_ms, write"),
    "ingest.live_gens": ("count", "fresh_query_p50_ms, write"),
    "ingest.load_ms": ("ms", "fresh_query_p50_ms, write"),
    "trace.overhead.setup_s": ("s", "tracing cost"),
    "trace.overhead.op_p50_ms": ("ms", "tracing cost"),
    "trace.overhead.aux_p50_ms": ("ms", "tracing cost"),
    "trace.overhead.work_per_s": ("1/s", "tracing cost"),
}


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(median(xs)) if xs else 0.0


def _scans_dir(job: dict, name: str) -> bool:
    """Whether the job's SQL plan scans a directory called ``name``."""
    return any(name in p.rstrip("/").split("/") for p in job.get("scans", []))


def end_to_end(state: dict) -> dict[str, float]:
    """The end-to-end metrics a (possibly partial) state supports."""
    setup = state.get("setup", {})
    ops = state.get("ops", {})
    items = state.get("items", {})
    primary, aux, counted = OPS[state["workload"]]
    out: dict[str, float] = {}
    if state.get("phase", "setup") != "setup":
        out["setup_s"] = (
            setup["session_s"] + setup["gen_s"] + setup["prep_s"] + _med(setup.get("open_s", []))
        )
    if ops.get(primary):
        out["op_p50_ms"] = median(ops[primary])
    if ops.get(aux):
        out["aux_p50_ms"] = median(ops[aux])
    busy_s = sum(sum(ops.get(k, [])) for k in counted) / 1000.0
    if busy_s > 0:
        out["work_per_s"] = sum(items.get(k, 0) for k in counted) / busy_s
    idx = state.get("layers", {}).get("bytes.index")
    if idx and setup.get("text_bytes"):
        out["index_bytes_per_doc_byte"] = _med(idx) / setup["text_bytes"]
    return out


def named(state: dict) -> list[tuple[str, float | None, str, int]]:
    """The workload's metrics under per-operation names (build_docs_per_s,
    query_cold_p50_ms, ...): (name, value, unit, sample count). Tails use
    the highest percentile that leaves at least ten samples beyond it; a
    latency with too few samples for any tail gets a ``<op>_tail_ms`` row
    with value None, so the gap is printed rather than hidden."""
    ops = state.get("ops", {})
    e2e = end_to_end(state)
    rows: list[tuple[str, float | None, str, int]] = []

    def lat(name: str, kind: str) -> None:
        s = summary(ops.get(kind, []))
        if "p50" in s:
            rows.append((f"{name}_p50_ms", s["p50"], "ms", s["n"]))
        if "tail" in s:
            rows.append((f"{name}_p{s['tail_pct']:g}_ms", s["tail"], "ms", s["n"]))
        elif "p50" in s:
            rows.append((f"{name}_tail_ms", None, "ms", s["n"]))

    def rate(name: str, kinds: list[str], unit: str) -> None:
        busy = sum(sum(ops.get(k, [])) for k in kinds) / 1000.0
        n = sum(len(ops.get(k, [])) for k in kinds)
        if busy > 0:
            rows.append((name, sum(state["items"].get(k, 0) for k in kinds) / busy, unit, n))

    w = state["workload"]
    if "setup_s" in e2e:
        rows.append(("setup_s", e2e["setup_s"], "s", len(state["setup"].get("open_s", [0]))))
    if w == "write":
        rate("build_docs_per_s", ["build"], "docs/s")
        lat("build", "build")
        rate("ingest_docs_per_s", ["ingest_round"], "docs/s")
        lat("ingest_round", "ingest_round")
        lat("fresh_query", "fresh_query")
    elif w == "serve":
        lat("query_cold", "cold_search")
        lat("query_warm", "warm")
        lat("topk_driver", "topk_driver")
        lat("topk_exec", "topk_exec")
        rate("topk_batch_qps", ["topk_batch"], "queries/s")
    if "index_bytes_per_doc_byte" in e2e:
        rows.append(("index_bytes_per_doc_byte", e2e["index_bytes_per_doc_byte"], "B/B",
                     len(state["layers"].get("bytes.index", []))))
    att = max(state.get("attempted", 0), 1)
    rows.append(("failed_op_share", state.get("failed", 0) / att, "share", att))
    return rows


def per_layer(state: dict, event_log: str | None) -> dict[str, float]:
    """Every per-layer metric (0 where the workload does not run the layer)."""
    spans = state.get("spans", [])
    samples = [tuple(s) for s in state.get("cpu_samples", [])]
    jobs = parse_event_log(event_log) if event_log else {}
    by_span = attribute(spans, jobs)
    layers = state.get("layers", {})
    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = state.get("setup", {}).get("session_s", 0.0)
    out["corpus.gen_s"] = state.get("setup", {}).get("gen_s", 0.0)

    def named_spans(name: str, under: str | None = None) -> list[dict]:
        found = [s for s in spans if s["name"] == name and "t1" in s]
        if under is None:
            return found
        roots = {s["id"] for s in spans if s["name"] == under}
        keep = set()
        for r in roots:
            keep.update(subtree(spans, r))
        return [s for s in found if s["id"] in keep]

    def jobs_under(span_list: list[dict]) -> list[dict]:
        ids = set()
        for s in span_list:
            for sid in subtree(spans, s["id"]):
                ids.update(by_span.get(sid, []))
        return [jobs[j] for j in sorted(ids)]

    def dur(s: dict, scale: float) -> float:
        return (s["t1"] - s["t0"]) * scale

    def cpu(span_list: list[dict]) -> float:
        return sum(cpu_between(samples, s["t0"], s["t1"]) for s in span_list)

    # -- build phases, per write_index call --------------------------------
    builds = named_spans("segments.write_index", under="op:build")
    if builds:
        n = len(builds)
        bjobs = jobs_under(builds)
        phases = {
            "docstore": re.compile(r"write_index:doc-store"),
            "encode": re.compile(r"write_index:shard \d+ encode"),
            "lexicon": re.compile(r"write_index:lexicon"),
        }
        for ph, pat in phases.items():
            pj = [j for j in bjobs if j["description"] and pat.match(j["description"])]
            out[f"segments.{ph}.wall_s"] = sum(j["t1"] - j["t0"] for j in pj) / n
            out[f"segments.{ph}.cpu_s"] = sum(cpu_between(samples, j["t0"], j["t1"]) for j in pj) / n
            if ph == "encode":
                out["segments.encode.shuffle_write_bytes"] = sum(j["shuffle_write_bytes"] for j in pj) / n
                out["segments.encode.spill_bytes"] = sum(j["spill_bytes"] for j in pj) / n
                # only the doc-store scans: each shard also runs a stats job
                # under its encode label that reads the shard's segments
                n_docs = _med(layers.get("n_docs_indexed", [])) or state.get("setup", {}).get("n_docs", 0)
                reads = [j for j in pj if _scans_dir(j, "documents")]
                if n_docs:
                    out["tokenizer.docstore_passes"] = sum(j["input_records"] for j in reads) / n / n_docs
        out["segments.build.jobs"] = len(bjobs) / n
        out["segments.build.tasks"] = sum(j["tasks"] for j in bjobs) / n
    for part in ("documents", "segments", "lexicon"):
        out[f"segments.bytes.{part}"] = _med(layers.get(f"bytes.{part}", []))
    out["segments.salted.term_share"] = _med(layers.get("salted_term_share", []))
    out["segments.salted.posting_share"] = _med(layers.get("salted_posting_share", []))

    # -- serving -----------------------------------------------------------
    warm = named_spans("op:warm")
    if warm:
        out["search.parse_us"] = _med([dur(s, 1e6) for s in named_spans("search.parse_query", "op:warm")])
        fetch = named_spans("wand.fetch_term_segments", "op:warm")
        out["wand.fetch_warm_us"] = _med([dur(s, 1e6) for s in fetch])
        plans = named_spans("wand.search_segments", "op:warm")
        out["wand.search_plan_ms"] = _med([dur(s, 1e3) for s in plans])
        plan_of = {s["parent"]: dur(s, 1e3) for s in plans}
        out["wand.collect_ms"] = _med([dur(s, 1e3) - plan_of[s["id"]] for s in warm if s["id"] in plan_of])
        out["wand.jobs_per_query.warm"] = len(jobs_under(warm)) / len(warm)
        lookups = sum(s.get("lru_lookups", 0) for s in fetch)
        out["segments.lru.hit_share"] = sum(s.get("lru_hits", 0) for s in fetch) / lookups if lookups else 0.0
    out["segments.df_lookup_ms"] = _med(layers.get("df_lookup_ms", []))
    cold = named_spans("op:cold_search")
    if cold:
        out["wand.fetch_cold_ms"] = _med([dur(s, 1e3) for s in named_spans("wand.fetch_term_segments", "op:cold_search")])
        out["wand.jobs_per_query.cold_search"] = len(jobs_under(cold)) / len(cold)
    total_blocks = sum(layers.get("blocks_total", []))
    if total_blocks:
        out["wand.blocks_decoded_share"] = sum(layers.get("blocks_decoded", [])) / total_blocks
    for kind, jobs_key, prefix in (
        ("op:topk_exec", "wand.jobs_per_query.exec_topk", "wand.exec_topk"),
        ("op:topk_batch", "wand.batch.jobs", "wand.batch"),
    ):
        sp = named_spans(kind)
        if not sp:
            continue
        js = jobs_under(sp)
        out[jobs_key] = len(js) / len(sp)
        out[f"{prefix}.cpu_s"] = cpu(sp) / len(sp)
        out[f"{prefix}.shuffle_bytes"] = sum(j["shuffle_write_bytes"] for j in js) / len(sp)

    # -- ingest ------------------------------------------------------------
    rounds = named_spans("op:ingest_round")
    n_batches = len(layers.get("trigger_ms", []))
    out["ingest.trigger_ms"] = _med(layers.get("trigger_ms", []))
    out["ingest.addbatch_ms"] = _med(layers.get("addbatch_ms", []))
    if rounds and n_batches:
        js = jobs_under(rounds)
        out["ingest.jobs_per_batch"] = len(js) / n_batches
        out["ingest.cpu_s_per_batch"] = cpu(rounds) / n_batches
        docs = sum(layers.get("batch_docs", []))
        # records of the arriving batches only: leave out the lexicon
        # rebuild and compaction jobs, which re-read the index's segments
        reads = [j for j in js if not _scans_dir(j, "segments")]
        if docs:
            out["ingest.docstore_passes"] = sum(j["input_records"] for j in reads) / docs
    out["ingest.compactions"] = _med(layers.get("compactions", []))
    out["ingest.live_gens"] = _med(layers.get("live_gens", []))
    out["ingest.load_ms"] = _med(layers.get("load_ms", []))
    return out
