"""Unit tests for the benchmark's statistics, event-log parser and metric
assembly, on small hand-written fixtures (no Spark needed)."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import report  # noqa: E402
import stats  # noqa: E402
import tracing  # noqa: E402


def test_percentile_matches_linear_interpolation():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0]
    assert stats.median(xs) == 3.0
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile(xs, 90) == pytest.approx(4.6)
    assert stats.percentile([7.0], 95) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(5, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (200, 95.0), (1000, 99.0)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert n * (100 - want) >= 1000


def test_summary_reports_count_and_tail_only_when_supported():
    assert stats.summary([]) == {"n": 0}
    small = stats.summary([1.0, 2.0, 3.0])
    assert small == {"n": 3, "p50": 2.0}
    big = stats.summary([float(i) for i in range(100)])
    assert big["n"] == 100 and big["tail_pct"] == 90.0
    assert big["tail"] == pytest.approx(89.1)


def test_steal_share():
    a = [100, 0, 100, 1000, 0, 0, 0, 10]
    b = [200, 0, 200, 2000, 0, 0, 0, 30]
    assert stats.steal_share(a, b) == pytest.approx(20 / 220)
    assert stats.steal_share(None, b) is None


def _event_log(tmp_path) -> str:
    """Two jobs; job 1 lists job 0's stage as skipped and runs one more."""
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "pb0", "spark.job.description": "write_index:lexicon"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Input Metrics": {"Records Read": 40}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 1_000_000_000, "Input Metrics": {"Records Read": 60}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1002_000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1003_000,
         "Stage IDs": [0, 1], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Executor CPU Time": 500_000_000,
            "Shuffle Read Metrics": {"Local Bytes Read": 30, "Remote Bytes Read": 12}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1004_500},
    ]
    p = tmp_path / "app"
    p.write_text("\n".join(json.dumps(e) for e in ev) + "\n{\"Event\": \"torn")
    return str(p)


def test_parse_event_log_charges_each_stage_to_its_first_job(tmp_path):
    jobs = tracing.parse_event_log(_event_log(tmp_path))
    j0, j1 = jobs[0], jobs[1]
    assert (j0["group"], j0["description"]) == ("pb0", "write_index:lexicon")
    assert (j0["t0"], j0["t1"]) == (1000.0, 1002.0)
    assert j0["tasks"] == 2 and j0["stages"] == 1
    assert j0["task_cpu_s"] == pytest.approx(3.0)
    assert j0["shuffle_write_bytes"] == 100 and j0["spill_bytes"] == 12
    assert j0["input_records"] == 100
    assert j1["tasks"] == 1 and j1["stages"] == 1  # stage 0 was skipped in job 1
    assert j1["shuffle_read_bytes"] == 42 and j1["group"] is None


def test_attribute_by_group_then_by_interval(tmp_path):
    jobs = tracing.parse_event_log(_event_log(tmp_path))
    spans = [
        {"id": 0, "name": "op:build", "parent": None, "group": "pb0", "t0": 999.5, "t1": 1002.5},
        {"id": 1, "name": "segments.write_index", "parent": 0, "group": "pb0", "t0": 999.9, "t1": 1002.4},
        {"id": 2, "name": "op:ingest_round", "parent": None, "group": "pb2", "t0": 1002.8, "t1": 1005.0},
    ]
    got = tracing.attribute(spans, jobs)
    assert got[1] == [0]  # innermost span of its group
    assert got[2] == [1]  # no group: the span whose interval holds it
    assert sorted(tracing.subtree(spans, 0)) == [0, 1]


def _sql_start(exec_id: int, *paths: str) -> dict:
    scans = [{"nodeName": "Scan parquet ", "children": [],
              "metadata": {"Location": f"InMemoryFileIndex(1 paths)[file:{p}]"}} for p in paths]
    return {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
            "executionId": exec_id, "sparkPlanInfo": {"nodeName": "WriteFiles", "children": scans, "metadata": {}}}


def _job(jid: int, t: float, desc: str, exec_id: int | None, records: int) -> list[dict]:
    props = {"spark.jobGroup.id": "pb0", "spark.job.description": desc}
    if exec_id is not None:
        props["spark.sql.execution.id"] = str(exec_id)
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": int(t * 1000),
         "Stage IDs": [jid], "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": jid, "Task Metrics": {
            "Executor CPU Time": 0, "Input Metrics": {"Records Read": records}}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": int(t * 1000) + 500},
    ]


def test_docstore_passes_count_only_doc_store_scans(tmp_path):
    """A shard's encode label also covers its stats job, which reads the
    shard's segments; those rows are not doc-store passes."""
    ev = (
        _job(0, 1000.0, "write_index:doc-store write", None, 100)
        + [_sql_start(1, "/x/build0/documents", "/x/build0/documents")]
        + _job(1, 1001.0, "write_index:shard 0 encode", 1, 200)  # df pass + postings pass
        + [_sql_start(2, "/x/build0/segments/shard=0")]
        + _job(2, 1002.0, "write_index:shard 0 encode", 2, 149)  # the per-shard stats job
        + [_sql_start(3, "/x/build0/segments")]
        + _job(3, 1003.0, "write_index:lexicon", 3, 149)
    )
    log = tmp_path / "app"
    log.write_text("\n".join(json.dumps(e) for e in ev))
    jobs = tracing.parse_event_log(str(log))
    assert jobs[1]["scans"] == ["file:/x/build0/documents"] * 2
    assert jobs[0]["scans"] == []
    st = _state("write")
    st["layers"]["n_docs_indexed"] = [100]
    st["spans"] = [
        {"id": 0, "name": "op:build", "parent": None, "group": "pb0", "t0": 999.0, "t1": 1004.0},
        {"id": 1, "name": "segments.write_index", "parent": 0, "group": "pb0", "t0": 999.5, "t1": 1003.9},
    ]
    got = report.per_layer(st, str(log))
    assert got["tokenizer.docstore_passes"] == 2.0
    assert got["segments.build.jobs"] == 4.0
    assert got["segments.encode.wall_s"] == pytest.approx(1.0)


def test_cpu_between_interpolates():
    samples = [(0.0, 0.0), (1.0, 2.0), (2.0, 2.0)]
    assert tracing.cpu_between(samples, 0.5, 1.5) == pytest.approx(1.0)
    assert tracing.cpu_between(samples, 2.0, 1.0) == 0.0
    assert tracing.cpu_between([], 0.0, 1.0) == 0.0


def _state(workload: str) -> dict:
    ops = {
        "write": {"build": [10_000.0, 12_000.0], "ingest_round": [3000.0, 3000.0, 4000.0],
                  "fresh_query": [400.0]},
        "serve": {"cold_search": [500.0, 300.0, 400.0], "warm": [20.0] * 50,
                  "topk_driver": [300.0], "topk_exec": [2000.0], "topk_batch": [4000.0]},
    }[workload]
    items = {"write": {"build": 8000, "ingest_round": 1500, "fresh_query": 1},
             "serve": {"cold_search": 3, "warm": 50, "topk_driver": 1, "topk_exec": 1, "topk_batch": 4}}[workload]
    return {
        "workload": workload, "seed": 1, "trace": False, "phase": "done",
        "setup": {"session_s": 6.0, "gen_s": 1.0, "prep_s": 10.0, "open_s": [0.5, 0.2, 0.3], "text_bytes": 1000},
        "ops": ops, "items": items, "attempted": 10, "failed": 0, "checks": {},
        "layers": {"bytes.index": [2500, 2600, 2500]},
    }


def test_end_to_end_metrics():
    w = report.end_to_end(_state("write"))
    assert set(w) == set(report.END_TO_END)
    assert w["setup_s"] == pytest.approx(17.3)
    assert w["op_p50_ms"] == 11_000.0 and w["aux_p50_ms"] == 3000.0
    assert w["work_per_s"] == pytest.approx(9500 / 32.0)
    assert w["index_bytes_per_doc_byte"] == 2.5
    s = report.end_to_end(_state("serve"))
    assert s["op_p50_ms"] == 400.0 and s["aux_p50_ms"] == 20.0
    assert s["work_per_s"] == pytest.approx(6 / 6.3)  # top-k routes only


def test_partial_state_reports_what_it_has():
    st = _state("serve")
    st["ops"] = {}
    assert set(report.end_to_end(st)) == {"setup_s", "index_bytes_per_doc_byte"}
    st["phase"] = "setup"  # cut during set-up: no set-up time either
    assert set(report.end_to_end(st)) == {"index_bytes_per_doc_byte"}


def test_named_metrics_carry_units_and_counts():
    rows = {name: (unit, n) for name, _v, unit, n in report.named(_state("serve"))}
    assert rows["query_cold_p50_ms"] == ("ms", 3)
    assert rows["query_cold_tail_ms"] == ("ms", 3)  # too few samples: printed as a gap
    values = {name: v for name, v, *_ in report.named(_state("serve"))}
    assert values["query_cold_tail_ms"] is None and "query_warm_tail_ms" not in values
    assert rows["query_warm_p75_ms"] == ("ms", 50)  # 50 samples: p75 leaves 12.5 beyond
    assert rows["topk_batch_qps"] == ("queries/s", 1)
    assert rows["failed_op_share"] == ("share", 10)
    assert {"build_docs_per_s", "ingest_docs_per_s", "fresh_query_p50_ms"} <= {
        name for name, *_ in report.named(_state("write"))
    }


def test_per_layer_reports_every_metric_without_a_trace():
    got = report.per_layer(_state("write"), None)
    assert set(report.PER_LAYER) - {k for k in report.PER_LAYER if k.startswith("trace.")} <= set(got)
    assert got["session.start_s"] == 6.0


def test_benchmark_json_matches_the_reports():
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == sorted(report.OPS, reverse=True)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == {k: u for k, (u, _w) in report.PER_LAYER.items()}


def test_tracer_nests_spans_under_one_job_group():
    t = tracing.Tracer()
    with t.span("op:warm"):
        with t.span("wand.search_segments", lru_hits=2) as inner:
            pass
    with t.span("op:warm"):
        pass
    a, b, c = t.spans
    assert (a["parent"], b["parent"], c["parent"]) == (None, 0, None)
    assert a["group"] == b["group"] != c["group"]
    assert inner["lru_hits"] == 2 and all(s["t0"] <= s["t1"] for s in t.spans)
